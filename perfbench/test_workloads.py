"""Pins how the timing metrics pick the operations the host left alone. Run
from the repository root: ``python -m pytest perfbench -q``."""

from __future__ import annotations

from workloads import STEAL_LIMIT_PCT, calm, throughput, typical

LOW, HIGH = STEAL_LIMIT_PCT / 2, STEAL_LIMIT_PCT * 4


def test_calm_drops_stolen_operations_when_most_are_calm():
    ops = [("q", 1.0, 1, LOW), ("q", 1.2, 1, LOW), ("q", 5.0, 1, HIGH)]
    assert calm(ops) == ops[:2]


def test_calm_keeps_the_least_stolen_half_per_kind():
    ops = [("a", 1.0, 1, LOW), ("a", 2.0, 1, HIGH), ("a", 3.0, 1, HIGH + 1),
           ("b", 4.0, 1, HIGH + 2), ("b", 5.0, 1, HIGH)]
    assert sorted(calm(ops)) == [("a", 1.0, 1, LOW), ("a", 2.0, 1, HIGH),
                                 ("b", 5.0, 1, HIGH)]


def test_typical_averages_per_kind_medians_and_throughput_sums_work():
    ops = [("a", 1.0, 10, 0.0), ("a", 3.0, 10, 0.0), ("b", 10.0, 20, 0.0)]
    assert typical(ops) == (2.0 + 10.0) / 2
    assert throughput(ops) == 40 / 14.0
