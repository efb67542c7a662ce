"""Seeded input, expected-state model and ES response stand-in for the `sync`
workload. Pure Python: nothing here imports Spark or the engine, so the checks
built on it are independent of the code they check.

* ``ChangeLog`` writes an HBase REST change log, batch by batch: cell-set
  lines for Puts and delete lines for row deletes, in arrival order.
* ``apply_batch`` folds one batch into the expected index state with the
  rules of ``SQL_CDC_TOMBSTONE`` (last write wins per cell, ties broken by
  the larger value; a row delete wins a timestamp tie; an upsert newer than
  the delete re-creates the document). Batches fold one after another, as
  the keyed sink merges them.
* ``synth_response`` plays the Elasticsearch side of a ``_bulk`` call: one
  item per action, in request order, a seeded share of them 429/5xx.
"""

from __future__ import annotations

import base64
import json
import random
from dataclasses import dataclass

# Where each value comes from. "Fixture" is the engine's own CDC fixture: the
# `mutations` view over sf0.1 `events` (FIXTURES.md), whose 100 000 events
# have 1 500 row keys, five qualifiers and 19.8% deletes (`event_type =
# 'error'`). "Reference" is the HBase coprocessor the engine reproduces
# (SURVEY.md, A9-A11). Values marked "assumption" have no source: the fixture
# is uniform, single-cell and in order, and the reference records no traffic,
# so they only give each dimension the workload must exercise a moderate,
# seeded range.
QUALIFIERS = ("click", "error", "purchase", "signup", "view")  # fixture
# two column families, so same-qualifier cells from different families
# collide once the family is dropped (the reference flattens families)
FAMILIES = ("cf", "d")
MAX_BULK_ACTIONS = 10_000  # reference: MAX_BULK_COUNT, the bulk flush cap
EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, the fixture's first day

# Each knob is drawn per batch from a fixed range, so every seed sees the same
# mix and only the draws differ: metrics stay comparable across seeds. The
# batch size is the exception: it is fixed, because a run holds only a few
# batches and their sizes would otherwise dominate the run's throughput.
N_KEYS = 1_500  # fixture
# reference: a batch is what one 10 s timed flush collects, at the 1.2k
# mutations/s the engine's sync path sustains on 4 cores. Puts carry several
# cells, so this stays under MAX_BULK_ACTIONS (about 5 000 actions).
BATCH_MUTATIONS = 12_000  # cells + deletes per batch (a Put may overshoot)
DELETE_SHARE = (0.15, 0.25)  # fixture: 19.8%
HOT_KEYS = 64  # assumption
HOT_SHARE = (0.1, 0.6)  # assumption: key skew, share of events on the hot keys
CELLS_PER_PUT = (1, 5)  # assumption: the fixture has one cell per mutation
TIE_SHARE = 0.05  # assumption: event reuses its key's last timestamp
LATE_SHARE = 0.08  # assumption: event arrives up to LATE_MS behind the clock
LATE_MS = 4_000  # assumption
FAIL_SHARE = (0.01, 0.1)  # assumption: retryable share of bulk response items


@dataclass(frozen=True)
class Mutation:
    row_key: str
    qualifier: str | None
    value: str | None
    op: str  # "upsert" | "delete"
    ts_ms: int


@dataclass(frozen=True)
class Batch:
    index: int
    lines: list[str]
    mutations: list[Mutation]

    @property
    def n_actions(self) -> int:
        """``_bulk`` actions the batch must produce: one ``update`` per
        distinct (row, timestamp) Put and one ``delete`` per delete."""
        puts = {(m.row_key, m.ts_ms) for m in self.mutations if m.op == "upsert"}
        return len(puts) + sum(m.op == "delete" for m in self.mutations)


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def cellset_line(row_key: str, cells: list[tuple[str, str, int]]) -> str:
    """One Put in HBase REST cell-set JSON; ``cells`` are
    ``(family:qualifier, value, ts_ms)``."""
    return json.dumps(
        {"Row": [{"key": _b64(row_key), "Cell": [
            {"column": _b64(c), "timestamp": ts, "$": _b64(v)} for c, v, ts in cells
        ]}]},
        separators=(",", ":"),
    )


def delete_line(row_key: str, ts_ms: int) -> str:
    return json.dumps({"delete": _b64(row_key), "timestamp": ts_ms}, separators=(",", ":"))


class ChangeLog:
    """Deterministic change-log generator: ``next_batch()`` returns batch 0,
    1, 2, ... and the same seed always yields the same sequence."""

    def __init__(self, seed: int):
        self.seed = seed
        self._index = 0
        self._clock = EPOCH_MS
        self._last_ts: dict[str, int] = {}

    def next_batch(self) -> Batch:
        rng = random.Random(f"sync/{self.seed}/{self._index}")
        hot_share = rng.uniform(*HOT_SHARE)
        delete_share = rng.uniform(*DELETE_SHARE)
        lines: list[str] = []
        muts: list[Mutation] = []
        while len(muts) < BATCH_MUTATIONS:
            if rng.random() < hot_share:
                key = f"row{rng.randrange(HOT_KEYS):06d}"
            else:
                key = f"row{rng.randrange(N_KEYS):06d}"
            self._clock += rng.randint(0, 3)
            ts = self._clock
            r = rng.random()
            if r < TIE_SHARE and key in self._last_ts:
                ts = self._last_ts[key]
            elif r < TIE_SHARE + LATE_SHARE:
                ts = max(EPOCH_MS, ts - rng.randint(1, LATE_MS))
            self._last_ts[key] = ts
            if rng.random() < delete_share:
                lines.append(delete_line(key, ts))
                muts.append(Mutation(key, None, None, "delete", ts))
                continue
            cells = []
            for _ in range(rng.randint(*CELLS_PER_PUT)):
                fam, qual = rng.choice(FAMILIES), rng.choice(QUALIFIERS)
                val = f"v{rng.randrange(1000):03d}"
                cells.append((f"{fam}:{qual}", val, ts))
                muts.append(Mutation(key, qual, val, "upsert", ts))
            lines.append(cellset_line(key, cells))
        batch = Batch(self._index, lines, muts)
        if batch.n_actions > MAX_BULK_ACTIONS:
            raise ValueError(f"batch {self._index} exceeds the bulk cap")
        self._index += 1
        return batch


State = dict[tuple[str, str], tuple[int, str]]  # (row, qualifier) -> (ts_ms, value)


def apply_batch(state: State, mutations: list[Mutation]) -> State:
    """Expected index state after merging one batch into ``state``."""
    cells = dict(state)
    deleted_at: dict[str, int] = {}
    for m in mutations:
        if m.op == "delete":
            deleted_at[m.row_key] = max(m.ts_ms, deleted_at.get(m.row_key, m.ts_ms))
            continue
        cand = (m.ts_ms, m.value)
        if cand > cells.get((m.row_key, m.qualifier), (-1, "")):
            cells[(m.row_key, m.qualifier)] = cand
    return {
        kq: tv for kq, tv in cells.items()
        if kq[0] not in deleted_at or tv[0] > deleted_at[kq[0]]
    }


_VERBS = ("update", "delete", "index", "create")


def body_actions(body: str) -> list[tuple[str, str]]:
    """``(verb, _id)`` of each action in a ``_bulk`` request body."""
    out = []
    lines = [ln for ln in body.split("\n") if ln]
    i = 0
    while i < len(lines):
        meta = json.loads(lines[i])
        verb = next(v for v in _VERBS if v in meta)
        out.append((verb, meta[verb]["_id"]))
        i += 1 if verb == "delete" else 2
    return out


def fail_share(seed: int, batch_index: int) -> float:
    return random.Random(f"fail/{seed}/{batch_index}").uniform(*FAIL_SHARE)


def synth_response(body: str, seed: int, batch_index: int, body_index: int,
                   attempt: int) -> tuple[str, int]:
    """A ``_bulk`` response for ``body`` and its item count: items in request
    order, a seeded share failing with 429 or 5xx (all retryable), the rest
    succeeding."""
    rng = random.Random(f"resp/{seed}/{batch_index}/{body_index}/{attempt}")
    share = fail_share(seed, batch_index)
    items = []
    for verb, doc_id in body_actions(body):
        item = {"_index": "hbase_observer", "_id": doc_id}
        if rng.random() < share:
            status = rng.choice((429, 500, 503))
            item.update(status=status, error={
                "type": "es_rejected_execution_exception" if status == 429
                else "unavailable_shards_exception",
                "reason": "synthetic"})
        else:
            item.update(status=200, result="deleted" if verb == "delete" else "updated")
        items.append({verb: item})
    errors = any("error" in next(iter(it.values())) for it in items)
    return json.dumps({"took": 1, "errors": errors, "items": items}), len(items)
