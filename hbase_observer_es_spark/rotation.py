"""Verification-window rotation policy, as code.

The external driver hash-checks only a bounded PREFIX (~50 rows) of the query
registry per round, so with 130+ registered queries the registry order IS the
verification schedule (registry.py). Hand-maintaining that order each round is
the failure mode this module removes: the policy is a pure function over two
facts that are already recorded elsewhere —

* ``last_green[q]``  — the latest round whose CORRECTNESS_r{N}.json shows the
  query fully green (rows+schema+hash), or None if never checked;
* ``file_edit_round[q]`` — the latest round in which the query's source FILE
  changed (file granularity on purpose: an edit anywhere in a module can move
  shared helpers under every query in it, which is exactly how the round-4/5
  staleness risk arose);
* ``import_edit_round[q]`` (optional) — the latest round in which any module in
  the defining file's transitive in-package import closure changed (a shared
  helper like io.py or sources/filestream.py can move every importer's output).

Policy (three tiers, the round-4/5 verdict wording, oldest risk first):

  1. never-checked      — no green row in any round; registration order.
  2. edited-since-green — source edited in a round strictly after the query's
                          last green check. Sub-ordered by edit proximity —
                          the closer the edit, the higher the risk: queries
                          whose OWN function changed (``edited_functions``,
                          hand-fed — output values may have moved), then
                          same-FILE neighbors, then import-closure staleness
                          (a helper the file imports changed); oldest green
                          first within each.
  3. oldest-green       — everything else, oldest green first.

Definition-level refinement (round 7, astdeps.py): file granularity
over-approximates — most cross-round edits here are ADDITIVE (new query
functions appended to existing modules), and with 170+ queries vs a ~50-row
driver window, a file-granular tier 2 lets provably-untouched rows crowd out
genuinely at-risk ones. ``unaffected`` names the edited-since-green queries
whose ENTIRE reachable definition closure (their function, their oracle-SQL
constant, every in-package def they transitively use — astdeps.is_affected,
conservative on any uncertainty) is AST-identical to the source at their last
green check.

Age-band refinement (round 9): proven-unaffected rows used to sit in a band
of their own, above every untouched row regardless of age. That starved the
oldest evidence: with most modules touched every round, dozens of
RECENTLY-green proven-unchanged rows outranked the oldest untouched greens
and the driver window never reached them (the r5 backlog the round-8 verdict
flagged). But a proven-unaffected row is — by the proof's own construction —
exactly as risky as an untouched row: its reachable closure is AST-identical
to what was last checked. Risk-equal rows should be ordered by evidence AGE,
so proven-unaffected rows now merge into the oldest-green band, interleaved
with untouched rows by last-green round; on an equal round, file-proven >
import-proven > untouched keeps the old preference (the file did change — a
refresh is marginally more informative). Possibly-AFFECTED rows (no proof)
still outrank the whole band: own-fn edited > file-edited affected >
import-edited affected.

Ties inside a tier keep registration order, so the schedule is deterministic
and the same-file neighbors of an edit stay adjacent. ``tools/rotate_priority.py``
derives both inputs (CORRECTNESS files + git round boundaries) and emits the
ordered tuple (no longer consumed by the registry).
"""

from __future__ import annotations


def derive_order(
    names: list[str],
    last_green: dict[str, int | None],
    file_edit_round: dict[str, int | None],
    edited_functions: set[str] | None = None,
    import_edit_round: dict[str, int | None] | None = None,
    unaffected: set[str] | None = None,
) -> list[str]:
    """Order ``names`` by the three-tier rotation policy.

    ``names`` carries the registration order used for intra-tier ties. A query
    missing from ``last_green`` (or mapped to None) is tier 1; a missing or
    None ``file_edit_round`` means "not edited since any check" (never tier 2).
    ``edited_functions`` lists queries whose own definition changed this round —
    inside the edited-since-green tier they verify before file neighbors, who
    in turn verify before queries stale only through ``import_edit_round``
    (a transitively imported helper changed — real risk, but weaker than an
    edit in the defining file itself). ``unaffected`` (astdeps proof, module
    docstring) moves edited-since-green rows into the age-ordered low-risk
    band shared with untouched rows — the proof certifies identical risk, so
    evidence age decides (round-9 refinement, module docstring); it never
    overrides ``edited_functions`` (a hand-declared own-fn edit outranks any
    proof).
    """
    reg_pos = {n: i for i, n in enumerate(names)}
    fn_edited = edited_functions or set()
    import_edits = import_edit_round or {}
    proven = (unaffected or set()) - fn_edited

    def key(n: str) -> tuple:
        green = last_green.get(n)
        edited = file_edit_round.get(n)
        imported = import_edits.get(n)
        if green is None:
            return (0, 0, 0, reg_pos[n])
        if edited is not None and edited > green:
            if n in fn_edited:
                return (1, 0, green, reg_pos[n])
            if n not in proven:
                return (1, 1, green, reg_pos[n])
            # proven-unchanged: age-ordered band; file-proof first on a tie
            return (2, green, 0, reg_pos[n])
        if imported is not None and imported > green:
            if n not in proven:
                return (1, 2, green, reg_pos[n])
            return (2, green, 1, reg_pos[n])
        return (2, green, 2, reg_pos[n])

    return sorted(names, key=key)
