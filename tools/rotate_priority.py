#!/usr/bin/env python
"""Derive a verification order for the current round from recorded facts.

The registry no longer carries a ``_PRIORITY`` tuple (its order is
``_MODULES`` order), so nothing consumes this output; the tool and
``rotation.py`` await deletion with their tests.

Inputs (both already on disk — nothing hand-maintained):
* CORRECTNESS_r*.json        → last fully-green round per query;
* git history                → last round each query's source file changed,
  using the driver's "round N: verdict/advice/correctness/bench" commits as
  round boundaries (edits after the last boundary, committed or not, belong
  to the in-progress round).

A query's "source file" is its defining module plus that module's TRANSITIVE
in-package import closure: an edit to a shared helper (io.py, functions.py,
sources/, sinks/) can move the output of every query importing it, so those
queries go stale too — the round-7 stage_cached fix changed sources/
filestream.py and would otherwise have left every streaming query's green
standing (the round-4/5 staleness risk, generalized to helper modules).

Output: the ordered query tuple per rotation.derive_order (never-checked >
edited-since-green > oldest-green), printed as a Python ``_PRIORITY`` tuple,
with one comment line per tier boundary.

Usage: python tools/rotate_priority.py [--repo /root/repo]
         [--edited-fn q_a,q_b]   # OPTIONAL extra tier-1.0 names; the set is
                                 # auto-derived from git (a query's root defs
                                 # changed since its green — astdeps), so the
                                 # flag is a supplement, not a duty
         [--no-ast]              # file-granularity fallback (no proofs)
"""

from __future__ import annotations

import argparse
import ast
import glob
import importlib
import json
import os
import re
import subprocess
import sys

PKG = "hbase_observer_es_spark"


def _imports_of(repo: str, rel: str) -> set[str]:
    """Repo-relative paths of in-package files importing ``rel`` EXECUTES:
    every import statement's loaded target (import_targets — independent of
    alias binding, so `import a.b` and star imports count their real files)
    plus ancestor ``__init__.py`` files. Built on astdeps.ModuleView so the
    file-level closure and the definition-level proof share ONE import walker
    — they can never disagree about what a module depends on."""
    from hbase_observer_es_spark.astdeps import ModuleView

    with open(os.path.join(repo, rel)) as f:
        view = ModuleView.parse(rel, f.read(), _resolver(repo))
    if view is None:
        # Fail LOUD, matching astdeps' conservative direction: an unparseable
        # module can't claim an empty import closure — that would silently let
        # its dependents dodge import-staleness while the astdeps proof layer
        # independently treats the same file as affected.
        raise SyntaxError(f"unparseable in-package module: {rel}")
    out = set(view.import_targets)
    parts = rel.split("/")[:-1]
    while parts:
        init_rel = "/".join(parts) + "/__init__.py"
        if os.path.isfile(os.path.join(repo, init_rel)):
            out.add(init_rel)
        parts = parts[:-1]
    return out


def module_closure(repo: str, rel: str) -> set[str]:
    """``rel`` plus every in-package file it transitively imports."""
    seen: set[str] = set()
    stack = [rel]
    while stack:
        cur = stack.pop()
        if cur in seen:
            continue
        seen.add(cur)
        stack.extend(_imports_of(repo, cur) - seen)
    return seen


def registration_order_and_files(
    repo: str,
) -> tuple[list[str], dict[str, str], set[str]]:
    """Registration order, defining file per query, and the set of queries
    registered WITHOUT an oracle (rows-only by contract — the libm rule)."""
    sys.path.insert(0, repo)
    from hbase_observer_es_spark.registry import _MODULES

    names: list[str] = []
    files: dict[str, str] = {}
    rows_only: set[str] = set()
    for modname in _MODULES:
        mod = importlib.import_module(modname)
        rel = os.path.relpath(mod.__file__, repo)
        oracles = getattr(mod, "ORACLES", {})
        for name in getattr(mod, "QUERIES", {}):
            names.append(name)
            files[name] = rel
            if name not in oracles:
                rows_only.add(name)
    return names, files, rows_only


def last_green_rounds(repo: str, rows_only: set[str] | None = None) -> dict[str, int]:
    """Latest fully-green round per query. For queries that are rows-only BY
    CONTRACT (registered with no oracle — the documented libm rule), a
    recorded rows-only driver check (err == "no_oracle", spark rows counted)
    IS the maximal achievable check, so it counts as their green: otherwise
    they are permanently "never checked" and occupy two head-of-window slots
    every round for a check that can never upgrade. A query that HAS an
    oracle never gets credit from an old no-oracle record."""
    rows_only = rows_only or set()
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1))
        with open(path) as f:
            data = json.load(f)
        for q, v in data.items():
            green = (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match") is not False
                and not v.get("err")
            )
            if q in rows_only:
                green = green or (
                    v.get("err") == "no_oracle"
                    and v.get("spark_rows") is not None
                )
            if green:
                out[q] = max(out.get(q, 0), rnd)
    return out


def _git(repo: str, *args: str) -> str:
    return subprocess.run(
        ["git", "-C", repo, *args], capture_output=True, text=True, check=True
    ).stdout


def round_boundaries(repo: str) -> list[tuple[str, int]]:
    """Newest-first (sha, round) of the driver's round-boundary commits. The
    code AT a boundary commit is the state round N's driver check ran against."""
    log = _git(repo, "log", "--format=%H %s")
    boundaries: list[tuple[str, int]] = []
    for line in log.splitlines():
        sha, _, subject = line.partition(" ")
        m = re.match(r"round (\d+): verdict/advice/correctness/bench", subject)
        if m:
            boundaries.append((sha, int(m.group(1))))
    return boundaries


def file_edit_rounds(repo: str) -> dict[str, int]:
    """Map repo-relative path -> latest round in which it changed."""
    boundaries = round_boundaries(repo)
    edits: dict[str, int] = {}

    def record(paths: str, rnd: int) -> None:
        for p in paths.splitlines():
            if p:
                edits[p] = max(edits.get(p, 0), rnd)

    # in-progress round = last boundary round + 1: committed work after the
    # boundary plus anything dirty in the working tree
    current = (boundaries[0][1] + 1) if boundaries else 1
    if boundaries:
        record(_git(repo, "diff", "--name-only", boundaries[0][0], "HEAD"), current)
    dirty = "\n".join(
        line[3:] for line in _git(repo, "status", "--porcelain").splitlines() if line
    )
    record(dirty, current)
    for i, (sha, rnd) in enumerate(boundaries):
        older = boundaries[i + 1][0] if i + 1 < len(boundaries) else None
        rng = f"{older}..{sha}" if older else sha
        record(_git(repo, "log", "--name-only", "--format=", rng), rnd)
    return edits


def _resolver(repo: str):
    """Dotted in-package module parts -> repo-relative path (astdeps contract)."""

    def resolve(parts: list[str]):
        if not parts or parts[0] != PKG:
            return None
        base = os.path.join(repo, *parts)
        for cand in (base + ".py", os.path.join(base, "__init__.py")):
            if os.path.isfile(cand):
                return os.path.relpath(cand, repo)
        return None

    return resolve


def own_fn_edited(
    repo: str,
    names: list[str],
    files: dict[str, str],
    last_green: dict[str, int | None],
    file_rounds: dict[str, int],
) -> set[str]:
    """Auto-derive the tier-1.0 set: queries whose OWN root definitions (the
    registered fn / oracle SQL, via query_roots) changed between their last
    green boundary and now — what --edited-fn used to hand-feed. Conservative:
    an unresolvable registry entry or unparseable source counts as edited."""
    from hbase_observer_es_spark.astdeps import changed_defs, query_roots

    boundary_sha = {rnd: sha for sha, rnd in round_boundaries(repo)}
    out: set[str] = set()
    diff_cache: dict[tuple[str, str], set[str] | None] = {}
    for n in names:
        g = last_green.get(n)
        edited = file_rounds.get(files[n])
        if g is None or edited is None or edited <= g or g not in boundary_sha:
            continue
        rel, sha = files[n], boundary_sha[g]
        if (sha, rel) not in diff_cache:
            try:
                old = _git(repo, "show", f"{sha}:{rel}")
            except subprocess.CalledProcessError:
                old = None
            with open(os.path.join(repo, rel)) as fh:
                diff_cache[(sha, rel)] = changed_defs(old, fh.read())
        changed = diff_cache[(sha, rel)]
        with open(os.path.join(repo, rel)) as fh:
            roots = query_roots(fh.read(), n)  # (role, name) pairs
        root_names = {name for _role, name in roots} if roots else None
        if changed is None or root_names is None or (root_names & changed):
            out.add(n)
    return out


def proven_unaffected(
    repo: str,
    names: list[str],
    files: dict[str, str],
    last_green: dict[str, int | None],
    file_rounds: dict[str, int],
    import_round: dict[str, int | None],
) -> set[str]:
    """Tier-2 queries whose reachable definition closure is AST-identical to
    the source at their last green boundary (astdeps.is_affected; conservative
    on every uncertainty, including a missing boundary commit)."""
    from hbase_observer_es_spark.astdeps import DepGraph, is_affected

    boundary_sha = {rnd: sha for sha, rnd in round_boundaries(repo)}
    sources: dict[str, str] = {}
    for root, _, fnames in os.walk(os.path.join(repo, PKG)):
        for f in fnames:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p) as fh:
                    sources[os.path.relpath(p, repo)] = fh.read()
    graph = DepGraph(sources, _resolver(repo))

    old_cache: dict[tuple[str, str], str | None] = {}

    def old_src(sha: str, rel: str) -> str | None:
        if (sha, rel) not in old_cache:
            try:
                old_cache[(sha, rel)] = _git(repo, "show", f"{sha}:{rel}")
            except subprocess.CalledProcessError:
                old_cache[(sha, rel)] = None  # file didn't exist then
        return old_cache[(sha, rel)]

    out: set[str] = set()
    view_cache: dict = {}  # (rel, old_src) -> ModuleView; shared across queries
    for n in names:
        g = last_green.get(n)
        if g is None:
            continue
        edited = file_rounds.get(files[n])
        imported = import_round.get(n)
        stale = (edited is not None and edited > g) or (
            imported is not None and imported > g
        )
        if not stale or g not in boundary_sha:
            continue
        sha = boundary_sha[g]
        olds = {rel: old_src(sha, rel) for rel in sources}
        if not is_affected(graph, files[n], n, olds, old_view_cache=view_cache):
            out.add(n)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--edited-fn", default="", help="comma-separated query names")
    ap.add_argument(
        "--no-ast",
        action="store_true",
        help="skip the definition-level unaffected proof (file granularity only)",
    )
    args = ap.parse_args()
    repo = args.repo
    edited_fn = {n for n in args.edited_fn.split(",") if n}

    names, files, rows_only = registration_order_and_files(repo)
    greens = last_green_rounds(repo, rows_only)
    file_rounds = file_edit_rounds(repo)
    last_green = {n: greens.get(n) for n in names}
    if not args.no_ast:
        # auto-derived tier-1.0 (own root defs changed since green) unions with
        # any hand-fed names — --edited-fn is now a supplement, not a duty
        edited_fn |= own_fn_edited(repo, names, files, last_green, file_rounds)
    closures = {rel: module_closure(repo, rel) for rel in set(files.values())}

    def closure_round(rel: str) -> int | None:
        rounds = [
            file_rounds[f] for f in closures[rel] - {rel} if f in file_rounds
        ]
        return max(rounds) if rounds else None

    edit_round = {n: file_rounds.get(files[n]) for n in names}
    import_round = {n: closure_round(files[n]) for n in names}
    unaffected = (
        set()
        if args.no_ast
        else proven_unaffected(
            repo, names, files, last_green, file_rounds, import_round
        )
    ) - edited_fn

    from hbase_observer_es_spark.rotation import derive_order

    order = derive_order(
        names,
        last_green,
        edit_round,
        edited_functions=edited_fn,
        import_edit_round=import_round,
        unaffected=unaffected,
    )

    def tier_of(n: str) -> tuple[int, int]:
        # round-9 policy (rotation.py): proven-unchanged rows live in the
        # age-ordered band with untouched rows — one printed tier (2, 0)
        g, e, i = last_green[n], edit_round[n], import_round[n]
        if g is None:
            return (0, 0)
        if e is not None and e > g:
            if n in edited_fn:
                return (1, 0)
            return (2, 0) if n in unaffected else (1, 1)
        if i is not None and i > g:
            return (2, 0) if n in unaffected else (1, 2)
        return (2, 0)

    labels = {
        (0, 0): "never driver-checked",
        (1, 0): "own fn edited after last green check",
        (1, 1): "file edited after last green check (oldest green first)",
        (1, 2): "imported helper edited after last green check (oldest green first)",
        (2, 0): "age-ordered low-risk band: untouched, or edit with closure "
                "proven AST-unchanged (oldest green first)",
    }
    prev = None
    print("_PRIORITY = (")
    for n in order:
        t = tier_of(n)
        if t != prev:
            print(f"    # tier {t[0]}.{t[1]}: {labels[t]}")
            prev = t
        g = last_green[n]
        kind_green = "rows-only" if n in rows_only else "green"
        note = f"{kind_green} r{g}" if g else "never checked"
        g_, e_, i_ = last_green[n], edit_round[n], import_round[n]
        if g_ is not None and e_ is not None and e_ > g_:
            kind = "fn edited" if n in edited_fn else "file edited"
            note += f", {files[n]} {kind} r{e_}"
            if n in unaffected:
                note += ", closure AST-unchanged"
        elif g_ is not None and i_ is not None and i_ > g_:
            culprit = max(
                (f for f in closures[files[n]] - {files[n]} if f in file_rounds),
                key=lambda f: (file_rounds[f], f),  # path tiebreak: stable output
            )
            note += f", {culprit} import edited r{i_}"
            if n in unaffected:
                note += ", closure AST-unchanged"
        print(f'    "{n}",  # {note}')
    print(")")


if __name__ == "__main__":
    main()
