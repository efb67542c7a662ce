"""The three workloads. Each runs one client in a closed loop: the next
operation starts when the previous one has finished.

Every workload has the same shape: ``prepare`` (inputs, warm-up and the
correctness gate, all before the first timed operation), ``window`` (timed
operations for a given number of seconds) and ``finish`` (checks that need
the whole run). A window returns each operation's latency and, when traced,
the layer numbers of its spans. A traced window traces every other
operation, so traced and untraced operations share the same stretch of
warm-up and host load, and their difference is the tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import syncgen
from spans import Tracer, exec_metrics, span_sum_ms

# Each run pays a Spark start, one cold execution of every query (the
# correctness gate), an untimed warm-up pass and whole timed passes. A run
# has to stay near 60 s, set-up included, so that 22 runs of every workload
# fit in under an hour; that sets how many queries a workload can hold.
#
# `search`: the Elasticsearch query surface users run after sync, one query
# from each of eight of its modules. Each costs 0.2-1 s warm at sf0.1, so
# job, Catalyst and plan-build floors dominate and wire, state and heavy
# executor work are absent.
SEARCH_QUERIES = {
    "search": "q_search_phrase",
    "search_score": "q_search_function_score",
    "search_compound": "q_search_multimatch",
    "span": "q_search_span_near",
    "percolate": "q_search_percolate",
    "es_join": "q_join_has_child",
    "es_aggs": "q_agg_range",
    "es_aggs_final": "q_agg_derivative",
}
# `pipeline`: executor-bound operators, 2-3.5 s each warm at sf0.1: a
# label-propagation fixpoint, a Lloyd trainer built on pandas UDFs, and
# near-duplicate banding that launches jobs while its plan is built. The
# per-job floor is a small share of their time.
PIPELINE_QUERIES = {
    "graph": "q_graph_components",
    "similarity": "q_sim_ivf_trained",
    "dedup": "q_dedup_simhash_near",
}


# (kind, latency s, units of work: queries or mutations, host steal % during it)
Op = tuple[str, float, int, float]

# An operation during which the hypervisor took more than this share of the
# host's CPU time ran slow for a reason outside the code: on a shared virtual
# host, runs at 3-12% steal timed 1.2-2 times the calm median.
STEAL_LIMIT_PCT = 2.0


@dataclass
class Window:
    attempted: int = 0
    failed: int = 0
    ops: list[Op] = field(default_factory=list)  # untraced operations
    traced_ops: list[Op] = field(default_factory=list)
    passes_s: list[float] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    spans: list[dict] = field(default_factory=list)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100 * (after[0] - before[0]) / max(1, after[1] - before[1])


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _load_queries(modules: list[str]) -> tuple[dict, dict]:
    import importlib

    queries, oracles = {}, {}
    for mod_name in modules:
        mod = importlib.import_module(f"hbase_observer_es_spark.operators.{mod_name}")
        queries.update(mod.QUERIES)
        oracles.update(getattr(mod, "ORACLES", {}))
    return queries, oracles


class QueryWorkload:
    """Seeded-order passes over a fixed set of registered queries, each run
    to the noop sink. No streaming (``s_*``) query is in either set, so the
    engine's cross-process staging cache is never touched."""

    WARMUP_PASSES = 1  # untimed pass after the gate

    def __init__(self, spark, name: str, sf_dir: str, seed: int):
        self.spark, self.sf_dir = spark, sf_dir
        self.rng = random.Random(f"{name}/{seed}")
        chosen = SEARCH_QUERIES if name == "search" else PIPELINE_QUERIES
        queries, oracles = _load_queries(list(chosen))
        self.names = sorted(chosen.values())
        self.queries = {n: queries[n] for n in self.names}
        self.oracles = {n: oracles[n] for n in self.names if n in oracles}
        self.gate: dict[str, str] = {}
        self.gate_s: dict[str, float] = {}
        self.warm = Window()

    def prepare(self) -> tuple[int, int]:
        """Correctness gate, every query once, compared with its DuckDB
        oracle outside the timed passes; then the untimed warm-up passes."""
        from tests.oracle_harness import compare, duckdb_con

        con = duckdb_con(self.sf_dir)
        failed = 0
        try:
            for name in self.names:
                t0 = time.perf_counter()
                try:
                    df = self.queries[name](self.spark, self.sf_dir)
                    if name in self.oracles:
                        res = compare(name, df, con, self.oracles[name])
                        self.gate[name] = "ok" if res.ok else f"MISMATCH: {res.detail}"
                    else:
                        df.write.format("noop").mode("overwrite").save()
                        self.gate[name] = "ran (no oracle)"
                except Exception:  # one query failing must not hide the others
                    _log_failure(f"gate {name}")
                    self.gate[name] = "raised"
                if not self.gate[name].startswith(("ok", "ran")):
                    failed += 1
                self.gate_s[name] = time.perf_counter() - t0
        finally:
            con.close()
        warm = self.warm
        off = Tracer(self.spark, enabled=False)
        for _ in range(self.WARMUP_PASSES):
            self._pass(warm, off, off)
        return len(self.names) + warm.attempted, failed + warm.failed

    def window(self, seconds: float, tracer: Tracer) -> Window:
        """Whole passes, each in a fresh seeded order, until ``seconds``
        have passed: every pass holds the same queries, so medians do not
        depend on where the window happened to end."""
        w = Window()
        off = Tracer(self.spark, enabled=False)
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            self._pass(w, tracer, off)
        if tracer.enabled:
            tracer.resolve()
            w.spans = tracer.spans
            w.layers = exec_metrics(tracer, build=("build",), actions=("write",))
        return w

    def _pass(self, w: Window, tracer: Tracer, off: Tracer) -> None:
        order = list(self.names)
        self.rng.shuffle(order)
        pass_start = time.perf_counter()
        for name in order:
            traced = tracer.enabled and w.attempted % 2 == 0
            tr = tracer if traced else off
            w.attempted += 1
            ticks0 = cpu_ticks()
            t0 = time.perf_counter()
            try:
                tr.watch(self.spark)
                with tr.span("query", op=name):
                    with tr.span("build"):
                        df = self.queries[name](self.spark, self.sf_dir)
                    with tr.span("write"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:
                _log_failure(f"query {name}")
                w.failed += 1
                continue
            op = (name, time.perf_counter() - t0, 1, steal_pct(ticks0, cpu_ticks()))
            (w.traced_ops if traced else w.ops).append(op)
        w.passes_s.append(time.perf_counter() - pass_start)

    def finish(self) -> tuple[int, int, dict]:
        return 0, 0, {"gate": self.gate, "gate_s": self.gate_s,
                      "warmup_passes_s": self.warm.passes_s}


class SyncWorkload:
    """The reference's CDC path: a seeded HBase REST change log replayed by a
    Structured Streaming text source, one file per trigger, into
    ``foreachBatch``: parse, ``_bulk`` bodies, keyed index-state merge, then
    synthetic bulk responses retried selectively until clean. The client
    publishes the next file when the previous batch has committed."""

    WARMUP_BATCHES = 6
    MAX_ATTEMPTS = 30

    def __init__(self, spark, root: str, seed: int):
        from hbase_observer_es_spark.sinks.es_bulk import EsBulkSink
        from hbase_observer_es_spark.sinks.keyed_parquet import KeyedParquetSink

        self.spark, self.root, self.seed = spark, root, seed
        self.log = syncgen.ChangeLog(seed)
        self.batches: list[syncgen.Batch] = []
        self.outcomes: dict[int, dict] = {}
        self.bulk = EsBulkSink(os.path.join(root, "bulk"))
        self.index = KeyedParquetSink(os.path.join(root, "index"))
        self.source = os.path.join(root, "source")
        self.off = Tracer(spark, enabled=False)
        self.tracer = self.off
        self.query = None
        self.state_rows = 0
        self.steal: dict[int, float] = {}  # batch index -> host steal % while it ran

    # -- the pipeline, run by Spark once per micro-batch ----------------------
    def _process(self, batch_df, batch_id: int) -> None:
        from hbase_observer_es_spark.sources.hbase_rest import parse_change_log

        tr = self.tracer
        tr.watch(batch_df.sparkSession)
        with tr.span("batch", op=batch_id):
            with tr.span("build"):
                muts = parse_change_log(batch_df)
            with tr.span("wire.bulk_write"):
                self.bulk.write_batch(muts, batch_id)
            with tr.span("state.merge"):
                self.index.merge_batch(muts, batch_id)
            with tr.span("retry"):
                self.outcomes[batch_id] = self._send(batch_id)

    def _send(self, batch_id: int) -> dict:
        """POST every body of the batch to the synthetic ES and re-send the
        retryable items until every body is clean."""
        from hbase_observer_es_spark.sinks.es_bulk_response import selective_retry_body

        out = {"bodies": 0, "actions": 0, "bytes": 0, "sent": 0, "retries": 0,
               "converged": True}
        files = sorted(glob.glob(os.path.join(self.bulk.batch_dir(batch_id), "part-*")))
        for body_index, path in enumerate(files):
            with open(path) as f:
                body = f.read()
            if not body:
                continue
            out["bodies"] += 1
            out["bytes"] += len(body.encode())
            attempt = 0
            while body is not None:
                if attempt == self.MAX_ATTEMPTS:
                    out["converged"] = False
                    break
                response, n_items = syncgen.synth_response(
                    body, self.seed, batch_id, body_index, attempt)
                if attempt == 0:
                    out["actions"] += n_items
                else:
                    out["retries"] += 1
                out["sent"] += n_items
                body, dead = selective_retry_body(body, response)
                if dead:
                    out["converged"] = False
                attempt += 1
        return out

    # -- the client ----------------------------------------------------------
    def _publish_and_wait(self) -> None:
        batch = self.log.next_batch()
        self.batches.append(batch)
        tmp = os.path.join(self.root, f".{batch.index:06d}.ndjson")
        with open(tmp, "w") as f:
            f.write("\n".join(batch.lines) + "\n")
        ticks0 = cpu_ticks()
        os.rename(tmp, os.path.join(self.source, f"batch-{batch.index:06d}.ndjson"))
        self.query.processAllAvailable()
        self.steal[batch.index] = steal_pct(ticks0, cpu_ticks())

    def prepare(self) -> tuple[int, int]:
        os.makedirs(self.source)
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        self.query = (
            self.spark.readStream.option("maxFilesPerTrigger", 1)
            .text(self.source)
            .writeStream.foreachBatch(self._process)
            .option("checkpointLocation", os.path.join(self.root, "checkpoint"))
            .start()
        )
        for _ in range(self.WARMUP_BATCHES):
            self._publish_and_wait()
        return self.WARMUP_BATCHES, 0

    def window(self, seconds: float, tracer: Tracer) -> Window:
        w = Window()
        first = len(self.batches)
        traced_ids = set()
        deadline = time.perf_counter() + seconds
        try:
            while time.perf_counter() < deadline:
                if tracer.enabled and w.attempted % 2 == 0:
                    traced_ids.add(len(self.batches))
                    self.tracer = tracer
                else:
                    self.tracer = self.off
                w.attempted += 1
                self._publish_and_wait()
        except Exception:
            _log_failure("sync batch")
            w.failed += 1
        finally:
            self.tracer = self.off
        progress = {
            p.batchId: p.durationMs for p in self.query.recentProgress if p.numInputRows > 0
        }
        for i in range(first, len(self.batches)):
            if i in progress:
                op = ("batch", progress[i]["triggerExecution"] / 1000.0,
                      len(self.batches[i].mutations), self.steal[i])
                (w.traced_ops if i in traced_ids else w.ops).append(op)
        if tracer.enabled:
            timed = sorted(traced_ids & set(progress))
            tracer.resolve()
            w.spans = tracer.spans
            w.layers = exec_metrics(
                tracer, build=("build",), actions=("wire.bulk_write", "state.merge"))
            dur = [progress[i] for i in timed]
            add = sum(d.get("addBatch", 0) for d in dur)
            trig_ms = sum(d.get("triggerExecution", 0) for d in dur)
            sent = sum(self.outcomes[i]["sent"] for i in timed)
            unique = sum(self.outcomes[i]["actions"] for i in timed)
            w.layers.update({
                "stream.trigger_ms": trig_ms,
                "stream.add_batch_ms": add,
                "stream.overhead_ms": trig_ms - add,
                "stream.wal_commit_ms": sum(d.get("walCommit", 0) for d in dur),
                "wire.bulk_write_ms": span_sum_ms(tracer, "wire.bulk_write"),
                "wire.bulk_actions": unique,
                "wire.bulk_bodies": sum(self.outcomes[i]["bodies"] for i in timed),
                "wire.bulk_bytes": sum(self.outcomes[i]["bytes"] for i in timed),
                "state.merge_ms": span_sum_ms(tracer, "state.merge"),
                "retry.ms": span_sum_ms(tracer, "retry"),
                "retry.rounds": sum(self.outcomes[i]["retries"] for i in timed),
                "retry.actions": sent - unique,
                "retry.amplification": sent / unique if unique else 0.0,
            })
        return w

    def finish(self) -> tuple[int, int, dict]:
        """Stop the stream, then check the run: final index state against the
        model, ``_bulk`` action count against the generator, retries
        converged. Returns (checks, failed checks, detail)."""
        from pyspark.sql import functions as F

        if self.query is not None:
            self.query.stop()
        n = len(self.outcomes)
        batches = self.batches[:n]
        expected: syncgen.State = {}
        for b in batches:
            expected = syncgen.apply_batch(expected, b.mutations)
        rows = (
            self.index.read(self.spark)
            .select("row_key", "qualifier", "value", F.unix_millis("ts").alias("ts"))
            .collect()
        )
        actual = {(r.row_key, r.qualifier): (r.ts, r.value) for r in rows}
        want_actions = sum(b.n_actions for b in batches)
        got_actions = sum(o["actions"] for o in self.outcomes.values())
        checks = {
            "batches_in_order": sorted(self.outcomes) == list(range(n)),
            "state_equals_model": len(rows) == len(actual) and actual == expected,
            "bulk_action_count": got_actions == want_actions,
            "retries_converged": all(o["converged"] for o in self.outcomes.values()),
        }
        detail = {
            "checks": checks,
            "batches": n,
            "state_rows": len(rows),
            "bulk_actions": [got_actions, want_actions],
        }
        self.state_rows = len(rows)
        return len(checks), sum(not ok for ok in checks.values()), detail

    def state_files(self) -> int:
        with open(os.path.join(self.index.base_dir, "_MANIFEST.json")) as f:
            current = json.load(f)["current"].values()
        return sum(
            len(glob.glob(os.path.join(self.index.base_dir, rel, "*.parquet")))
            for rel in current
        )


def calm(ops: list[Op]) -> list[Op]:
    """The operations the host slowed least: per kind, those at or under
    ``STEAL_LIMIT_PCT`` steal or, when that is under half of the kind's
    operations, the half with the least steal."""
    by_kind: dict[str, list[Op]] = {}
    for op in ops:
        by_kind.setdefault(op[0], []).append(op)
    kept = []
    for group in by_kind.values():
        low = [op for op in group if op[3] <= STEAL_LIMIT_PCT]
        if 2 * len(low) < len(group):
            low = sorted(group, key=lambda op: op[3])[: (len(group) + 1) // 2]
        kept += low
    return kept


def typical(ops: list[Op]) -> float:
    """Median latency of each kind of operation, averaged over the kinds.
    Queries of different cost form separate clusters, and a plain median
    over all of them jumps between clusters; every batch is one kind."""
    by_kind: dict[str, list[float]] = {}
    for kind, latency, *_ in ops:
        by_kind.setdefault(kind, []).append(latency)
    return statistics.fmean(statistics.median(v) for v in by_kind.values())


def throughput(ops: list[Op]) -> float:
    """Units of work per second of operation time."""
    return sum(op[2] for op in ops) / sum(op[1] for op in ops)
