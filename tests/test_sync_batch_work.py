"""The Spark work of one sync micro-batch — parse, ``_bulk`` bodies, keyed
index merge — pinned: at most 5 jobs, one exchange per sink, and no cache
left behind, also when the merge fails."""

from __future__ import annotations

import glob

import pytest

from hbase_observer_es_spark.sinks.es_bulk import EsBulkSink
from hbase_observer_es_spark.sinks.keyed_parquet import KeyedParquetSink
from hbase_observer_es_spark.sources.hbase_rest import (
    encode_cellset,
    encode_delete,
    parse_change_log,
)

GROUP = "sync-batch-work"


def _batch(spark, t0: int):
    lines = [
        encode_cellset(
            f"k{i % 7}", [("cf:click", str(i), t0 + i), ("d:view", "v", t0 + i)]
        )
        for i in range(40)
    ] + [encode_delete("k1", t0 + 10), encode_delete("k2", t0 + 99)]
    return spark.createDataFrame([(ln,) for ln in lines], "value string")


def _recent_executions(spark, n: int = 20) -> list:
    """The last ``n`` SQL executions, in id order. Callers match them by id,
    not list position: past its retention limit the store drops the oldest."""
    store = spark._jsparkSession.sharedState().statusStore()
    recent = store.executionsList(max(0, store.executionsCount() - n), n)
    return [recent.apply(i) for i in range(recent.size())]


def _persisted(spark) -> set[int]:
    """Ids of the persisted RDDs. Compared as sets: in a shared session the
    context cleaner may release other tests' caches meanwhile."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _exchanges(spark, execution) -> int:
    graph = spark._jsparkSession.sharedState().statusStore().planGraph(
        execution.executionId()
    )
    nodes = graph.allNodes().iterator()
    n = 0
    while nodes.hasNext():
        n += nodes.next().name() == "Exchange"
    return n


def _run_batch(spark, bulk, index, batch_id: int) -> tuple[list[int], list[int]]:
    """One micro-batch under its own job group: (job ids, exchanges per
    executed plan, in execution order)."""
    sc = spark.sparkContext
    seen = max((e.executionId() for e in _recent_executions(spark)), default=-1)
    group = f"{GROUP}-{batch_id}"
    sc.setJobGroup(group, "one sync micro-batch")
    try:
        muts = parse_change_log(_batch(spark, 1000 * batch_id))
        bulk.write_batch(muts, batch_id)
        index.merge_batch(muts, batch_id)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    plans = [
        _exchanges(spark, e)
        for e in _recent_executions(spark)
        if e.executionId() > seen
    ]
    return list(sc.statusTracker().getJobIdsForGroup(group)), plans


def test_sync_batch_runs_five_jobs_one_exchange_per_sink(spark, tmp_path):
    bulk = EsBulkSink(str(tmp_path / "bulk"), n_partitions=2)
    index = KeyedParquetSink(str(tmp_path / "index"), n_partitions=4)
    persisted = _persisted(spark)
    # batch 0 merges into an empty index, batch 1 into the state batch 0 wrote
    for batch_id in (0, 1):
        jobs, plans = _run_batch(spark, bulk, index, batch_id)
        assert len(jobs) <= 5, jobs
        # the _bulk write, the cache-filling noop, the apply_tombstones merge
        assert plans == [1, 0, 1], plans
        assert _persisted(spark) <= persisted
    assert glob.glob(str(tmp_path / "bulk" / "batch=1" / "part-*"))
    assert index.read(spark).count() > 0


def test_failed_merge_releases_the_cached_batch(spark, tmp_path):
    """The merge write fails (its state file is corrupt) after the batch was
    cached: the cache is still released."""
    index = KeyedParquetSink(str(tmp_path / "index"), n_partitions=1)
    index.merge_batch(parse_change_log(_batch(spark, 0)), 0)
    for f in glob.glob(str(tmp_path / "index" / "v0" / "_p=0" / "*.parquet")):
        with open(f, "wb") as fh:
            fh.write(b"not parquet")
    persisted = _persisted(spark)
    with pytest.raises(Exception):
        index.merge_batch(parse_change_log(_batch(spark, 1000)), 1)
    assert _persisted(spark) <= persisted
    assert index._last_applied == 0  # the failed batch did not commit
