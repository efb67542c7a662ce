"""KeyedParquetSink: partition-pruned merges and CDC semantics; the staged
shard-publication commit."""

from __future__ import annotations

import datetime as dt
import json
import os

from hbase_observer_es_spark.sinks.keyed_parquet import KeyedParquetSink
from hbase_observer_es_spark.sinks.staging import (
    commit_staged,
    prepare_staging,
    stage_blob,
)
from hbase_observer_es_spark.sources.filestream import scratch_dir

SCHEMA = "row_key string, qualifier string, value string, ts timestamp, op string"


def _t(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_merge_touches_only_affected_partitions(spark):
    out = scratch_dir("sink_partition_test")
    sink = KeyedParquetSink(out, n_partitions=16)
    batch1 = spark.createDataFrame(
        [(f"k{i}", "q", str(i), _t(i), "upsert") for i in range(20)], SCHEMA
    )
    sink.merge_batch(batch1, 0)
    v0_paths = dict(sink._current)
    assert all("/v0/" in p for p in v0_paths.values())

    batch2 = spark.createDataFrame([("k3", "q", "new", _t(99), "upsert")], SCHEMA)
    sink.merge_batch(batch2, 1)
    moved = {k: p for k, p in sink._current.items() if "/v1/" in p}
    stayed = {k: p for k, p in sink._current.items() if "/v0/" in p}
    # exactly the one partition containing k3 was rewritten; the rest still
    # point at their v0 version directories
    assert len(moved) == 1
    assert stayed and all(v0_paths[k] == p for k, p in stayed.items())

    rows = {(r.row_key, r.qualifier): r.value for r in sink.read(spark).collect()}
    assert rows[("k3", "q")] == "new" and len(rows) == 20


def test_tombstone_empties_partition(spark):
    out = scratch_dir("sink_tombstone_test")
    sink = KeyedParquetSink(out, n_partitions=4)
    sink.merge_batch(
        spark.createDataFrame([("a", "q", "1", _t(1), "upsert")], SCHEMA), 0
    )
    assert sink.read(spark).count() == 1
    sink.merge_batch(
        spark.createDataFrame([("a", "q", None, _t(2), "delete")], SCHEMA), 1
    )
    assert sink.read(spark).count() == 0


def test_restart_recovers_manifest(spark):
    """Exactly-once across driver restarts: a NEW sink object over the same
    base_dir resumes from the persisted manifest — the round-1 gap where a
    restart silently emptied read()."""
    out = scratch_dir("sink_restart_test")
    sink = KeyedParquetSink(out, n_partitions=8)
    sink.merge_batch(
        spark.createDataFrame(
            [(f"k{i}", "q", str(i), _t(i), "upsert") for i in range(10)], SCHEMA
        ),
        0,
    )
    sink.merge_batch(
        spark.createDataFrame(
            [("k3", "q", "updated", _t(50), "upsert"),
             ("k7", "q", None, _t(51), "delete")],
            SCHEMA,
        ),
        1,
    )
    expected = sorted(tuple(r) for r in sink.read(spark).collect())

    # driver restart: fresh object, same directory
    sink2 = KeyedParquetSink(out, n_partitions=8)
    assert sink2._current == sink._current
    assert sorted(tuple(r) for r in sink2.read(spark).collect()) == expected

    # checkpoint replays the last batch, then new work arrives — state converges
    sink2.merge_batch(
        spark.createDataFrame(
            [("k3", "q", "updated", _t(50), "upsert"),
             ("k7", "q", None, _t(51), "delete")],
            SCHEMA,
        ),
        1,
    )
    sink2.merge_batch(
        spark.createDataFrame([("k9", "q", "post-restart", _t(60), "upsert")], SCHEMA),
        2,
    )
    rows = {(r.row_key): r.value for r in sink2.read(spark).collect()}
    assert rows["k3"] == "updated" and rows["k9"] == "post-restart"
    assert "k7" not in rows and len(rows) == 9


def test_restart_rejects_repartition(spark):
    out = scratch_dir("sink_repartition_test")
    sink = KeyedParquetSink(out, n_partitions=8)
    sink.merge_batch(
        spark.createDataFrame([("a", "q", "1", _t(1), "upsert")], SCHEMA), 0
    )
    import pytest

    with pytest.raises(ValueError, match="n_partitions"):
        KeyedParquetSink(out, n_partitions=4)


def test_replay_committed_batch_is_noop(spark):
    """Replaying a COMMITTED batch under its ORIGINAL batch_id (what a
    checkpoint restart does) must be a no-op. Without the last_applied
    watermark, the replay overwrote the live v{batch_id} directory while its
    old_paths read from INSIDE that directory — destroying the version the
    manifest points to (observable with AQE off, or on a crash mid-replay)."""
    import os

    out = scratch_dir("sink_replay_committed_test")
    sink = KeyedParquetSink(out, n_partitions=4)
    sink.merge_batch(
        spark.createDataFrame(
            [(f"k{i}", "q", str(i), _t(i), "upsert") for i in range(8)], SCHEMA
        ),
        0,
    )
    b1 = [("k3", "q", "updated", _t(50), "upsert")]
    sink.merge_batch(spark.createDataFrame(b1, SCHEMA), 1)
    committed_paths = dict(sink._current)
    expected = sorted(tuple(r) for r in sink.read(spark).collect())

    # restart, then checkpoint replays batch 1 with the SAME id
    sink2 = KeyedParquetSink(out, n_partitions=4)
    assert sink2._last_applied == 1
    sink2.merge_batch(spark.createDataFrame(b1, SCHEMA), 1)
    assert sink2._current == committed_paths  # no repoint happened
    # every version directory the manifest references is still on disk
    assert all(os.path.isdir(p) for p in sink2._current.values())
    assert sorted(tuple(r) for r in sink2.read(spark).collect()) == expected

    # and genuinely NEW work after the replay still applies
    sink2.merge_batch(
        spark.createDataFrame([("k5", "q", "post", _t(60), "upsert")], SCHEMA), 2
    )
    rows = {r.row_key: r.value for r in sink2.read(spark).collect()}
    assert rows["k5"] == "post" and rows["k3"] == "updated" and len(rows) == 8


def test_replay_idempotent(spark):
    out = scratch_dir("sink_replay_test")
    sink = KeyedParquetSink(out, n_partitions=4)
    batch = spark.createDataFrame(
        [("a", "q", "1", _t(1), "upsert"), ("b", "q", "2", _t(2), "upsert")], SCHEMA
    )
    sink.merge_batch(batch, 0)
    once = sorted(tuple(r) for r in sink.read(spark).collect())
    sink.merge_batch(batch, 1)  # checkpoint replay of the same data
    twice = sorted(tuple(r) for r in sink.read(spark).collect())
    assert once == twice


def test_streaming_crash_restart_resumes_from_checkpoint(spark):
    """Kill the ACTUAL writeStream mid-run — after the sink merged a batch but
    before Structured Streaming committed it — then restart from the same
    checkpoint with a fresh session and a fresh sink object. The replayed batch
    flows through merge_batch as a committed-batch no-op (the real-path twin of
    test_replay_committed_batch_is_noop) and the final state must equal the
    batch q_cdc_tombstone snapshot."""
    import os

    from pyspark.errors import StreamingQueryException

    from hbase_observer_es_spark.operators.cdc import mutations, q_cdc_tombstone
    from hbase_observer_es_spark.sources.filestream import (
        read_stream,
        stage_ordered_batches,
    )
    from hbase_observer_es_spark.streaming.stateful import _streaming_session

    from .conftest import SF_SMOKE

    out = scratch_dir("stream_restart_test")
    mut = mutations(spark, SF_SMOKE)
    stream_dir = stage_ordered_batches(mut, out, 2)
    ckpt = os.path.join(out, "ckpt")
    table_dir = os.path.join(out, "table")

    sink = KeyedParquetSink(table_dir)

    def crashy(df, bid):
        sink.merge_batch(df, bid)
        if bid >= 1:
            raise RuntimeError("injected crash: merge done, stream commit not")

    sub = _streaming_session(spark)
    q = (
        read_stream(sub, stream_dir, mut.schema)
        .writeStream.foreachBatch(crashy)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        crashed = False
    except StreamingQueryException:
        crashed = True
    assert crashed, "injected crash did not surface"

    # driver restart: fresh isolated session, fresh sink object, same checkpoint
    spark2 = _streaming_session(spark)
    sink2 = KeyedParquetSink(table_dir)
    assert sink2._last_applied == 1  # the merge committed before the crash
    q2 = (
        read_stream(spark2, stream_dir, mut.schema)
        .writeStream.foreachBatch(sink2.merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    cols = ["row_key", "qualifier", "value", "ts"]
    got = sorted(tuple(r) for r in sink2.read(spark2).select(*cols).collect())
    want = sorted(
        tuple(r) for r in q_cdc_tombstone(spark, SF_SMOKE).select(*cols).collect()
    )
    assert got == want


def test_staged_commit_replaces_prior_publication(tmp_path):
    """A re-export sweeps the prior shard set, including shards a wider
    layout left, and installs the staged one; an export that stops before
    its commit leaves the published shards and manifest untouched."""
    out = str(tmp_path)
    for names in (["a.bin", "b.bin", "c.bin"], ["a.bin", "b.bin"]):
        staging = prepare_staging(out)
        for name in names:
            stage_blob(staging, name, name.encode())
        commit_staged(out, staging, names, ".bin", "manifest.json", {"n": len(names)})
    assert sorted(os.listdir(out)) == ["a.bin", "b.bin", "manifest.json"]
    stage_blob(prepare_staging(out), "a.bin", b"unfinished")
    with open(os.path.join(out, "a.bin"), "rb") as f:
        assert f.read() == b"a.bin"
    with open(os.path.join(out, "manifest.json")) as f:
        assert json.load(f) == {"n": 2}
