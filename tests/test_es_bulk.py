"""EsBulkSink: byte-level ``_bulk`` NDJSON wire format, the 10k action cap,
and the per-key ordering contract — verified without an ES server by parsing
the emitted request bodies (the format is the public ES REST ``_bulk`` API)."""

from __future__ import annotations

import datetime as dt
import glob
import json

from hbase_observer_es_spark.sinks.es_bulk import (
    EsBulkSink,
    bulk_actions,
    write_bulk,
)
from hbase_observer_es_spark.sources.filestream import scratch_dir

SCHEMA = "row_key string, qualifier string, value string, op string, ts timestamp"


def _t(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _parse_bodies(out_dir: str) -> list[list[dict]]:
    """Each part file is one bulk request body: parse to a list of JSON lines."""
    bodies = []
    for f in sorted(glob.glob(f"{out_dir}/part-*")):
        with open(f) as fh:
            lines = [json.loads(ln) for ln in fh if ln.strip()]
        if lines:
            bodies.append(lines)
    return bodies


def test_update_action_wire_format(spark):
    """A multi-cell Put becomes ONE update action: metadata line then a
    qualifier-sorted partial doc with doc_as_upsert — the NDJSON twin of
    HbaseDataSyncEsObserver.java:85-87."""
    mut = spark.createDataFrame(
        [
            ("u1", "view", "3", "upsert", _t(1)),
            ("u1", "click", "7", "upsert", _t(1)),  # same Put (same ts)
        ],
        SCHEMA,
    )
    rows = bulk_actions(mut, index="idx").collect()
    assert len(rows) == 1 and rows[0].op == "upsert"
    meta_line, doc_line = rows[0].action.split("\n")
    assert json.loads(meta_line) == {"update": {"_index": "idx", "_id": "u1"}}
    doc = json.loads(doc_line)
    assert doc == {"doc": {"click": "7", "view": "3"}, "doc_as_upsert": True}
    # qualifier-sorted emission, not collect_list arrival order
    assert list(doc["doc"]) == ["click", "view"]


def test_delete_action_and_put_boundaries(spark):
    """Deletes are single-line actions; distinct timestamps = distinct Puts =
    distinct update actions (the per-RPC granularity of the coprocessor)."""
    mut = spark.createDataFrame(
        [
            ("u1", "view", "1", "upsert", _t(1)),
            ("u1", "view", "2", "upsert", _t(2)),
            ("u1", "error", None, "delete", _t(3)),
        ],
        SCHEMA,
    )
    rows = {(r.op, r.ts): r.action for r in bulk_actions(mut, index="i").collect()}
    assert len(rows) == 3
    assert json.loads(rows[("delete", _t(3))]) == {
        "delete": {"_index": "i", "_id": "u1"}
    }


def test_json_escaping_roundtrips(spark):
    """Values with quotes, backslashes, newlines and non-ASCII must survive —
    to_json does the escaping JVM-side."""
    nasty = 'say "hi"\\\n\tcafé'
    mut = spark.createDataFrame([("k", "q", nasty, "upsert", _t(1))], SCHEMA)
    action = bulk_actions(mut).collect()[0].action
    # the payload splits into exactly 2 NDJSON lines despite the raw newline
    lines = action.split("\n")
    assert len(lines) == 2
    assert json.loads(lines[1])["doc"]["q"] == nasty


def test_bulk_cap_and_key_ordering(spark):
    """No request body exceeds max_actions, and within every body one key's
    actions appear in ts order (the reference's exact ordering exposure:
    a key may straddle bodies only at the cap boundary)."""
    muts = [(f"k{i % 7}", "view", str(i), "upsert", _t(i)) for i in range(100)]
    mut = spark.createDataFrame(muts, SCHEMA)
    out = scratch_dir("es_bulk_cap_test")
    write_bulk(mut, out, max_actions=10, n_partitions=3)
    bodies = _parse_bodies(out)
    assert bodies and all(
        sum(1 for ln in body if "update" in ln or "delete" in ln) <= 10
        for body in bodies
    )
    # total actions preserved: 100 mutations = 100 Puts (unique ts per key)
    assert sum(sum(1 for ln in b if "update" in ln) for b in bodies) == 100
    # per-key ts order within each body
    for body in bodies:
        seen: dict[str, str] = {}
        for meta, doc in zip(body[0::2], body[1::2]):
            key = meta["update"]["_id"]
            val = doc["doc"]["view"]
            if key in seen:
                assert int(seen[key]) < int(val)
            seen[key] = val


def test_foreachbatch_sink_writes_batch_dirs(spark):
    """EsBulkSink.write_batch lands each micro-batch as its own directory of
    request bodies; a replayed batch id overwrites idempotently."""
    sink = EsBulkSink(scratch_dir("es_bulk_stream_test"), index="obs")
    b0 = spark.createDataFrame([("a", "q", "1", "upsert", _t(1))], SCHEMA)
    b1 = spark.createDataFrame([("a", "q", None, "delete", _t(2))], SCHEMA)
    sink.write_batch(b0, 0)
    sink.write_batch(b1, 1)
    sink.write_batch(b0, 0)  # checkpoint replay
    assert _parse_bodies(sink.batch_dir(0))[0][0]["update"]["_id"] == "a"
    assert _parse_bodies(sink.batch_dir(1))[0][0]["delete"]["_id"] == "a"
    # replay produced the same single body, not an append
    assert len(_parse_bodies(sink.batch_dir(0))) == 1


def test_streaming_delivery_end_to_end(spark):
    """The reference's full delivery path, streaming: mutation log →
    micro-batches → EsBulkSink foreachBatch → one directory of _bulk bodies
    per batch. Applying every emitted action in (batch, file-order) sequence
    to a dict — an in-memory stand-in for the ES index — must reproduce the
    batch tombstone snapshot's keyset semantics: doc_as_upsert merges, delete
    drops the whole doc."""
    import os

    from hbase_observer_es_spark.operators.cdc import mutations
    from hbase_observer_es_spark.sources.filestream import (
        read_stream,
        stage_ordered_batches,
    )

    from .conftest import SF_SMOKE

    out = scratch_dir("es_bulk_e2e_test")
    mut = mutations(spark, SF_SMOKE)
    stream_dir = stage_ordered_batches(mut, out, 3)
    sink = EsBulkSink(os.path.join(out, "bulk"), index="obs", n_partitions=2)

    q = (
        read_stream(spark, stream_dir, mut.schema)
        .writeStream.foreachBatch(sink.write_batch)
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch_dirs = sorted(
        (d for d in os.listdir(os.path.join(out, "bulk")) if d.startswith("batch=")),
        key=lambda d: int(d.split("=")[1]),
    )
    assert len(batch_dirs) >= 2, "staging should replay multiple micro-batches"

    index: dict[str, dict] = {}
    n_actions = 0
    for bd in batch_dirs:
        for body in _parse_bodies(os.path.join(out, "bulk", bd)):
            i = 0
            while i < len(body):
                line = body[i]
                if "delete" in line:
                    index.pop(line["delete"]["_id"], None)
                    i += 1
                else:
                    doc = body[i + 1]["doc"]
                    index.setdefault(line["update"]["_id"], {}).update(doc)
                    i += 2
                n_actions += 1

    # the replayed index must match the engine's own batch CDC semantics:
    # upsert keys minus keys whose LAST action was a tombstone
    from hbase_observer_es_spark.operators.cdc import apply_tombstones

    expected = {
        r.row_key for r in apply_tombstones(mutations(spark, SF_SMOKE)).collect()
    }
    assert set(index) == expected
    assert n_actions > 0


def test_json_escaping_adversarial_corpus(spark):
    """Every value string must round-trip through the emitted NDJSON — one
    batched Spark job over an adversarial corpus (quotes, backslashes, control
    characters, embedded newlines, non-ASCII, JSON-lookalike payloads)."""
    corpus = [
        "", " ", "\n", "\r\n", "\t", '"', "\\", '\\"',
        "a\nb\nc", 'x"y\\z', "é漢字\U0001f642", "}{][",
        '{"k":"v"}', "", "trailing\\", '"""', "\\n literal",
    ]
    rows = [(f"k{i}", "q", v, "upsert", _t(i)) for i, v in enumerate(corpus)]
    mut = spark.createDataFrame(rows, SCHEMA)
    got = {}
    for r in bulk_actions(mut, index="i").collect():
        meta, doc = r.action.split("\n", 1)
        got[json.loads(meta)["update"]["_id"]] = json.loads(doc)["doc"]["q"]
    for i, v in enumerate(corpus):
        assert got[f"k{i}"] == v, repr(v)


def test_same_ts_delete_orders_last_and_wins(spark):
    """An upsert and a delete of the same key at the same ts: the delete
    sorts LAST in the body (later action wins in ES), matching
    apply_tombstones' delete-wins-ties rule (`ts > del_ts`)."""
    mut = spark.createDataFrame(
        [
            ("k1", "view", "1", "upsert", _t(5)),
            ("k1", "error", None, "delete", _t(5)),
        ],
        SCHEMA,
    )
    out = scratch_dir("es_bulk_tie_test")
    write_bulk(mut, out, n_partitions=1)
    (body,) = _parse_bodies(out)
    # update meta, update doc, delete — delete strictly after the upsert
    assert "update" in body[0] and "delete" in body[-1]


def test_streaming_crash_restart_replays_idempotently(spark):
    """Kill the stream after a batch's bulk bodies are written but before
    Structured Streaming commits it, then restart from the same checkpoint:
    the replayed batch OVERWRITES its directory (no duplicate bodies) and the
    final action set equals an uninterrupted run's."""
    import os

    from pyspark.errors import StreamingQueryException

    from hbase_observer_es_spark.operators.cdc import mutations
    from hbase_observer_es_spark.sources.filestream import (
        read_stream,
        stage_ordered_batches,
    )

    from .conftest import SF_SMOKE

    out = scratch_dir("es_bulk_restart_test")
    mut = mutations(spark, SF_SMOKE)
    stream_dir = stage_ordered_batches(mut, out, 2)
    ckpt = os.path.join(out, "ckpt")
    sink = EsBulkSink(os.path.join(out, "bulk"), index="obs", n_partitions=1)

    def crashy(df, bid):
        sink.write_batch(df, bid)
        if bid >= 1:
            raise RuntimeError("injected crash: bodies written, commit not")

    q = (
        read_stream(spark, stream_dir, mut.schema)
        .writeStream.foreachBatch(crashy)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    crashed = False
    try:
        q.awaitTermination()
    except StreamingQueryException:
        crashed = True
    assert crashed, "injected crash did not surface"

    spark2 = spark.newSession()
    sink2 = EsBulkSink(os.path.join(out, "bulk"), index="obs", n_partitions=1)
    q2 = (
        read_stream(spark2, stream_dir, mut.schema)
        .writeStream.foreachBatch(sink2.write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    # every staged mutation appears exactly once across the batch dirs
    total = 0
    for bd in os.listdir(os.path.join(out, "bulk")):
        for body in _parse_bodies(os.path.join(out, "bulk", bd)):
            total += sum(1 for ln in body if "update" in ln or "delete" in ln)
    n_upserts = mut.filter("op = 'upsert'").select("row_key", "ts").distinct().count()
    n_deletes = mut.filter("op = 'delete'").count()
    assert total == n_upserts + n_deletes


GOLDEN_BODY = """\
{"update":{"_index":"i","_id":"k1"}}
{"doc":{"click":"7","view":"3"},"doc_as_upsert":true}
{"update":{"_index":"i","_id":"k1"}}
{"doc":{"view":"5"},"doc_as_upsert":true}
{"update":{"_index":"i","_id":"k2"}}
{"doc":{"click":"1"},"doc_as_upsert":true}
{"delete":{"_index":"i","_id":"k2"}}
{"delete":{"_index":"i","_id":"k3"}}
{"delete":{"_index":"i","_id":"k3"}}
{"update":{"_index":"i","_id":"k4"}}
{"doc":{"view":null},"doc_as_upsert":true}
"""


def test_golden_bulk_body_one_partition(spark):
    """The whole request body, byte for byte: a multi-cell Put is one
    qualifier-sorted update; a same-cell collision keeps MAX(value) (a NULL
    loses to any value and stays NULL alone); a delete at its key's upsert
    ts sorts after it; two identical deletes stay two actions."""
    mut = spark.createDataFrame(
        [
            ("k1", "view", "3", "upsert", _t(1)),
            ("k1", "click", "7", "upsert", _t(1)),
            ("k1", "view", None, "upsert", _t(2)),
            ("k1", "view", "5", "upsert", _t(2)),
            ("k2", "click", "1", "upsert", _t(3)),
            ("k2", None, None, "delete", _t(3)),
            ("k3", None, None, "delete", _t(4)),
            ("k3", None, None, "delete", _t(4)),
            ("k4", "view", None, "upsert", _t(5)),
        ],
        SCHEMA,
    )
    out = scratch_dir("es_bulk_golden_test")
    write_bulk(mut, out, n_partitions=1, index="i")
    (body,) = [open(f).read() for f in sorted(glob.glob(f"{out}/part-*"))]
    assert body == GOLDEN_BODY
