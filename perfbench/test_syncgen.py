"""Pins the `sync` workload's generator, expected-state model and response
stand-in. Run from the repository root: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import json

import duckdb

import syncgen
from syncgen import Mutation, apply_batch

from hbase_observer_es_spark.operators.cdc import SQL_CDC_TOMBSTONE, SQL_MUTATIONS
from hbase_observer_es_spark.sinks.es_bulk_response import selective_retry_body


def _batches(seed: int, n: int) -> list[syncgen.Batch]:
    log = syncgen.ChangeLog(seed)
    return [log.next_batch() for _ in range(n)]


def test_same_seed_same_batches():
    assert _batches(7, 5) == _batches(7, 5)


def test_other_seed_other_batches():
    assert _batches(7, 3)[0].lines != _batches(8, 3)[0].lines


def test_batches_cover_every_generator_dimension():
    batches = _batches(3, 12)
    muts = [m for b in batches for m in b.mutations]
    deletes = [m for m in muts if m.op == "delete"]
    assert deletes and len(deletes) < len(muts) / 4
    sizes = [len(b.mutations) for b in batches]
    assert min(sizes) >= syncgen.BATCH_MUTATIONS
    assert max(sizes) < syncgen.BATCH_MUTATIONS + syncgen.CELLS_PER_PUT[1]
    # out-of-order arrivals: some event is older than one that arrived earlier
    ts = [m.ts_ms for m in muts]
    assert any(b < a for a, b in zip(ts, ts[1:]))
    # timestamp ties on one row merge two Puts into one update action
    put_lines = sum(ln.startswith('{"Row"') for b in batches for ln in b.lines)
    puts = {(b.index, m.row_key, m.ts_ms) for b in batches for m in b.mutations
            if m.op == "upsert"}
    assert len(puts) < put_lines
    assert sum(b.n_actions for b in batches) == len(puts) + len(deletes)
    # key skew: the hot keys take far more than their share of events
    hot = sum(int(m.row_key[3:]) < syncgen.HOT_KEYS for m in muts)
    assert hot / len(muts) > 3 * syncgen.HOT_KEYS / syncgen.N_KEYS


def test_n_actions_counts_puts_per_row_and_timestamp():
    b = syncgen.Batch(0, [], [
        Mutation("a", "click", "v1", "upsert", 5),
        Mutation("a", "view", "v2", "upsert", 5),
        Mutation("a", "view", "v3", "upsert", 6),
        Mutation("a", None, None, "delete", 6),
        Mutation("a", None, None, "delete", 6),
    ])
    assert b.n_actions == 2 + 2


def test_delete_wins_a_timestamp_tie():
    st = apply_batch({}, [
        Mutation("a", "click", "v1", "upsert", 10),
        Mutation("a", None, None, "delete", 10),
    ])
    assert st == {}


def test_upsert_after_delete_recreates_the_document():
    st = apply_batch({}, [
        Mutation("a", "click", "v1", "upsert", 10),
        Mutation("a", None, None, "delete", 11),
        Mutation("a", "view", "v2", "upsert", 12),
    ])
    assert st == {("a", "view"): (12, "v2")}


def test_last_write_wins_and_value_breaks_ties():
    st = apply_batch({}, [
        Mutation("a", "click", "v9", "upsert", 10),
        Mutation("a", "click", "v1", "upsert", 12),
        Mutation("a", "view", "v2", "upsert", 12),
        Mutation("a", "view", "v5", "upsert", 12),
    ])
    assert st == {("a", "click"): (12, "v1"), ("a", "view"): (12, "v5")}


def test_batches_fold_in_arrival_order():
    st = apply_batch({}, [Mutation("a", None, None, "delete", 20)])
    # a late Put older than a delete from an earlier batch: the delete is no
    # longer in the state, so the Put lands (the keyed sink keeps no tombstones)
    st = apply_batch(st, [Mutation("a", "click", "v1", "upsert", 15)])
    assert st == {("a", "click"): (15, "v1")}
    # an older cell never overwrites a newer one already in the state
    st = apply_batch(st, [Mutation("a", "click", "v7", "upsert", 14)])
    assert st == {("a", "click"): (15, "v1")}


def test_model_matches_the_tombstone_oracle_on_one_batch():
    muts = [m for b in _batches(11, 2) for m in b.mutations]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE muts (row_key VARCHAR, qualifier VARCHAR, value VARCHAR,"
        " op VARCHAR, ts BIGINT)"
    )
    con.executemany(
        "INSERT INTO muts VALUES (?, ?, ?, ?, ?)",
        [(m.row_key, m.qualifier, m.value, m.op, m.ts_ms) for m in muts],
    )
    sql = SQL_CDC_TOMBSTONE.replace(SQL_MUTATIONS, "SELECT * FROM muts")
    assert sql != SQL_CDC_TOMBSTONE
    got = {(k, q): (ts, v) for k, q, v, ts in con.sql(sql).fetchall()}
    assert got == apply_batch({}, muts)


def _body(batch: syncgen.Batch) -> str:
    out = []
    for m in batch.mutations:
        verb = "delete" if m.op == "delete" else "update"
        out.append(f'{{"{verb}":{{"_index":"hbase_observer","_id":"{m.row_key}"}}}}')
        if verb == "update":
            out.append(f'{{"doc":{{"{m.qualifier}":"{m.value}"}},"doc_as_upsert":true}}')
    return "\n".join(out) + "\n"


def test_response_is_seeded_and_positional():
    body = _body(_batches(5, 1)[0])
    r1, n = syncgen.synth_response(body, 5, 0, 0, 0)
    assert (r1, n) == syncgen.synth_response(body, 5, 0, 0, 0)
    assert r1 != syncgen.synth_response(body, 5, 0, 0, 1)[0]
    acts = syncgen.body_actions(body)
    assert n == len(acts)
    items = json.loads(r1)["items"]
    assert [(next(iter(i)), next(iter(i.values()))["_id"]) for i in items] == acts


def test_selective_retry_converges_on_synthetic_responses():
    body = _body(_batches(9, 1)[0])
    sent, attempt = 0, 0
    while body is not None:
        sent += len(syncgen.body_actions(body))
        body, dead = selective_retry_body(
            body, syncgen.synth_response(body, 9, 0, 0, attempt)[0])
        assert dead == []
        attempt += 1
        assert attempt < 20
    assert attempt > 1 and sent > len(_batches(9, 1)[0].mutations)
