"""_bulk response direction (sinks/es_bulk_response.py): parsing, the
reference's whole-request requeue, and the selective production retry."""

from __future__ import annotations

import json

import pytest

from hbase_observer_es_spark.sinks.es_bulk_response import (
    ItemOutcome,
    has_failures,
    parse_bulk_response,
    reference_retry_body,
    selective_retry_body,
    split_actions,
)

UPD_A = '{"update":{"_index":"hbase_observer","_id":"a"}}\n{"doc":{"q":"1"},"doc_as_upsert":true}'
DEL_B = '{"delete":{"_index":"hbase_observer","_id":"b"}}'
UPD_C = '{"update":{"_index":"hbase_observer","_id":"c"}}\n{"doc":{"q":"3"},"doc_as_upsert":true}'
BODY = UPD_A + "\n" + DEL_B + "\n" + UPD_C + "\n"


def _resp(items):
    return json.dumps({"took": 5, "errors": any("error" in list(i.values())[0] for i in items), "items": items})


def _ok(verb, _id, status=200):
    return {verb: {"_index": "hbase_observer", "_id": _id, "status": status}}


def _fail(verb, _id, status, etype):
    return {verb: {"_index": "hbase_observer", "_id": _id, "status": status,
                   "error": {"type": etype, "reason": "x"}}}


def test_split_actions_rechunks_mixed_body():
    assert split_actions(BODY) == [UPD_A, DEL_B, UPD_C]


def test_all_success_means_no_retry():
    resp = _resp([_ok("update", "a"), _ok("delete", "b"), _ok("update", "c", 201)])
    assert not has_failures(resp)
    assert reference_retry_body(BODY, resp) is None
    retry, dead = selective_retry_body(BODY, resp)
    assert retry is None and dead == []


def test_reference_requeue_is_whole_body():
    """The faithful twin of ElasticsearchBulkOperator.java:117-131: ONE
    failed item requeues every action, byte-identically."""
    resp = _resp([_ok("update", "a"), _fail("delete", "b", 429, "es_rejected_execution_exception"), _ok("update", "c")])
    assert has_failures(resp)
    assert reference_retry_body(BODY, resp) == BODY


def test_selective_retry_keeps_only_retryable_verbatim():
    resp = _resp([
        _fail("update", "a", 429, "es_rejected_execution_exception"),  # retryable
        _fail("delete", "b", 400, "mapper_parsing_exception"),         # permanent
        _ok("update", "c"),
    ])
    retry, dead = selective_retry_body(BODY, resp)
    assert retry == UPD_A + "\n"          # verbatim bytes, valid body
    assert [(a, o.status) for a, o in dead] == [(DEL_B, 400)]
    assert dead[0][1].error_type == "mapper_parsing_exception"
    assert not dead[0][1].retryable


def test_5xx_is_retryable_4xx_is_not():
    resp = _resp([
        _fail("update", "a", 503, "unavailable"),
        _fail("delete", "b", 409, "version_conflict_engine_exception"),
        _fail("update", "c", 500, "internal"),
    ])
    outcomes = parse_bulk_response(resp)
    assert [o.retryable for o in outcomes] == [True, False, True]
    retry, dead = selective_retry_body(BODY, resp)
    assert retry == UPD_A + "\n" + UPD_C + "\n"
    assert len(dead) == 1 and dead[0][1].status == 409


def test_pairing_mismatch_fails_loudly():
    resp = _resp([_ok("update", "a")])
    with pytest.raises(ValueError, match="pairing"):
        selective_retry_body(BODY, resp)


def test_malformed_inputs_fail_loudly():
    with pytest.raises(ValueError, match="unrecognized action"):
        split_actions('{"frobnicate":{}}\n')
    with pytest.raises(ValueError, match="missing its source"):
        split_actions('{"update":{"_id":"a"}}\n')
    with pytest.raises(ValueError, match="unrecognized item"):
        parse_bulk_response(json.dumps({"items": [{"frobnicate": {}}]}))


def test_roundtrip_with_real_write_bulk_output(spark, tmp_path):
    """End-to-end with the REQUEST side: bodies produced by write_bulk over
    the fixture mutation stream re-chunk cleanly, pair 1:1 with an all-OK
    synthetic response, and a one-item failure selects exactly that action."""
    import glob as globmod

    from hbase_observer_es_spark.operators.cdc import mutations
    from hbase_observer_es_spark.sinks.es_bulk import write_bulk

    from .conftest import SF_SMOKE

    mut = mutations(spark, SF_SMOKE)
    out = str(tmp_path / "bulk")
    write_bulk(mut, out, n_partitions=2)
    files = sorted(globmod.glob(out + "/part-*"))
    assert files
    body = open(files[0]).read()
    actions = split_actions(body)
    assert len(actions) >= 2
    # synthesize the ES contract: one response item per action, in order
    items = []
    for k, a in enumerate(actions):
        verb = "delete" if a.startswith('{"delete"') else "update"
        items.append(
            _fail(verb, f"k{k}", 429, "es_rejected_execution_exception")
            if k == 1 else _ok(verb, f"k{k}")
        )
    retry, dead = selective_retry_body(body, _resp(items))
    assert retry == actions[1] + "\n" and dead == []
    assert reference_retry_body(body, _resp(items)) == body


# -- property: retry/dead/ok partition the request exactly --------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_action = st.one_of(
    st.integers(0, 9999).map(
        lambda i: f'{{"delete":{{"_index":"x","_id":"d{i}"}}}}'
    ),
    st.integers(0, 9999).map(
        lambda i: '{"update":{"_index":"x","_id":"u%d"}}\n'
                  '{"doc":{"q":"%d"},"doc_as_upsert":true}' % (i, i)
    ),
)
_status = st.sampled_from([200, 201, 400, 404, 409, 429, 500, 503])


@given(pairs=st.lists(st.tuples(_action, _status), min_size=1, max_size=12))
@settings(max_examples=200, deadline=None)
def test_retry_dead_ok_partition_the_request(pairs):
    """For ANY request body and response: retryable actions + dead-letters +
    successes partition the action list exactly, the retry body re-splits to
    the same verbatim actions, and the reference requeue returns the whole
    body iff any item failed."""
    body = "\n".join(a for a, _ in pairs) + "\n"
    items = []
    for (a, status) in pairs:
        verb = "delete" if a.startswith('{"delete"') else "update"
        entry = {"_index": "x", "_id": "i", "status": status}
        if status >= 400:
            entry["error"] = {"type": "t", "reason": "r"}
        items.append({verb: entry})
    resp = json.dumps({"took": 1, "errors": any(s >= 400 for _, s in pairs),
                       "items": items})

    actions = split_actions(body)
    assert actions == [a for a, _ in pairs]  # chunking inverts the join

    retry, dead = selective_retry_body(body, resp)
    retry_actions = split_actions(retry) if retry else []
    dead_actions = [a for a, _ in dead]
    ok_actions = [
        a for (a, s) in pairs if s < 400
    ]
    # exact partition, order preserved within each class
    assert retry_actions == [
        a for (a, s) in pairs if s >= 400 and (s == 429 or s >= 500)
    ]
    assert dead_actions == [
        a for (a, s) in pairs if 400 <= s < 500 and s != 429
    ]
    assert len(retry_actions) + len(dead_actions) + len(ok_actions) == len(pairs)

    whole = reference_retry_body(body, resp)
    assert (whole == body) == any(s >= 400 for _, s in pairs)
