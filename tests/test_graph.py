"""Integer-exact PageRank (operators/graph.py): hand-computed fixture math,
oracle parity, conservation bounds, determinism, plan hygiene."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hbase_observer_es_spark.operators.graph import (
    BASE_UNITS,
    INIT_UNITS,
    PACKED_KEY_LIMIT,
    SQL_GRAPH_PAGERANK,
    _packed_node,
    q_graph_pagerank,
)

from .conftest import SF_ORACLE
from .oracle_harness import compare, duckdb_con


def test_matches_oracle_at_fixture_scale(spark):
    r = compare(
        "q_graph_pagerank",
        q_graph_pagerank(spark, SF_ORACLE),
        duckdb_con(SF_ORACLE),
        SQL_GRAPH_PAGERANK,
    )
    assert r.ok, r.detail


def test_hand_computed_three_node_graph(spark, tmp_path):
    """orders {1→c1, 2→c2}, lineitem {1→s10, 2→s10}: the undirected star
    c1–s10–c2. Hand-derived K=3 unit values (worked in the module's integer
    arithmetic, zero floor loss on this instance) pin the recurrence — the
    Spark side and the SQL oracle cannot share a mirrored off-by-one."""
    spark.createDataFrame(
        [(1, 1), (2, 2)], "o_orderkey long, o_custkey long"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(1, 10), (2, 10)], "l_orderkey long, l_suppkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r.node: r.rank_units
        for r in q_graph_pagerank(spark, str(tmp_path)).collect()
    }
    assert got == {
        "s10": 1_741_625_000_000,
        "c1": 629_187_500_000,
        "c2": 629_187_500_000,
    }
    assert sum(got.values()) == 3 * INIT_UNITS  # conserved on this instance


def test_packed_node_ids_refuse_out_of_range_keys(spark):
    """key·2 + kind is a bijection only for 0 <= key < 2^62: in-range keys
    pack by parity, a negative or too-large key fails the query loudly."""
    ok = spark.createDataFrame([(0,), (7,), (None,)], "k long")
    assert [r.n for r in ok.select(_packed_node(F.col("k"), 1).alias("n")).collect()] == [
        1, 15, None,
    ]
    for bad in (-1, PACKED_KEY_LIMIT):
        df = spark.createDataFrame([(bad,)], "k long")
        with pytest.raises(Exception, match="outside the packed range"):
            df.select(_packed_node(F.col("k"), 0)).collect()


def test_mass_bounds_at_fixture_scale(spark):
    """Total rank mass can only shrink (floor losses), never grow, and no
    node can fall below the teleport floor BASE_UNITS."""
    rows = q_graph_pagerank(spark, SF_ORACLE).collect()
    n = len(rows)
    total = sum(r.rank_units for r in rows)
    assert total <= n * INIT_UNITS
    assert total >= n * BASE_UNITS
    assert min(r.rank_units for r in rows) >= BASE_UNITS


def test_deterministic_across_reruns(spark):
    a = sorted(map(tuple, q_graph_pagerank(spark, SF_ORACLE).collect()))
    b = sorted(map(tuple, q_graph_pagerank(spark, SF_ORACLE).collect()))
    assert a == b


def test_copurchase_matches_oracle(spark):
    from hbase_observer_es_spark.operators.graph import (
        SQL_GRAPH_COPURCHASE,
        q_graph_copurchase,
    )

    r = compare(
        "q_graph_copurchase",
        q_graph_copurchase(spark, SF_ORACLE),
        duckdb_con(SF_ORACLE),
        SQL_GRAPH_COPURCHASE,
    )
    assert r.ok, r.detail


def test_copurchase_hand_computed(spark, tmp_path):
    """Two customers: c1 buys from {10,20,30}, c2 from {20,30}. Shared
    pairs: (20,30)x2 via both; (10,20),(10,30)x1 via c1 only."""
    spark.createDataFrame(
        [(1, 1), (2, 2)], "o_orderkey long, o_custkey long"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(1, 10), (1, 20), (1, 30), (2, 20), (2, 30)],
        "l_orderkey long, l_suppkey long",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    from hbase_observer_es_spark.operators.graph import q_graph_copurchase

    rows = q_graph_copurchase(spark, str(tmp_path)).collect()
    got = {(r.supp_a, r.supp_b): r.shared_customers for r in rows}
    assert got == {(20, 30): 2, (10, 20): 1, (10, 30): 1}
    assert all(r.supp_a < r.supp_b for r in rows)  # each pair exactly once
    # deterministic total order: count desc, then both keys
    assert [(r.supp_a, r.supp_b) for r in rows] == [(20, 30), (10, 20), (10, 30)]


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_components_two_islands(spark):
    from hbase_observer_es_spark.operators.graph import connected_components

    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    got = {r.node: r.label for r in connected_components(e).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_components_chain_needs_diameter_rounds(spark):
    from hbase_observer_es_spark.operators.graph import connected_components

    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(9)]
    got = {r.node: r.label for r in connected_components(_edges(spark, chain)).collect()}
    assert set(got.values()) == {"n00"} and len(got) == 10


def test_components_unconverged_raises_loudly(spark):
    from hbase_observer_es_spark.operators.graph import connected_components

    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(9)]
    with pytest.raises(ValueError, match="no fixpoint within 2"):
        connected_components(_edges(spark, chain), max_iter=2)


def test_components_deterministic_and_direction_blind(spark):
    from hbase_observer_es_spark.operators.graph import connected_components

    fwd = _edges(spark, [("b", "a"), ("c", "b")])  # reversed directions
    got = {r.node: r.label for r in connected_components(fwd).collect()}
    assert set(got.values()) == {"a"}
    again = {r.node: r.label for r in connected_components(fwd).collect()}
    assert again == got


def test_components_over_crawl_outlinks(spark, tmp_path):
    """Site discovery over the real crawl graph: two mutually-linked page
    clusters on different hosts become two components."""
    import gzip as _gzip

    from hbase_observer_es_spark.operators.graph import connected_components
    from hbase_observer_es_spark.operators.html_text import warc_outlinks
    from hbase_observer_es_spark.sources.warc import read_warc

    from .warc_fixtures import http_response, warc_record

    def page(links):
        body = "".join(f'<a href="{u}">l</a>' for u in links).encode()
        return http_response(b"<html><body>" + body + b"</body></html>")

    shard = (
        warc_record("response", page(["http://a.example/2"]),
                    uri="http://a.example/1", rid="id:1")
        + warc_record("response", page(["http://a.example/1"]),
                      uri="http://a.example/2", rid="id:2")
        + warc_record("response", page(["http://b.example/2"]),
                      uri="http://b.example/1", rid="id:3")
    )
    (tmp_path / "g.warc.gz").write_bytes(_gzip.compress(shard))
    comps = connected_components(warc_outlinks(read_warc(spark, str(tmp_path))))
    labels = {r.node: r.label for r in comps.collect()}
    a_labels = {v for k, v in labels.items() if "a.example" in k}
    b_labels = {v for k, v in labels.items() if "b.example" in k}
    assert len(a_labels) == 1 and len(b_labels) == 1 and a_labels != b_labels


def test_plan_has_no_cartesian_and_bounded_depth(spark):
    df = q_graph_pagerank(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the edge/node frames are checkpointed ONCE before the loop, so the
    # iteration plan reads in-memory blocks — zero parquet scans — instead
    # of re-deriving orders⋈lineitem per iteration
    assert plan.count("FileScan parquet") == 0, plan.count("FileScan parquet")
    assert "Scan ExistingRDD" in plan


def test_span_components_match_oracle(spark):
    from hbase_observer_es_spark.operators.graph import (
        SQL_GRAPH_COMPONENTS,
        q_graph_components,
    )

    r = compare(
        "q_graph_components",
        q_graph_components(spark, SF_ORACLE),
        duckdb_con(SF_ORACLE),
        SQL_GRAPH_COMPONENTS,
    )
    assert r.ok, r.detail


def test_span_components_transitive_chain(spark, tmp_path):
    """A~B via span1 and B~C via span2 puts A and C in ONE component even
    though A and C share no span — the transitive reach document-PAIR dedup
    cannot see, which is the point of the operator. An isolated doc is not
    a row."""
    from hbase_observer_es_spark.operators.dedup_substring import K_SPAN
    from hbase_observer_es_spark.operators.graph import q_graph_components

    s1 = " ".join(f"p{i}" for i in range(K_SPAN))
    s2 = " ".join(f"q{i}" for i in range(K_SPAN))
    texts = [s1 + " a-tail", s1 + " mid " + s2, s2 + " c-tail", "lonely short doc"]
    rows = [(i, t, "en", "fix", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in q_graph_components(spark, str(tmp_path)).collect()}
    assert set(got) == {0, 1, 2}  # doc 3 is isolated: not a node
    assert got[0].component == got[1].component == got[2].component == 0
    assert all(got[i].csize == 3 for i in got)
