"""Iterative graph centrality — the operator class the engine lacked.

A crawl/training-data pipeline ranks documents by link structure (quality
signals for mixture weighting), and the relational surface covers every
per-row and per-group shape but no FIXPOINT-style iteration over an edge
set beyond connected components (``q_dedup_clusters``). This module adds
PageRank as a bounded-iteration DataFrame computation.

Engine-exactness: PageRank is usually floating-point, which can never be
hash-compared across engines (D10 rule). Here rank mass is integer UNITS
(each node starts at 10^12), the damping factor 0.85 is the rational 17/20,
and each step distributes ``(units * 17) div (20 * out_degree)`` with
integer floor division — every operand positive, so Spark's truncating
``div`` and DuckDB's ``//`` agree exactly, and K iterations stay bit-exact
on both engines. The units lost to flooring per edge (< 1 unit each) are
the deterministic price of exactness; with 10^12-unit granularity the
relative error is ~1e-9 per step, far below any ranking-relevant
difference.

**Unit sizing rule (overflow bound)**: all arithmetic is int64, and a
node's rank can in principle absorb any share of the TOTAL mass
``N · INIT_UNITS``, so a deployment must size ``INIT_UNITS`` such that
``N · INIT_UNITS < 2^63`` (at 10^9 nodes: INIT ≤ ~9·10^9, still ~1e-9
relative granularity). With the bound violated the engines do not even
fail alike — Spark's non-ANSI ``sum(long)`` wraps silently while DuckDB
promotes to HUGEINT and errors on the cast — so the bound is a hard
configuration contract, not a soft tuning note. The fixture graphs are
~10^3 nodes: bound satisfied by ~7 orders of magnitude.

Graph: the distinct customer↔supplier trade pairs from ``orders ⋈
lineitem``, doubled into both directions (an undirected trade graph —
one-directional bipartite edges would make the fixpoint trivial). Node ids
are prefixed (``c<custkey>`` / ``s<suppkey>``) because the two key spaces
overlap numerically; INSIDE the fixpoint they are carried as the packed
int64 ``key·2 + kind-bit`` (bijective for 0 ≤ key < 2^62 — same family as
the unit-sizing bound below) so every join/aggregation shuffles fixed-width
longs, and the strings are produced only in ``q_graph_pagerank``'s final
select.

Scale posture (100 TB): each iteration is one join (ranks ⋈ edges on src)
and one aggregation (sum by dst) — the canonical Pregel-as-DataFrame step.
K is FIXED (3), so plan depth is bounded and no checkpoint is needed; at
larger K, localCheckpoint per iteration (the q_dedup_clusters discipline)
caps lineage. At cluster scale the edge frame and the rank frame are
co-partitioned on ``src`` so the per-iteration join is exchange-free on
the edge side; the degree column is folded into the edge frame ONCE before
the loop, not re-joined per step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table

INIT_UNITS = 10**12
DAMP_NUM, DAMP_DEN = 17, 20  # 0.85 as an exact rational
BASE_UNITS = (INIT_UNITS * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN  # (1-d)·INIT
N_ITER = 3
PACKED_KEY_LIMIT = 1 << 62  # key·2 + kind stays a bijection below this


def _packed_node(key: Column, kind: int) -> Column:
    """``key·2 + kind`` as int64; a key outside [0, 2^62) would collide with
    another node's id, so it fails the query instead (NULL stays NULL)."""
    k = key.cast("long")
    return F.when(
        (k < 0) | (k >= F.lit(PACKED_KEY_LIMIT)),
        F.raise_error(F.concat(
            F.lit("graph node key outside the packed range [0, 2^62): "),
            k.cast("string"),
        )),
    ).otherwise(k * 2 + kind)


def _edges_with_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, deg) trade edges with PACKED int64 node ids.

    The loop's node identity is ``key·2 + kind`` (kind bit 0 = customer,
    1 = supplier) instead of the output's ``c<custkey>``/``s<suppkey>``
    strings: every fixpoint join/aggregation then hashes and shuffles one
    fixed-width long instead of a variable-length string (guide §2.2
    "narrower types"), and ``q_graph_pagerank`` unpacks to the contractual
    strings only on the final projection. The packing is a bijection for
    0 ≤ key < 2^62 (``_packed_node`` raises outside it) — keys here are
    TPC-H custkey/suppkey, non-negative by schema — so distinct-pairs,
    degree counts and contribution groups are
    row-for-row identical to the string form (r17 interleaved A/B: 5.64 →
    3.85 s median at sf0.1, 9/9 paired reps faster, results bit-identical).
    """
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("ck")
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    )
    pairs = o.join(li, "ok").select("ck", "sk").distinct()
    cnode = _packed_node(F.col("ck"), 0)  # even = customer
    snode = _packed_node(F.col("sk"), 1)  # odd = supplier
    edges = pairs.select(cnode.alias("src"), snode.alias("dst")).unionByName(
        pairs.select(snode.alias("src"), cnode.alias("dst"))
    )
    # undirected doubling ⇒ every node occurs as src, so the node set and
    # the out-degree table come from the src column alone
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return edges.join(outdeg, "src")


def _pagerank_iterations(ed: DataFrame, nodes: DataFrame, n_iter: int) -> DataFrame:
    """The shared K-step integer-exact fixpoint: ``ed`` carries (src, dst,
    deg), ``nodes`` carries (node); both already lineage-cut by the
    caller. One join + one aggregation per iteration."""
    ranks = nodes.select(
        "node", F.lit(INIT_UNITS).cast("bigint").alias("units")
    )
    for _ in range(n_iter):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr(
                    f"(units * {DAMP_NUM}) div ({DAMP_DEN} * deg)"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (F.lit(BASE_UNITS) + F.coalesce(F.col("contrib"), F.lit(0)))
                .cast("bigint")
                .alias("units"),
            )
        )
    return ranks.select("node", F.col("units").alias("rank_units"))


def pagerank_over_edges(edges: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """Integer-exact PageRank over an arbitrary DIRECTED (src, dst) string
    edge frame — e.g. the crawl link graph from
    ``html_text.warc_outlinks``. Duplicate edges are collapsed first (a
    page linking twice confers one vote, the PageRank convention). Dangling
    nodes (no out-edges) keep receiving mass but distribute none; their
    outflow simply vanishes, which is the documented behavior of the
    un-normalized formulation — ranks remain comparable WITHIN a run, and
    both the determinism and the integer arithmetic are unaffected."""
    e = edges.select("src", "dst").distinct()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    ed = e.join(outdeg, "src").localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    return _pagerank_iterations(ed, nodes, n_iter)


def min_label_fixpoint(
    sym: DataFrame, loop_parts: int | None = None, max_iter: int = 30
) -> DataFrame:
    """THE min-label propagation core (single implementation — round-11
    consolidation of the former ``connected_components`` /
    ``dedup.q_dedup_clusters`` twin loops). ``sym`` is a SYMMETRIZED
    (src, dst) edge frame, already materialized (persisted or
    checkpointed) by the caller; returns ``(node, label)`` where ``label``
    is the MINIMUM member of the node's component under the column type's
    ordering (lexicographic for strings, numeric for longs — the fixpoint
    is type-agnostic, it only needs a total order).

    Each round every node takes the minimum of its own and its neighbors'
    labels; convergence when a round changes nothing. Rounds needed =
    graph diameter (a path graph needs its length) — ``max_iter`` is a
    fail-LOUD bound, not a silent truncation: an unconverged labeling
    would be wrong, so it raises. Each round's label frame is
    localCheckpoint-ed so plan depth stays O(1) instead of nesting one
    join+agg per loop, and the convergence test is one count per round —
    a driver-side scalar, never a collect of data rows. The update frame
    carries ``old_label`` so that count is a filter over the frame just
    built — no second full node-set join per round. The checkpoint is
    LAZY and the convergence count is its materializing action (r17,
    guide §1.2/§2.4): ONE job per round computes the round's plan, stores
    the blocks, and returns the changed-row count; the next round's two
    join references then read those blocks. (The r16 negative A/B on
    "lazy checkpoints here" hit a different shape — a lazily-checkpointed
    frame whose FIRST computation happens inside a job that references it
    in two branches pays the lineage twice; here the count materializes
    the frame before any double reference, so the r17 interleaved A/B
    measured ~13-17% off both q_graph_components and q_dedup_clusters
    with bit-identical labels every rep.)

    ``loop_parts``: optional explicit shuffle width for every loop
    exchange (``hashpartitioning(key, loop_parts)``) — near-dup pair
    graphs are tiny next to their corpus, so the caller sizes the loop to
    the EDGE count (~100k edges/partition), not the session default;
    every extra partition is a per-iteration task-launch tax. ``None``
    keeps the session shuffle width (the crawl-graph path, where edges
    are corpus-scale). At 100 TB with large diameters, swap min-label for
    large-star/small-star — the frame contract stays identical."""

    def _width(df: DataFrame, key: str) -> DataFrame:
        return df.repartition(loop_parts, key) if loop_parts else df

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        labels_p = _width(labels, "node")
        nbr_min = (
            _width(sym.join(labels_p, sym["dst"] == labels_p["node"]), "src")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels_p.join(nbr_min, labels_p["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # this count is the checkpoint's materializing action: one job
        # computes the round, stores the blocks, and yields the scalar
        changed = new_labels.filter(
            F.col("label") != F.col("old_label")
        ).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            return labels
    raise ValueError(
        f"min_label_fixpoint: no fixpoint within {max_iter} rounds "
        "(graph diameter exceeds the bound) — raise max_iter or switch to "
        "the star-contraction variant; an unconverged labeling is wrong, "
        "not approximate"
    )


def connected_components(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Weakly-connected components over an arbitrary (src, dst) string edge
    frame → (node, label) with the LEXICOGRAPHICALLY SMALLEST member as the
    deterministic component label. The crawl-graph use: site/cluster
    discovery over ``html_text.warc_outlinks`` edges (mirror groups,
    link farms, per-site sampling keys).

    Thin wrapper over ``min_label_fixpoint``: collapses duplicate edges,
    symmetrizes (callers pass either direction, or canonical a<b pairs —
    no pre-dedup needed), materializes, and runs the shared loop at the
    session shuffle width. ``dedup.q_dedup_clusters`` runs the same core
    with an edge-count-sized width over its MinHash pair graph."""
    e = edges.select("src", "dst").distinct()
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    return min_label_fixpoint(sym, max_iter=max_iter)


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank, K=3 fixed iterations (module docstring)."""
    ed = _edges_with_deg(spark, sf_dir)
    # Materialize the edge frame ONCE before the loop (the
    # q_dedup_clusters lineage discipline): without the cut, every
    # iteration's plan re-derives the orders⋈lineitem edge set from the
    # base scans, tripling scan work at K=3 and growing multiplicatively
    # with K. The iteration then joins against in-memory blocks. (The
    # undirected doubling makes every node a src, so the node set comes
    # from outdeg directly — one exchange fewer than the generic
    # pagerank_over_edges src∪dst union.) The node frame is then derived
    # from the CHECKPOINTED edges (distinct src — the same set, since ed
    # carries one row per edge and every node occurs as src), so its
    # materialization is one agg over in-memory blocks instead of a second
    # full orders⋈lineitem→distinct→double→degree computation from the
    # base scans (r16 measurement: the two eager checkpoints each paid the
    # whole edge derivation — half the query's wall — for identical rows).
    # ed's checkpoint is lazy: the eager nodes materialization runs ed's RDD
    # (nodes derives from it), so ONE action stores both frames.
    ed = ed.localCheckpoint(eager=False)
    nodes = ed.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    ranks = _pagerank_iterations(ed, nodes, N_ITER)
    # unpack key·2+kind back to the contractual c…/s… node strings: the
    # kind bit is the LSB, so parity picks the prefix and a truncating div
    # recovers the key exactly for both parities (_edges_with_deg docstring)
    return ranks.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
            F.expr("node div 2"),
        ).alias("node"),
        "rank_units",
    )


def _sql_iteration(prev: str, cur: str) -> str:
    return f"""{cur} AS (
    SELECT n.node,
           CAST({BASE_UNITS} + COALESCE(c.contrib, 0) AS BIGINT) AS units
    FROM nodes n LEFT JOIN (
        SELECT ed.dst,
               CAST(SUM((r.units * {DAMP_NUM}) // ({DAMP_DEN} * ed.deg))
                    AS BIGINT) AS contrib
        FROM ed JOIN {prev} r ON ed.src = r.node
        GROUP BY ed.dst
    ) c ON n.node = c.dst
)"""


SQL_GRAPH_PAGERANK = f"""
WITH pairs AS (
    SELECT DISTINCT 'c' || o_custkey AS cnode, 's' || l_suppkey AS snode
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
    SELECT cnode AS src, snode AS dst FROM pairs
    UNION ALL
    SELECT snode AS src, cnode AS dst FROM pairs
),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM outdeg),
ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN outdeg d ON e.src = d.src),
r0 AS (SELECT node, CAST({INIT_UNITS} AS BIGINT) AS units FROM nodes),
{_sql_iteration("r0", "r1")},
{_sql_iteration("r1", "r2")},
{_sql_iteration("r2", "r3")}
SELECT node, units AS rank_units FROM r3
"""

def q_graph_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite co-occurrence projection: supplier pairs ranked by shared
    customers — the 'users who bought X also bought Y' shape, which is the
    same pairs-explosion every co-occurrence statistic (item-item CF,
    term co-occurrence, entity linking) runs at scale.

    Plan: the distinct (customer, supplier) incidence list self-joins on
    the customer key (one shuffle, co-partitioned both sides), pairs
    ordered ``s1 < s2`` so each pair counts once, then a count-per-pair
    aggregation and a TakeOrdered top-20 with a TOTAL ordering (count desc,
    then both keys) — ties cannot make the cut nondeterministic.

    Skew is THE hazard here: a customer of degree d emits C(d,2) pairs, so
    one hub customer can dominate a partition. At 100 TB: cap the per-key
    degree before the self-join (drop or sample hubs above a threshold —
    their pairs are the least informative, exactly the stopword logic) or
    salt the hot keys; AQE's skew-join split handles the residual. The
    fixture graph's max degree is bounded (~tens), so the cap is not wired
    into the fixture-scale query."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("ck")
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    )
    inc = o.join(li, "ok").select("ck", "sk").distinct()
    a = inc.select(F.col("ck"), F.col("sk").alias("s1"))
    b = inc.select(F.col("ck"), F.col("sk").alias("s2"))
    return (
        a.join(b, "ck")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared_customers"))
        .orderBy(F.col("shared_customers").desc(), "s1", "s2")
        .limit(20)
        .select(
            F.col("s1").alias("supp_a"),
            F.col("s2").alias("supp_b"),
            "shared_customers",
        )
    )


SQL_GRAPH_COPURCHASE = """
WITH inc AS (
    SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT a.sk AS supp_a, b.sk AS supp_b,
       CAST(count(*) AS BIGINT) AS shared_customers
FROM inc a JOIN inc b ON a.ck = b.ck AND a.sk < b.sk
GROUP BY a.sk, b.sk
ORDER BY shared_customers DESC, supp_a, supp_b
LIMIT 20
"""

def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sharing document clusters: weakly-connected components over the
    graph whose edges join documents sharing at least one exact K-token span
    (K from ``dedup_substring`` — the two round-10 operators composed). The
    pipeline meaning: a component is a BOILERPLATE FAMILY — docs chained by
    shared licence blocks / templated intros, including transitive links
    document-pair dedup cannot see (A~B via span1, B~C via span2 puts A and
    C in one family with no shared span between them).

    Node ids are zero-padded to full int64 width (%019d) so
    ``connected_components``'s LEXICOGRAPHIC min-label equals numeric min
    for every NON-NEGATIVE doc_id — the one id-domain bound this operator
    assumes (a '-' prefix breaks the order isomorphism); the DuckDB
    recursive-CTE oracle (numeric ``min``) then agrees exactly, and labels
    cast back to long on output. Candidate edges come from an
    equi-self-join on the span string — the same bucketed-not-all-pairs
    shape as LSH — emitted in CANONICAL ``a < b`` orientation only and NOT
    pre-deduplicated: ``connected_components`` symmetrizes and distincts
    internally, so a caller-side distinct would just repeat its exchanges
    on a doubled frame. Skew note for 100 TB: a corpus-frequency cap on
    spans before the self-join (a span in thousands of docs is a
    stopword-grade signal and emits quadratic pairs) is the standard
    pre-filter; fixture span frequency maxes at 3, so it is not wired
    here. Only documents with at least one shared span surface (the
    graph's node set); isolated docs are not rows."""
    from .dedup_substring import _spans
    from ..io import fan_out

    # fan_out: the span explosion feeding the self-join otherwise runs in
    # the single sub-split scan task (the q_dedup_substring r17 measurement)
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"))
    spans = d.select("doc_id", F.explode(_spans()).alias("span"))
    a, b = spans.alias("a"), spans.alias("b")
    pairs = (
        a.join(b, "span")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.format_string("%019d", F.col("a.doc_id")).alias("src"),
            F.format_string("%019d", F.col("b.doc_id")).alias("dst"),
        )
    )
    labels = connected_components(pairs)
    from pyspark.sql import Window

    return (
        labels.select(
            F.col("node").cast("long").alias("doc_id"),
            F.col("label").cast("long").alias("component"),
        )
        .withColumn(
            "csize",
            F.count(F.lit(1)).over(Window.partitionBy("component")).cast("long"),
        )
    )


def _sql_span_pairs() -> str:
    # span generation comes from dedup_substring.SQL_SPANS_CTE — the single
    # shared string all span oracles build on (drift tripwire discharged)
    from .dedup_substring import SQL_SPANS_CTE

    return f"""{SQL_SPANS_CTE},
pairs AS (
    SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
    FROM spans a JOIN spans b
      ON a.span = b.span AND a.doc_id <> b.doc_id
)"""


SQL_GRAPH_COMPONENTS = f"""
WITH RECURSIVE {_sql_span_pairs()},
nodes AS (SELECT DISTINCT x AS node FROM pairs),
reach(node, m) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT p.x, r.m FROM pairs p JOIN reach r ON p.y = r.node
),
lab AS (SELECT node, min(m) AS label FROM reach GROUP BY node)
SELECT node AS doc_id, label AS component,
       count(*) OVER (PARTITION BY label) AS csize
FROM lab
"""


QUERIES = {
    "q_graph_pagerank": q_graph_pagerank,
    "q_graph_copurchase": q_graph_copurchase,
    "q_graph_components": q_graph_components,
}
ORACLES = {
    "q_graph_pagerank": SQL_GRAPH_PAGERANK,
    "q_graph_copurchase": SQL_GRAPH_COPURCHASE,
    "q_graph_components": SQL_GRAPH_COMPONENTS,
}
