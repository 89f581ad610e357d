"""Graph query: PageRank over the nation-level trade graph.

Reference scope note: the reference app (andre-maree/
SqlDataIntegrationFunctionTriggerApp) has no graph operator; this is part
of the mandated large-scale-pipeline surface (SURVEY.md §2.C), extending
the iterative family (connected components, k-means) with the
join-aggregate power-iteration shape.

Graph: one directed edge supplier-nation → customer-nation per lineitem
(weight = lineitem count). Deriving the edges is the 100 TB-scale part —
a lineitem-fact shuffle through supplier/orders/customer — and happens
exactly ONCE: the ≤ |nations|² aggregated edge list is localCheckpointed
before the rank loop, so the three iterations never re-run the fact joins.

Float-parity contract: per-edge contributions are FLOORed to BIGINT at
fixed-point scale 10^15 before the in-edge SUM (the only order-dependent
step) — floor of an identical double is an identical integer, and the
integer SUM is exact, so iteration order and partitioning cannot move a
bit. (A DECIMAL(28,18) cast was tried first and measured 1 ulp apart:
Spark converts double→DECIMAL via the shortest-string repr, DuckDB via
the exact binary expansion.) Every other op is elementwise double
arithmetic written with IDENTICAL association on both engines — see
operators/graph.py. The oracle spells each double literal as
CAST(x AS DOUBLE) (DuckDB bare 0.85 is a DECIMAL literal) and mirrors
the (1.0 - d) subtraction instead of folding it to 0.15, because Python's
1.0 - 0.85 is not the double nearest 0.15.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.operators.graph import (
    label_propagation,
    pagerank,
    triangle_counts,
    triangle_delta,
)
from sqldataintegrationfunctiontriggerapp_spark.plans.dedup import (
    _NEAR_DUP_PAIRS,
    _near_dup_pairs,
)
from sqldataintegrationfunctiontriggerapp_spark.plans.registry import register

_PR_ITERS = 3
_PR_DAMPING = 0.85

# The recurrence, once per iteration (chained CTEs). Contribution order of
# operations mirrors operators/graph.py exactly (same association):
#   share   = CAST(w AS DOUBLE) / CAST(out_w AS DOUBLE)
#   contrib = CAST(FLOOR((rank * share) * 1e15) AS BIGINT)  -- exact SUM
#   rank'   = base + d * (CAST(COALESCE(SUM, 0) AS DOUBLE) / 1e15)
# DuckDB's FLOOR(double) returns double, so the BIGINT cast makes the SUM
# an exact integer sum (HUGEINT accumulator) like Spark's SUM(BIGINT).
_PR_STEP = """
    r{i} AS (
        SELECT nd.node,
               ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n)
               + CAST(0.85 AS DOUBLE)
                 * (CAST(COALESCE(SUM(
                        CAST(FLOOR((r.rank * (CAST(e.w AS DOUBLE)
                                              / CAST(d.out_w AS DOUBLE)))
                                   * CAST(1000000000000000 AS DOUBLE))
                             AS BIGINT)
                    ), 0) AS DOUBLE)
                    / CAST(1000000000000000 AS DOUBLE)) AS rank
        FROM nodes nd CROSS JOIN nnodes nn
        LEFT JOIN edges e ON e.dst = nd.node
        LEFT JOIN r{prev} r ON r.node = e.src
        LEFT JOIN outdeg d ON d.src = e.src
        GROUP BY nd.node, nn.n
    )"""

_PR_ORACLE = (
    """
    WITH edges AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    outdeg AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    nnodes AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
        SELECT nd.node, CAST(1.0 AS DOUBLE) / nn.n AS rank
        FROM nodes nd CROSS JOIN nnodes nn
    ),"""
    + ",".join(
        _PR_STEP.format(i=i, prev=i - 1) for i in range(1, _PR_ITERS + 1)
    )
    + f"""
    SELECT node AS nationkey, rank AS pagerank FROM r{_PR_ITERS}
    """
)


@register("pagerank_nations", oracle=_PR_ORACLE)
def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 iterations, d = 0.85) over the supplier-nation →
    customer-nation lineitem-count graph. One fact shuffle builds the edge
    list; the rank loop runs on the checkpointed ≤ n² aggregate. See
    operators/graph.py for the determinism contract."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ords = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    edges = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(ords, F.col("l_orderkey") == ords["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
        .localCheckpoint()  # ≤ |nations|² rows; reused every iteration
    )
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    ranks = pagerank(edges, nodes, iterations=_PR_ITERS, damping=_PR_DAMPING)
    return ranks.select(
        F.col("node").alias("nationkey"), F.col("rank").alias("pagerank")
    )


# The near-dup graph as the oracle's edge builder: the verified MinHash
# pairs (plans/dedup.py), symmetrized to an undirected unit-weight edge list.
_DUP_EDGES = f"""{_NEAR_DUP_PAIRS},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst, 1 AS w FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst, 1 AS w FROM pairs
    )
"""

_DUP_PR_ORACLE = (
    "WITH "
    + _DUP_EDGES
    + """,
    outdeg AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
    nodes AS (SELECT doc_id AS node FROM documents),
    nnodes AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
        SELECT nd.node, CAST(1.0 AS DOUBLE) / nn.n AS rank
        FROM nodes nd CROSS JOIN nnodes nn
    ),"""
    + ",".join(
        _PR_STEP.format(i=i, prev=i - 1) for i in range(1, _PR_ITERS + 1)
    )
    + f"""
    SELECT node AS doc_id, rank AS pagerank FROM r{_PR_ITERS}
    """
)


@register("pagerank_dup_graph", oracle=_DUP_PR_ORACLE)
def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the REAL near-duplication graph (where
    pagerank_nations exercises the operator on the 25-node toy, this runs
    it on corpus-scale data): nodes are all documents, undirected
    unit-weight edges are the verified MinHash pairs at Jaccard >= _NEAR_DUP_J
    (the shared LSH stage -- the same pair table dedup_minhash_lsh,
    dedup_survivors, and split_leakage_audit serve). Centrality in this
    graph is a curation signal the pair list alone cannot give: a
    template/boilerplate HUB (one page near-duplicating hundreds) ranks
    far above an isolated mirror pair, so rank order is a principled
    clean-up priority; isolated documents sit at the (1-d)/n floor.

    Same determinism contract as the operator (fixed-point BIGINT floor
    before the only order-dependent SUM -- see the module docstring);
    the oracle replays the full LSH chain to build the identical edge
    list, then the identical 3-iteration recurrence.

    Scale shape: the edge list is the dedup family's output (bounded by
    true near-dup pairs, not n^2); each iteration is one node-keyed
    left join + exact integer aggregate -- linear in |docs| + |edges|
    per iteration at any corpus size."""
    pairs = _near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(
            F.col("doc_a").alias("src"),
            F.col("doc_b").alias("dst"),
            F.lit(1).alias("weight"),
        )
        .union(
            pairs.select(
                F.col("doc_b").alias("src"),
                F.col("doc_a").alias("dst"),
                F.lit(1).alias("weight"),
            )
        )
        .localCheckpoint()  # bounded by 2x near-dup pairs; reused per iteration
    )
    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    ranks = pagerank(edges, nodes, iterations=_PR_ITERS, damping=_PR_DAMPING)
    return ranks.select(
        F.col("node").alias("doc_id"), F.col("rank").alias("pagerank")
    )


_TRI_ORACLE = (
    "WITH "
    + _DUP_EDGES
    + """,
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    corners AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node AS doc_id, COUNT(*) AS triangles
    FROM corners GROUP BY node
    """
)


@register("triangle_count_dup_graph", oracle=_TRI_ORACLE)
def triangle_count_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts over the verified near-dup graph
    (nodes in >= 1 triangle). A triangle in this graph is three documents
    that are PAIRWISE near-duplicates — the strongest clique evidence the
    pair list can give, and the signal that separates a true duplicate
    cluster (mutual, triangle-rich) from a template hub (a star: many
    pairs, no triangles, because the spokes don't match each other).
    Curation reads triangles/degree as a cohesion score before collapsing
    a component to one survivor.

    Rides the shared MinHash pair stage (one payer per suite run); the
    two-join oriented enumeration and its fan-out bound are documented on
    operators/graph.py:triangle_counts. Reference scope: mandated
    pipeline surface (SURVEY §2.C3 adjacents), not a reference operator.
    """
    pairs = _near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    out = triangle_counts(pairs)
    return out.select(F.col("node").alias("doc_id"), "triangles")


_LPA_ITERS = 3

# One synchronous LPA round as SQL: neighbor votes + one self-vote,
# majority with (cnt DESC, label ASC) tie-break — integer-only, total
# order, so bit-parity is free (no float contract needed).
_LPA_STEP = """
    l{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY cnt DESC, label ASC) AS rn
            FROM (
                SELECT node, label, COUNT(*) AS cnt FROM (
                    SELECT e.src AS node, l.label
                    FROM edges e JOIN l{prev} l ON l.node = e.dst
                    UNION ALL
                    SELECT node, label FROM l{prev}
                ) votes
                GROUP BY node, label
            ) tally
        ) ranked WHERE rn = 1
    )"""

_LPA_ORACLE = (
    "WITH "
    + _DUP_EDGES
    + """,
    l0 AS (SELECT doc_id AS node, doc_id AS label FROM documents),"""
    + ",".join(
        _LPA_STEP.format(i=i, prev=i - 1) for i in range(1, _LPA_ITERS + 1)
    )
    + f"""
    SELECT node AS doc_id, label AS community FROM l{_LPA_ITERS}
    """
)


@register("label_propagation_communities", oracle=_LPA_ORACLE)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community assignment for every document via synchronous label
    propagation (3 rounds, self-vote, min-label ties) on the verified
    near-dup graph. Where dedup_components floods min-labels across ANY
    reachability (one weak bridge merges two big clusters),
    majority voting keeps densely-linked groups separate — the community
    grain curation wants when near-dup clusters chain through borderline
    pairs. Isolated documents keep their own id as the community.

    Semantics, determinism, and the per-round scale shape are pinned on
    operators/graph.py:label_propagation; the oracle replays the same
    recurrence as chained CTEs over the same LSH-verified edge list.
    """
    p = _near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = p.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        p.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    labels = label_propagation(edges, nodes, iterations=_LPA_ITERS)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("community")
    )


# --- incremental triangle maintenance ------------------------------------
# Deterministic batch split: an edge is "newly arrived" when
# (doc_a + doc_b) % 5 == 0 -- the id-derived split idiom the streaming
# parities use to simulate an arriving batch relationally.
_TRI_NEW = "(doc_a + doc_b) % 5 = 0"

_TRI_IVM_ORACLE = (
    "WITH "
    + _DUP_EDGES
    + f""",
    e_old AS (SELECT doc_a, doc_b FROM pairs WHERE NOT ({_TRI_NEW})),
    e_new AS (SELECT doc_a, doc_b FROM pairs WHERE {_TRI_NEW}),
    tri_old AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM e_old e1
        JOIN e_old e2 ON e2.doc_a = e1.doc_b
        JOIN e_old e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    -- delta enumeration pivots on the NEW edges only: a candidate
    -- triangle touches a new edge in one of its three positions; the
    -- DISTINCT collapses triangles containing 2 or 3 new edges, which
    -- the per-position union would otherwise count multiple times
    tri_delta AS (
        SELECT DISTINCT a, b, c FROM (
            SELECT n.doc_a AS a, n.doc_b AS b, e2.doc_b AS c
            FROM e_new n
            JOIN pairs e2 ON e2.doc_a = n.doc_b
            JOIN pairs e3 ON e3.doc_a = n.doc_a AND e3.doc_b = e2.doc_b
            UNION ALL
            SELECT e1.doc_a, e1.doc_b, n.doc_b
            FROM e_new n
            JOIN pairs e1 ON e1.doc_b = n.doc_a
            JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = n.doc_b
            UNION ALL
            SELECT e3.doc_a, e1.doc_b, e3.doc_b
            FROM e_new e3
            JOIN pairs e1 ON e1.doc_a = e3.doc_a
            JOIN pairs e2 ON e2.doc_a = e1.doc_b AND e2.doc_b = e3.doc_b
        )
    ),
    cnt_old AS (
        SELECT node, COUNT(*) AS t FROM (
            SELECT a AS node FROM tri_old
            UNION ALL SELECT b FROM tri_old
            UNION ALL SELECT c FROM tri_old
        ) GROUP BY node
    ),
    cnt_delta AS (
        SELECT node, COUNT(*) AS t FROM (
            SELECT a AS node FROM tri_delta
            UNION ALL SELECT b FROM tri_delta
            UNION ALL SELECT c FROM tri_delta
        ) GROUP BY node
    ),
    tri_full AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    cnt_full AS (
        SELECT node, COUNT(*) AS t FROM (
            SELECT a AS node FROM tri_full
            UNION ALL SELECT b FROM tri_full
            UNION ALL SELECT c FROM tri_full
        ) GROUP BY node
    )
    SELECT COALESCE(o.node, d.node, f.node) AS doc_id,
           CAST(COALESCE(o.t, 0) AS BIGINT) AS t_before,
           CAST(COALESCE(d.t, 0) AS BIGINT) AS t_delta,
           CAST(COALESCE(o.t, 0) + COALESCE(d.t, 0) AS BIGINT) AS t_after,
           COALESCE(o.t, 0) + COALESCE(d.t, 0) = COALESCE(f.t, 0)
               AS matches_full
    FROM cnt_old o
    FULL JOIN cnt_delta d ON d.node = o.node
    FULL JOIN cnt_full f ON f.node = COALESCE(o.node, d.node)
    """
)


@register("triangle_ivm_delta", oracle=_TRI_IVM_ORACLE)
def triangle_ivm_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental triangle maintenance (IVM beyond aggregates): given the
    standing near-dup graph and a batch of newly arrived edges (the
    deterministic (a+b) % 5 split), update per-node triangle counts by
    enumerating ONLY triangles that touch a new edge -- the delta join
    pivots each new edge through its three possible triangle positions
    against the combined edge set, and a DISTINCT collapses triangles
    containing two or three new edges. Work scales with
    |new edges| x degree, never |standing graph|^2 -- the property that
    makes nightly dup-graph refreshes affordable when each crawl batch
    adds a sliver of edges.

    The matches_full column is the self-audit: t_before + t_delta
    recomputed against a full recount (the droppable-at-scale branch,
    same doctrine as the GDPR orphan audit and kmv_jaccard's exact
    columns) -- any miscounted multiplicity or missed position breaks the
    hash. Integer-only; rides the shared MinHash pair stage."""
    pairs = (
        _near_dup_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()  # true-pair-bounded; read by 7 joins below
    )
    is_new = (F.col("doc_a") + F.col("doc_b")) % 5 == 0
    e_old = pairs.where(~is_new)
    e_new = pairs.where(is_new)

    def tri_corners(tri: DataFrame) -> DataFrame:
        return (
            tri.select(F.col("a").alias("node"))
            .unionAll(tri.select(F.col("b").alias("node")))
            .unionAll(tri.select(F.col("c").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("t"))
        )

    tri_delta = triangle_delta(pairs, e_new)
    e1o, e2o, e3o = e_old.alias("e1"), e_old.alias("e2"), e_old.alias("e3")
    tri_old = (
        e1o.join(e2o, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3o,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    cnt_old = tri_corners(tri_old)
    cnt_delta = tri_corners(tri_delta)
    cnt_full = triangle_counts(pairs)

    o = cnt_old.select(F.col("node").alias("n_o"), F.col("t").alias("t_o"))
    d = cnt_delta.select(F.col("node").alias("n_d"), F.col("t").alias("t_d"))
    f = cnt_full.select(
        F.col("node").alias("n_f"), F.col("triangles").alias("t_f")
    )
    od = o.join(d, o["n_o"] == d["n_d"], "full")
    all_ = od.join(
        f, F.coalesce(od["n_o"], od["n_d"]) == f["n_f"], "full"
    )
    t_before = F.coalesce(F.col("t_o"), F.lit(0))
    t_delta = F.coalesce(F.col("t_d"), F.lit(0))
    return all_.select(
        F.coalesce(F.col("n_o"), F.col("n_d"), F.col("n_f")).alias("doc_id"),
        t_before.cast("long").alias("t_before"),
        t_delta.cast("long").alias("t_delta"),
        (t_before + t_delta).cast("long").alias("t_after"),
        ((t_before + t_delta) == F.coalesce(F.col("t_f"), F.lit(0))).alias(
            "matches_full"
        ),
    )
