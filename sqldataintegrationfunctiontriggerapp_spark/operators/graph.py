"""Graph analytics: fixed-iteration weighted PageRank as DataFrame joins.

The iterative families the engine already carries are label-propagation
connected components (operators/dedup.py) and Lloyd k-means
(operators/similarity.py); this adds the join-aggregate power-iteration
shape — the pattern behind PageRank, HITS, and label/belief propagation.

Semantics (simplified PageRank, the form in the original Page et al. 1998
paper and the canonical Spark example): for a weighted edge list
(src, dst, weight) and node set N,

    rank_0(v)   = 1 / |N|
    rank_i+1(v) = (1 - d) / |N|
                  + d * sum over in-edges (u, v, w) of
                        rank_i(u) * w / out_weight(u)

Dangling nodes (no out-edges) keep receiving rank but contribute nothing —
their mass leaks, exactly as in the simplified formulation. A fixed
iteration count keeps the operator deterministic and SQL-expressible (the
oracle is the same recurrence as chained CTEs).

Determinism contract (why the fixed-point floor inside the loop): the only
order-dependent step in an iteration is the SUM of per-edge contributions.
Each contribution is computed in double (rank * share — elementwise IEEE
ops, identical on any engine), scaled by 2^-53-exact 10^15, and FLOORed to
a BIGINT — floor of an identical double is an identical integer, with none
of the engine-specific double→DECIMAL rounding ambiguity (Spark converts
via the double's shortest string representation, DuckDB via the exact
binary expansion; at 18 fractional digits they disagree by 1 ulp — this
was measured, not guessed). The integer SUM is exact and
order-independent, the per-node total is < 10^15 < 2^53 so the cast back
to double is exact, and every other op is elementwise double arithmetic on
identical inputs — rank_i is bit-identical across engines and across
partitionings by induction. Truncation costs < |edges| * 1e-15 per node
per iteration, noise for a rank in [0, 1].

Scale shape: the edge list is the big input; it is aggregated/weighted by
the caller (for the registered query, a fact-table shuffle happens ONCE,
upstream). Each iteration is then two broadcast-sized joins
(edges ⋈ ranks on src, re-aggregate on dst) plus one hash aggregate on
dst — rank state is O(|N|) rows, never collected to the driver. For huge
node sets the same loop holds: joins shuffle on src/dst and AQE picks the
strategy; nothing here assumes the graph fits anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Fixed-point scale for the contribution accumulator: 10^15 is exactly
# representable as a double (2^15 * 5^15 < 2^53) and keeps per-node sums
# (total rank mass <= 1) below 2^53, so BIGINT<->double stays exact.
RANK_SCALE = 1e15

# Lineage of the O(|N|) per-node state grows by a few joins per round, so
# pagerank and label_propagation truncate it with localCheckpoint every
# _CHECKPOINT_EVERY rounds (same discipline as connected_components). Short
# fixed-iteration runs -- like the registered 3-iteration queries -- stay
# checkpoint-free (no extra jobs).
_CHECKPOINT_EVERY = 5


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration weighted PageRank.

    ``edges``: columns (src, dst, weight); parallel edges should be
    pre-aggregated (weights add). ``nodes``: column (node) listing every
    vertex (isolated and dangling nodes included). Returns (node, rank).

    ``edges`` is referenced ``iterations`` times; callers pass a
    localCheckpointed/persisted frame when it is expensive to recompute
    (the registered query does — see plans/graph.py). The rank frame's
    lineage is truncated every ``_CHECKPOINT_EVERY`` rounds.
    """
    n_nodes = nodes.count()  # bounded driver state: one long
    if n_nodes == 0:
        return nodes.select(
            F.col("node"), F.lit(None).cast("double").alias("rank")
        )
    base = (1.0 - damping) / n_nodes

    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    # (src, dst, share): the rank fraction dst receives from src.
    shares = edges.join(out_w, "src").select(
        "src",
        "dst",
        (F.col("weight").cast("double") / F.col("out_w").cast("double")).alias(
            "share"
        ),
    )

    ranks = nodes.select(
        "node", F.lit(1.0 / n_nodes).cast("double").alias("rank")
    )
    for it in range(iterations):
        contrib = (
            shares.join(ranks, shares["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.floor(
                    (F.col("rank") * F.col("share")) * F.lit(RANK_SCALE)
                ).alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("in_sum"))
        )
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.lit(damping)
                * (
                    F.coalesce(F.col("in_sum"), F.lit(0)).cast("double")
                    / F.lit(RANK_SCALE)
                )
            ).alias("rank"),
        )
        if (it + 1) % _CHECKPOINT_EVERY == 0:
            ranks = ranks.localCheckpoint()
    return ranks


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an ORIENTED pair list.

    ``pairs``: columns (doc_a, doc_b) with doc_a < doc_b, one row per
    undirected edge (the orientation the dedup pair stage already emits).
    Returns (node, triangles) for every node in >= 1 triangle.

    Shape: the canonical two-join enumeration — each triangle
    {a < b < c} is produced exactly once as (a,b) ⋈ (b,c) ⋈ (a,c), so no
    post-hoc division by 3/6. Orientation is what bounds the join fan-out:
    an unoriented formulation fans out on total degree d(v), this one on
    the out-degree of the lowest-id endpoint (the standard compact-
    forward / node-iterator++ argument, Schank & Wagner 2005), which the
    a < b < c constraint caps at roughly sqrt(|E|)-ish for skewed graphs.
    All joins are equi-joins on node ids — shuffle-partitioned, no
    broadcast assumption; integer counts, so no float-parity concern.
    """
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, e1["b"] == e2["b2"])
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label propagation (LPA, Raghavan et al. 2007) with a
    deterministic twist: each node votes for itself once alongside its
    neighbors' labels, and ties break on MIN label.

    ``edges``: (src, dst), both directions present for undirected graphs.
    ``nodes``: (node). Init label(v) = v; per round,
    label'(v) = argmax_label count({label(u): u in N(v)} ∪ {label(v)}),
    ties to the smallest label. Returns (node, label).

    The self-vote is the determinism fix for the classic two-clique
    oscillation (a pair a<b would swap labels forever under pure
    synchronous LPA); with it, label updates are monotone on symmetric
    pairs and a fixed iteration count is both deterministic and
    SQL-expressible (integer counts + a total (cnt DESC, label ASC)
    order — no float, no RNG, no partition sensitivity).

    Differs from connected components (operators/dedup.py): min-label
    flooding merges everything reachable; majority voting keeps weakly
    bridged dense groups apart — the community grain, not the
    reachability grain.

    Scale shape: each round is one edges ⋈ labels equi-join + one
    (node, label) hash aggregate + one per-node top-1 window — all
    shuffle-partitioned on node ids, state is O(|N|) and never collected.
    Lineage is truncated every ``_CHECKPOINT_EVERY`` rounds like the other
    iterative operators.
    """
    from pyspark.sql import Window

    labels = nodes.select("node", F.col("node").alias("label"))
    for it in range(iterations):
        neighbor_votes = (
            edges.join(labels, edges["dst"] == labels["node"])
            .select(edges["src"].alias("node"), "label")
        )
        votes = neighbor_votes.unionAll(labels.select("node", "label"))
        tally = votes.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.partitionBy("node").orderBy(
            F.col("cnt").desc(), F.col("label").asc()
        )
        labels = (
            tally.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "label")
        )
        if (it + 1) % _CHECKPOINT_EVERY == 0:
            labels = labels.localCheckpoint()
    return labels


def triangle_delta(pairs: DataFrame, e_new: DataFrame) -> DataFrame:
    """Distinct triangles {a < b < c} of the FULL oriented pair list that
    contain at least one edge from ``e_new`` (a subset of ``pairs``) --
    the delta enumeration for incremental triangle maintenance. Each new
    edge is pivoted through its three possible triangle positions against
    the combined edge set; the final distinct collapses triangles holding
    two or three new edges (which the per-position union enumerates two
    or three times). Work scales with |e_new| x degree, never |pairs|^2.
    """
    def leg(pivot_pos: str) -> DataFrame:
        n = e_new.alias("n")
        e1 = pairs.alias("e1")
        e2 = pairs.alias("e2")
        if pivot_pos == "ab":
            return (
                n.join(e2, F.col("e2.doc_a") == F.col("n.doc_b"))
                .join(
                    pairs.alias("e3"),
                    (F.col("e3.doc_a") == F.col("n.doc_a"))
                    & (F.col("e3.doc_b") == F.col("e2.doc_b")),
                )
                .select(
                    F.col("n.doc_a").alias("a"),
                    F.col("n.doc_b").alias("b"),
                    F.col("e2.doc_b").alias("c"),
                )
            )
        if pivot_pos == "bc":
            return (
                n.join(e1, F.col("e1.doc_b") == F.col("n.doc_a"))
                .join(
                    pairs.alias("e3"),
                    (F.col("e3.doc_a") == F.col("e1.doc_a"))
                    & (F.col("e3.doc_b") == F.col("n.doc_b")),
                )
                .select(
                    F.col("e1.doc_a").alias("a"),
                    F.col("e1.doc_b").alias("b"),
                    F.col("n.doc_b").alias("c"),
                )
            )
        return (  # pivot is the (a, c) closing edge
            n.join(e1, F.col("e1.doc_a") == F.col("n.doc_a"))
            .join(
                e2,
                (F.col("e2.doc_a") == F.col("e1.doc_b"))
                & (F.col("e2.doc_b") == F.col("n.doc_b")),
            )
            .select(
                F.col("n.doc_a").alias("a"),
                F.col("e1.doc_b").alias("b"),
                F.col("n.doc_b").alias("c"),
            )
        )

    return leg("ab").unionAll(leg("bc")).unionAll(leg("ac")).distinct()
