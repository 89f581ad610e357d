"""Similarity-search queries over `embeddings` (north-star C4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.operators import similarity as S
from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
    _release_stage,
    session_stage,
)
from sqldataintegrationfunctiontriggerapp_spark.plans.registry import register

# Shared IVF oracle skeleton: deterministic md5-ordered pivot sample,
# argmin-distance list assignment, per-query probe ranking -- the SQL
# mirror of ivf_pivots/ivf_assign/ivf_probe, used by both the top-k and
# the recall-sweep oracles.
_IVF_ORACLE_CTES = """
    corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pivots AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                   - 1 AS pidx,
               v AS pv, list_dot_product(v, v) AS pn2
        FROM corpus
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    ),
    cvec AS (
        -- zero-norm exclusion mirrors ivf_assign (r08); pivots stay
        -- UNFILTERED, matching ivf_pivots' raw md5 sample
        SELECT vec_id AS neighbor_id, v AS cv, list_dot_product(v, v) AS cn2
        FROM corpus WHERE list_dot_product(v, v) > 0
    ),
    qvec AS (
        -- zero-norm exclusion mirrors _probe_frame (r08)
        SELECT vec_id AS query_id, v AS qv, list_dot_product(v, v) AS qn2
        FROM corpus WHERE vec_id < 5 AND list_dot_product(v, v) > 0
    ),
    assigned AS (
        SELECT neighbor_id, cv, cn2, pidx AS list_id
        FROM (
            SELECT c.*, p.pidx,
                   row_number() OVER (
                       PARTITION BY c.neighbor_id
                       ORDER BY c.cn2 + p.pn2 - 2 * list_dot_product(c.cv, p.pv),
                                p.pidx) AS rn
            FROM cvec c CROSS JOIN pivots p
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qv, qn2, pidx AS list_id,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY qn2 + pn2 - 2 * list_dot_product(qv, pv),
                            pidx) AS INTEGER) AS probe_rank
        FROM qvec CROSS JOIN pivots
    ),
    scored AS (
        SELECT p.query_id, a.neighbor_id,
               list_dot_product(p.qv, a.cv) / sqrt(p.qn2 * a.cn2) AS cos,
               p.probe_rank
        FROM assigned a JOIN probes p USING (list_id)
        WHERE a.neighbor_id <> p.query_id
    )
"""


def _srp_bucket_sql(col: str, nbits: int = 4, dim: int = 64) -> str:
    """SQL mirror of operators.similarity.srp_bucket: the md5-derived
    hyperplanes are embedded as double literals (repr round-trips exactly;
    each component is k/2^48*2-1, exact in double)."""
    planes = S._hyperplanes(dim, nbits)
    terms = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        terms.append(
            f"CASE WHEN list_dot_product({col}, {lit}) >= 0"
            f" THEN {2 ** i} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


@register(
    "ann_cosine_topk",
    oracle="""
    WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings
                 -- zero-norm exclusion mirrors the Spark side (r08): a
                 -- NULL cos would otherwise still take a rank here
                 WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])) > 0),
    q AS (SELECT vec_id AS query_id, v AS qv FROM raw WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, v AS cv FROM raw),
    scored AS (
        SELECT query_id, neighbor_id,
               list_dot_product(qv, cv)
               / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cos
        FROM c CROSS JOIN q
        WHERE neighbor_id <> query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, cos
    FROM ranked WHERE rnk <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a fixed query set (vec_id < 5): broadcast
    queries, scan corpus once, per-query window top-k. The exact baseline for
    recall evaluation of the LSH path."""
    e = load_table(spark, sf_dir, "embeddings")
    out = S.brute_force_topk(e, e.where(F.col("vec_id") < 5), k=5)
    return out.withColumnRenamed("rank", "rnk").select(
        "query_id", "neighbor_id", "rnk", "cos"
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    cb AS (
        SELECT neighbor_id, cv, list_dot_product(cv, cv) AS cn2,
               {_srp_bucket_sql('cv')} AS bucket
        FROM c
        -- zero-norm exclusion mirrors the Spark side (r08); qb inherits it
        WHERE list_dot_product(cv, cv) > 0
    ),
    qb AS (
        SELECT neighbor_id AS query_id, cv AS qv, cn2 AS qn2, bucket
        FROM cb WHERE neighbor_id < 5
    ),
    scored AS (
        SELECT q.query_id, c2.neighbor_id,
               list_dot_product(q.qv, c2.cv) / sqrt(q.qn2 * c2.cn2) AS cos
        FROM cb c2 JOIN qb q USING (bucket)
        WHERE c2.neighbor_id <> q.query_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, cos
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed top-k (nbits=4): compares only same-bucket vectors --
    the 100 TB scale path where the full scan per query is unaffordable.
    Approximate vs the exact scan (recall asserted in tests) yet fully
    DETERMINISTIC -- the hyperplanes derive from md5, so the oracle embeds
    them as double literals and replicates bucketing, same-bucket join,
    and ranking exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.lsh_topk(e, e.where(F.col("vec_id") < 5), k=5, nbits=4, dim=64)


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_IVF_ORACLE_CTES}
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, cos
    FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored WHERE probe_rank <= 4
    ) WHERE rnk <= 5
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer top-k (n_lists=16, n_probe=4): a deterministic
    pivot sample partitions the corpus into inverted lists; each query
    scans only its 4 nearest lists. Probes the shared assigned-corpus
    index (pivots collected + argmin assignment checkpointed once per
    session+sf_dir, reused by ann_ivf_recall_sweep): filtering
    probe_rank <= 4 of the full-probe stream IS the n_probe=4 result,
    because probe ranks order a query's lists by distance identically at
    every depth. Exactness at n_probe=n_lists and recall-vs-exact are
    asserted in tests."""
    scored = _ivf_full_scored(spark, sf_dir).where(F.col("probe_rank") <= 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


@register(
    "ann_ivf_blas_topk",
    oracle=f"""
    WITH {_IVF_ORACLE_CTES}
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, cos
    FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored WHERE probe_rank <= 4
    ) WHERE rnk <= 5
    """,
)
def ann_ivf_blas_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BLAS probe kernel (r08) as driver-hashed evidence: the same IVF
    semantics as ann_ivf_topk (n_lists=16, n_probe=4, k=5, queries
    vec_id < 5) scored by ivf_probe_topk_blas' per-list dgemm instead of
    the JVM fold join. Bit-identical by construction -- list selection is
    the shared _probe_frame expression and the margin-buffered cut +
    exact accumulate re-score reproduce the fold cosine doubles
    (operators/similarity.py ivf_probe_topk_blas; test-pinned) -- so it
    shares ann_ivf_topk's oracle verbatim and the driver hashes the
    mapInPandas kernel against it directly. Builds its own index (one
    pivots collect + argmin map) rather than riding the shared
    full-probe pair stage, which memoizes the JOINED stream the BLAS
    path exists to avoid."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk_blas(
        e, e.where(F.col("vec_id") < 5), k=5, n_lists=16, n_probe=4
    )


def _standing_ivf_index(spark: SparkSession, sf_dir: str):
    """Session-memoized STANDING IVF index: pivots (n_lists=16) + argmin
    assignment written as a managed table BUCKETED 8 ways on list_id
    (sinks/table_sink.write_bucketed) -- the persisted layout
    ivf_assign's docstring promises is 're-queried by ivf_probe without
    re-assignment'. Returns (StagedDir, table_name, pivots); the table
    name embeds an sf_dir tag (the join_bucketed_colocated discipline) so
    fixture switches never collide in the catalog."""
    import hashlib
    import os
    import tempfile

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        StagedDir,
        session_stage,
    )
    from sqldataintegrationfunctiontriggerapp_spark.sinks.table_sink import (
        write_bucketed,
    )

    def build():
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        base = tempfile.mkdtemp(prefix=f"ivf_standing_{tag}_")
        import atexit
        import shutil

        atexit.register(shutil.rmtree, base, ignore_errors=True)
        name = f"ivf_standing_idx_{tag}"
        e = load_table(spark, sf_dir, "embeddings")
        pivots = S.ivf_pivots(e, 16)
        write_bucketed(
            S.ivf_assign(e, pivots), name, "list_id", 8,
            path=os.path.join(base, "idx"),
        )
        return (StagedDir(base), name, pivots)

    return session_stage(spark, sf_dir, "ivf_standing_idx_16", build)


@register(
    "ann_ivf_standing_topk",
    oracle=f"""
    WITH {_IVF_ORACLE_CTES}
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, cos
    FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored WHERE probe_rank <= 4
    ) WHERE rnk <= 5
    """,
)
def ann_ivf_standing_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STANDING-index serving path as driver-hashed evidence (r10):
    ivf_assign's docstring has claimed since r08 that the index frame
    'written bucketed by list_id is re-queried by ivf_probe without
    re-assignment' -- this query actually ships that path: build + bucketed
    write once per session+sf_dir (_standing_ivf_index, the one-time
    investment a 100M-vector service amortizes), then probe the RE-READ
    managed table with the same n_lists=16 / n_probe=4 / k=5 / vec_id<5
    parameters as ann_ivf_topk. No re-assignment happens at probe time --
    the corpus side of the probe join is the bucketed table scan, arriving
    pre-partitioned on the join key (the join_bucketed_colocated layout
    discipline), and list selection is the shared _probe_frame expression.
    Shares ann_ivf_topk's oracle verbatim, so the driver hash proves
    write -> re-read -> probe loses nothing vs the in-session index:
    same lists probed, bit-identical cosines, same ranks."""
    _, name, pivots = _standing_ivf_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    scored = S.ivf_probe(
        spark.table(name), e.where(F.col("vec_id") < 5), pivots, n_probe=4
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _ivf_ctes_suffixed(suffix: str, corpus_pred: str = "TRUE") -> str:
    """_IVF_ORACLE_CTES with every CTE name suffixed (so two index
    generations coexist in one WITH clause) and the corpus filtered by
    `corpus_pred` -- the SQL mirror of building an index over a corpus
    snapshot."""
    import re

    s = _IVF_ORACLE_CTES.replace(
        "FROM embeddings", f"FROM embeddings WHERE {corpus_pred}"
    )
    for name in ("corpus", "pivots", "cvec", "qvec", "assigned", "probes",
                 "scored"):
        s = re.sub(rf"\b{name}\b", f"{name}{suffix}", s)
    return s


@register(
    "ann_index_publish_probe",
    oracle=f"""
    WITH {_ivf_ctes_suffixed("_a", "vec_id % 2 = 0")},
    {_ivf_ctes_suffixed("_b")}
    SELECT 'v1' AS version, query_id, neighbor_id,
           CAST(rnk AS INTEGER) AS rnk, cos
    FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored_a WHERE probe_rank <= 4
    ) WHERE rnk <= 5
    UNION ALL
    SELECT 'v2' AS version, query_id, neighbor_id,
           CAST(rnk AS INTEGER) AS rnk, cos
    FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored_b WHERE probe_rank <= 4
    ) WHERE rnk <= 5
    """,
)
def ann_index_publish_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX REFRESH THROUGH THE ATOMIC SWAP -- the composition that makes
    a standing ANN index operable: the versioned-layout machinery built
    for compaction (sinks/table_sink.py publish_layout/table_current) is
    exactly what an index rebuild needs, and this entry proves it
    end-to-end under the hash gate. Generation v1 indexes the corpus
    snapshot at half-ingest (even vec_ids -- a crawl mid-backfill),
    generation v2 the full corpus; each generation writes its assignment
    parquet AND its pivot metadata (pivots.json -- the layout carries
    everything needed to serve, and the probe reloads pivots FROM the
    published directory rather than from driver memory) into a staging
    dir, publishes via the validate-then-os.replace pointer commit with
    keep=2, and is probed THROUGH table_current. The oracle replays both
    generations (suffixed IVF CTEs over the filtered/full corpus), so a
    probe that read a stale pointer, a publish that lost the pivot
    metadata, or a GC that deleted the serving generation all break the
    hash; the v1 directory surviving v2's publish (the keep=2 audit
    window) is asserted in the build.

    100 TB shape: the rebuild is the ivf_assign scan-and-write; readers
    resolve one small pointer file per job and never observe a partial
    index -- the exact contract a 100M-vector serving tier needs for
    zero-downtime refresh."""
    import atexit
    import hashlib
    import json
    import os
    import shutil
    import tempfile

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        StagedDir,
        session_stage,
    )
    from sqldataintegrationfunctiontriggerapp_spark.sinks.table_sink import (
        publish_layout,
        table_current,
    )

    def build():
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        base = tempfile.mkdtemp(prefix=f"ann_pub_{tag}_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        root = os.path.join(base, "index_root")
        e = load_table(spark, sf_dir, "embeddings")
        published = []
        parts = []
        for version, snapshot in (
            ("v1", e.where(F.col("vec_id") % 2 == 0)),
            ("v2", e),
        ):
            pivots = S.ivf_pivots(snapshot, 16)
            staging = os.path.join(base, f"staging_{version}")
            assigned = S.ivf_assign(snapshot, pivots)
            assigned.write.parquet(os.path.join(staging, "assigned"))
            with open(os.path.join(staging, "pivots.json"), "w") as f:
                json.dump(pivots, f)
            # the index was written from `assigned`: read it back with that
            # schema instead of running a schema inference job
            index_schema = assigned.schema

            def validate(p):
                if spark.read.schema(index_schema).parquet(
                    os.path.join(p, "assigned")
                ).where(F.col("list_id").isNull()).count():
                    raise ValueError("null list_id in staged index")

            published.append(
                publish_layout(root, staging, validate=validate, keep=2)
            )
            # serve THROUGH the pointer: layout carries index + pivots
            cur = table_current(root)
            with open(os.path.join(cur, "pivots.json")) as f:
                served_pivots = json.load(f)
            idx = spark.read.schema(index_schema).parquet(
                os.path.join(cur, "assigned")
            )
            scored = S.ivf_probe(
                idx, snapshot.where(F.col("vec_id") < 5), served_pivots,
                n_probe=4,
            )
            w = Window.partitionBy("query_id").orderBy(
                F.desc("cos"), "neighbor_id"
            )
            parts.append(
                scored.withColumn("rnk", F.row_number().over(w))
                .where(F.col("rnk") <= 5)
                .select(
                    F.lit(version).alias("version"),
                    "query_id", "neighbor_id", "rnk", "cos",
                )
                .localCheckpoint()
            )
        # keep=2: the superseded generation stays readable for audits
        if not os.path.isdir(published[0]):
            raise RuntimeError(f"{published[0]}: v1 GC'd despite keep=2")
        if table_current(root) != published[1]:
            raise RuntimeError(f"{root}: current index is not {published[1]}")
        return (StagedDir(base), parts[0].unionByName(parts[1]))

    _dir, out = session_stage(spark, sf_dir, "ann_index_publish", build)
    return out


# Shared IVF stage (same memo pattern as plans/dedup.py): ONE pivots
# collect + argmin assignment + full-probe JOIN per session+sf_dir,
# materialized as raw (qv, cv, norms, probe_rank) pairs. The join is
# checkpointed WITHOUT the cosine projection: Spark 4.1.2's whole-stage
# codegen mis-binds higher-order-function expressions (the dot fold)
# placed in a broadcast-join projection when that join is materialized as
# its own tiny plan (INTERNAL_ERROR ATTRIBUTE_NOT_FOUND), so the HOF
# cosine is applied after materialization as a single-side map
# (operators/similarity.py ivf_probe_pairs/score_pairs). Memoization +
# dead-application eviction shared with plans/dedup.py via
# plans/_util.py session_stage.


def _ivf_assigned_16(spark: SparkSession, sf_dir: str):
    """(pivots, checkpointed assignment) of the DEFAULT n_lists=16 index,
    memoized once per session+sf_dir (OPTIMIZATION r15): the full-probe
    pair stage and the routed entry's pair stage used to each collect
    their own pivots and run their own assignment over the SAME corpus
    with the SAME md5-ordered sample -- identical frames built twice
    (~3 s of the routed entry's bench cost). The assignment is
    query-set-independent, so sharing it changes nothing downstream;
    entries that must rebuild an index by contract (standing/bucketed,
    publish/swap, blas-build) keep their own builds."""

    def build():
        e = load_table(spark, sf_dir, "embeddings")
        pivots = S.ivf_pivots(e, n_lists=16)
        if not pivots:
            return (pivots, None)
        return (pivots, S.ivf_assign(e, pivots).localCheckpoint())

    return session_stage(spark, sf_dir, "ivf_assigned_16", build)


def _ivf_full_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-probe scored stream over the shared checkpointed pair stage."""

    def build():
        e = load_table(spark, sf_dir, "embeddings")
        q = e.where(F.col("vec_id") < 5)
        pivots, assigned = _ivf_assigned_16(spark, sf_dir)
        if not pivots:
            pairs = q.select(
                F.col("vec_id").alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").cast("array<double>").alias("qv"),
                F.lit(0.0).alias("qn2"),
                F.col("embedding").cast("array<double>").alias("cv"),
                F.lit(0.0).alias("cn2"),
                F.lit(1).cast("int").alias("probe_rank"),
            ).where(F.lit(False))
        else:
            pairs = S.ivf_probe_pairs(assigned, q, pivots, n_probe=16)
        return pairs.localCheckpoint()

    return S.score_pairs(session_stage(spark, sf_dir, "ivf_pairs_16", build))


# Operating points for the routed-ANN entry (VERDICT r13 #5): the recall
# curve is the fixture index's shape (n_lists=16; n_probe=4 ~ 0.94 recall,
# the level ann_ivf_topk/ann_ivf_recall_sweep pin in tests), the cost rows
# carry the r13 20Mx64 sweep's MEASURED shape (COVERAGE: standing IVF wins
# small batches ~5-10x, exact dgemm wins from |Q|~100 up) mapped onto the
# fixture's n_probe=4 operating point. route_ann is pure driver-side
# metadata arithmetic either way -- what the registered entry adds is the
# decision EXERCISED under the hash gate, both branches.
_ROUTE_CURVE = [(2, 0.61), (4, 0.94), (8, 0.99), (16, 1.0)]
_ROUTE_COST = {
    10: {"exact": 101.8, 4: 10.6},
    100: {"exact": 37.2, 4: 19.8},
    1000: {"exact": 60.8, 4: 117.9},
}


def _exact_oracle_ctes(qpred: str) -> str:
    return f"""
    raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
            WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) > 0),
    q AS (SELECT vec_id AS query_id, v AS qv FROM raw WHERE {qpred}),
    c AS (SELECT vec_id AS neighbor_id, v AS cv FROM raw),
    exact_ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM (
            SELECT query_id, neighbor_id,
                   list_dot_product(qv, cv)
                   / sqrt(list_dot_product(qv, qv)
                          * list_dot_product(cv, cv)) AS cos
            FROM c CROSS JOIN q
            WHERE neighbor_id <> query_id
        )
    )
    """


@register(
    "ann_routed_topk",
    oracle=f"""
    WITH {_IVF_ORACLE_CTES.replace("vec_id < 5", "vec_id < 10")},
    {_exact_oracle_ctes("vec_id < 500")}
    SELECT CAST(10 AS INT) AS batch, 'ivf' AS route,
           query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, cos
    FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored WHERE probe_rank <= 4
    ) WHERE rnk <= 5
    UNION ALL
    SELECT CAST(500 AS INT) AS batch, 'exact' AS route,
           query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, cos
    FROM exact_ranked WHERE rnk <= 5
    """,
)
def ann_routed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route_ann exercised END-TO-END under the hash gate (VERDICT r13
    #5): two query batches arrive against the same corpus -- |Q|=10 and
    |Q|=500 -- and the router picks each one's execution strategy from
    the measured operating points (_ROUTE_CURVE/_ROUTE_COST; the r13
    sweep's shape: IVF wins small batches, exact wins big ones). The
    |Q|=10 batch MUST route to ('ivf', 4) and execute the inverted-list
    probe; the |Q|=500 batch MUST route to 'exact' and execute the
    brute-force scan -- asserted at plan-build time, and the oracle
    replays both branches exactly (IVF CTEs at n_probe=4 for the small
    batch, full cosine ranking for the big one), so a routing regression
    flips rows between branches and breaks the hash.

    100 TB design: the decision is O(1) driver-side metadata beside the
    index; the branches are the already-laddered paths (bucketed
    list-probe join vs one streamed scan/dgemm pass). Batch-size routing
    is exactly what a production retrieval tier does per request class
    (interactive lookups vs offline joins)."""
    e = load_table(spark, sf_dir, "embeddings")

    d10 = S.route_ann(10, 0.9, _ROUTE_CURVE, _ROUTE_COST)
    d500 = S.route_ann(500, 0.9, _ROUTE_CURVE, _ROUTE_COST)
    if d10 != ("ivf", 4) or d500 != "exact":
        raise RuntimeError(f"route_ann moved off the calibrated routes: "
                           f"{d10}, {d500}")

    # ivf branch, |Q|=10: probe pairs over the SHARED session-staged
    # assignment (_ivf_assigned_16 -- same pivots, same argmin frame the
    # full-probe stage uses; only the query set differs)
    def build():
        q = e.where(F.col("vec_id") < 10)
        pivots, assigned = _ivf_assigned_16(spark, sf_dir)
        return S.ivf_probe_pairs(assigned, q, pivots, n_probe=16)\
            .localCheckpoint()

    scored = S.score_pairs(
        session_stage(spark, sf_dir, "ivf_routed_pairs_16", build)
    ).where(F.col("probe_rank") <= d10[1])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    ivf_rows = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select(
            F.lit(10).cast("int").alias("batch"),
            F.lit("ivf").alias("route"),
            "query_id", "neighbor_id", "rnk", "cos",
        )
    )

    # exact branch, |Q|=500: brute-force scan (broadcast queries) on the
    # dgemm kernel -- the regime the router's cost table models ("exact
    # dgemm wins from |Q|~100 up", _ROUTE_COST): the JVM fold kernel
    # evaluated the 500x2000 scored stream as ONE interpreted-HOF task
    # (measured: a single 5.7-6.9 s single-task job = the whole entry's
    # cost, OPTIMIZATION r16); the blas kernel scores each Arrow batch in
    # one dgemm and ships only per-batch candidates to the rank window --
    # bit-identical rows (ids, ranks AND cosines) by
    # test_topk_kernels_agree_bitwise.
    exact_rows = (
        S.brute_force_topk_blas(e, e.where(F.col("vec_id") < 500), k=5)
        .select(
            F.lit(500).cast("int").alias("batch"),
            F.lit("exact").alias("route"),
            "query_id", "neighbor_id",
            F.col("rank").alias("rnk"), "cos",
        )
    )
    return ivf_rows.unionByName(exact_rows)


@register(
    "embedding_norms",
    oracle="""
    SELECT label,
           COUNT(*) AS n,
           CAST(SUM(CAST(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                               CAST(embedding AS DOUBLE[])))
                         AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-expression coverage: per-label mean L2 norm of the embedding
    column (JVM-side fold, no Python in the loop)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(S.dot(v, v))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(norm.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))).alias(
            "mean_norm"
        ),
    )


@register(
    "embedding_centroids",
    oracle="""
    WITH flat AS (
        SELECT label,
               UNNEST(CAST(embedding AS DOUBLE[])) AS val,
               UNNEST(range(len(embedding))) AS pos
        FROM embeddings
    )
    SELECT label, CAST(pos AS INTEGER) AS pos,
           CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mval,
           COUNT(*) AS n_vectors
    FROM flat GROUP BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column -- the k-means M-step /
    class-prototype primitive for embedding analytics.

    Output grain is the FLATTENED (label, pos, mval, n_vectors) row -- one
    row per centroid component -- rather than an array column: array-typed
    results are unhashable in the driver's pandas canonicalizer (round-2
    VERDICT "What's wrong" #1), and the flat grain carries identical
    information (the centroid is `mval ORDER BY pos`).

    Scale shape: posexplode fans each vector into (label, pos, val) rows,
    then ONE partial/final hash aggregate on (label, pos) does all the
    arithmetic map-side before the exchange -- shuffle volume is
    O(labels x dim), independent of row count. No collect, no UDF, no
    per-vector state. Decimal accumulators keep the elementwise means
    bit-identical to the DuckDB oracle (see plans/_util.py).
    """
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return flat.groupBy("label", "pos").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mval"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@register(
    "ann_ivf_recall_sweep",
    oracle=f"""
    WITH {_IVF_ORACLE_CTES},
    depths AS (SELECT * FROM (VALUES (1),(2),(4),(8),(16)) AS t(n_probe)),
    approx AS (
        SELECT n_probe, query_id, neighbor_id
        FROM (
            SELECT d.n_probe, s.query_id, s.neighbor_id,
                   row_number() OVER (PARTITION BY d.n_probe, s.query_id
                                      ORDER BY s.cos DESC, s.neighbor_id) AS rnk
            FROM scored s JOIN depths d ON s.probe_rank <= d.n_probe
        ) WHERE rnk <= 5
    ),
    exact AS (
        SELECT query_id, neighbor_id
        FROM (
            SELECT q.query_id, c.neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.qv, c.cv)
                                / sqrt(q.qn2 * c.cn2) DESC,
                                c.neighbor_id) AS rnk
            FROM cvec c CROSS JOIN qvec q
            WHERE c.neighbor_id <> q.query_id
        ) WHERE rnk <= 5
    ),
    agg AS (
        SELECT a.n_probe,
               CAST(SUM(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE)
               / GREATEST((SELECT COUNT(*) FROM exact), 1) AS recall_at_5
        FROM approx a
        LEFT JOIN exact e
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY a.n_probe
    )
    SELECT d.n_probe, COALESCE(a.recall_at_5, 0.0) AS recall_at_5
    FROM depths d LEFT JOIN agg a USING (n_probe)
    """,
)
def ann_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index vs the exact scan, swept over probing
    depth -- the query an engineer runs to choose n_probe before a 100 TB
    ANN deployment. For each n_probe the IVF result joins the exact top-5
    (semi join on (query, neighbor)) and recall = |hits| / |exact|;
    n_probe = n_lists must read exactly 1.0, which the unit test asserts.
    Fully deterministic (md5-ordered pivot sample, argmin-distance
    assignment, lexicographic tie-breaks), so the whole sweep IS
    SQL-expressible and carries a DuckDB oracle mirroring every stage --
    pivot selection, list assignment, probe ranking, per-depth window,
    exact-join recall. Every depth always emits a row (right join against
    the literal depth set) and an empty exact set divides by 1, not 0.

    Cost shape: the pivots collect + argmin corpus assignment come from
    the shared session index (one build, reused by ann_ivf_topk); the
    full-probe scored stream over it holds EVERY (query, neighbor) cosine
    -- each corpus vector lives in exactly one probed list -- so the exact
    top-5 baseline is a window over that same stream, not a second
    brute-force corpus pass. ALL probing depths are evaluated in one
    plan: each scored row explodes to the depths that would have seen it,
    one window ranks every (depth, query) slice, one broadcast left join
    against the exact top-5 marks hits, one aggregate emits the sweep --
    not one IVF run (or even one job) per depth."""
    scored = _ivf_full_scored(spark, sf_dir)
    w_exact = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    # exact derives from the checkpointed stream with one tiny window; its
    # row count rides a 1-row broadcast instead of a driver-side count(),
    # so the whole sweep stays ONE action with no eager jobs
    exact = (
        scored.withColumn("rank", F.row_number().over(w_exact))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    n_exact_df = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    depths = F.array([F.lit(d) for d in (1, 2, 4, 8, 16)])
    expanded = scored.withColumn(
        "n_probe",
        F.explode(F.filter(depths, lambda d: F.col("probe_rank") <= d)),
    )
    w = Window.partitionBy("n_probe", "query_id").orderBy(F.desc("cos"), "neighbor_id")
    approx = (
        expanded.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("n_probe", "query_id", "neighbor_id")
    )
    hits = approx.join(
        F.broadcast(exact.withColumn("_hit", F.lit(1))),
        ["query_id", "neighbor_id"],
        "left",
    )
    agg = (
        hits.groupBy(F.col("n_probe").cast("int").alias("n_probe"))
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"))
        .crossJoin(F.broadcast(n_exact_df))
        .select(
            "n_probe",
            (
                F.col("n_hit").cast("double")
                / F.greatest(F.col("n_exact"), F.lit(1))  # empty exact: /1
            ).alias("recall_at_5"),
        )
    )
    # 5-rows-always contract: a depth with zero scored rows (degenerate
    # corpus) still emits recall 0.0 instead of vanishing from the sweep
    depths_df = spark.createDataFrame([(d,) for d in (1, 2, 4, 8, 16)], "n_probe int")
    return depths_df.join(F.broadcast(agg), "n_probe", "left").select(
        "n_probe", F.coalesce("recall_at_5", F.lit(0.0)).alias("recall_at_5")
    )


@register(
    "embedding_quantize_error",
    oracle="""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x,
               list_min(CAST(embedding AS DOUBLE[])) AS vmin,
               list_max(CAST(embedding AS DOUBLE[])) AS vmax
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, label, vmin, vmax,
               list_transform(
                   x,
                   e -> e - (vmin + round((e - vmin) / ((vmax - vmin) / 255))
                                    * ((vmax - vmin) / 255))
               ) AS err
        FROM v WHERE vmax > vmin
    )
    SELECT vec_id, label, vmin, vmax,
           list_dot_product(err, err) / len(err) AS mse_q8
    FROM q
    """,
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization quality audit: per-vector min/max scale,
    round-trip each component through the 256-level grid, report the mean
    squared reconstruction error -- the number that decides whether an ANN
    index can store int8 instead of float32 (4x memory at 100 TB). Pure
    array expressions (transform + the shared dot fold); constant-range
    vectors (vmax == vmin) quantize losslessly and are excluded on both
    sides. round() on a non-negative argument is half-up in both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding").cast("array<double>")
    base = e.select(
        "vec_id", "label", x.alias("x"),
        F.array_min(x).alias("vmin"), F.array_max(x).alias("vmax"),
    ).where(F.col("vmax") > F.col("vmin"))
    scale = (F.col("vmax") - F.col("vmin")) / 255
    err = F.transform(
        F.col("x"),
        lambda v: v - (F.col("vmin") + F.round((v - F.col("vmin")) / scale)
                       * scale),
    )
    return base.select(
        "vec_id", "label", "vmin", "vmax",
        (S.dot(err, err) / F.size(err)).alias("mse_q8"),
    )


# K-means oracle pieces (same exact-mirror discipline as the IVF CTEs):
# assignment = argmin squared distance with cid tie-break, mean update =
# per-dimension DECIMAL(18,6) average, empty clusters carry the previous
# centroid forward via COALESCE.

def _km_assign_sql(cents_cte: str, corpus_cte: str = "corpus") -> str:
    return f"""
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, e.v)
                                + list_dot_product(c.cv, c.cv)
                                - 2 * list_dot_product(e.v, c.cv),
                                c.cid) AS rn
            FROM {corpus_cte} e CROSS JOIN {cents_cte} c
        ) WHERE rn = 1
    """


def _km_update_sql(t: int, prev_a: str, prev_c: str, dim: int = 64,
                   corpus_cte: str = "corpus", sfx: str = "") -> str:
    # sfx namespaces the emitted m/c CTEs (m{sfx}{t}, c{sfx}{t}) so the PQ
    # oracle can unroll one independent Lloyd chain per subspace; the
    # default-"" output is byte-identical to the pre-r10 generator the
    # kmeans_clusters / dedup_semantic oracles hash against
    return f"""
    m{sfx}{t} AS (
        SELECT a.cid, t.i AS dim,
               CAST(SUM(CAST(e.v[t.i] AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) AS mu
        FROM {prev_a} a JOIN {corpus_cte} e USING (vec_id),
             generate_series(1, {dim}) t(i)
        GROUP BY a.cid, t.i
    ),
    c{sfx}{t} AS (
        SELECT p.cid, COALESCE(m.mv, p.cv) AS cv
        FROM {prev_c} p LEFT JOIN (
            SELECT cid, list(mu ORDER BY dim) AS mv
            FROM m{sfx}{t} GROUP BY cid
        ) m USING (cid)
    )
    """


# The unrolled 2-iteration k-means CTE chain, shared by the kmeans_clusters
# oracle and the dedup_semantic oracle (which scores within-cluster pairs
# over the same final assignment a2).
_KMEANS_CTES = f"""corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS cid,
               v AS cv
        FROM corpus
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 8
    ),
    a0 AS ({_km_assign_sql('c0')}),
    {_km_update_sql(1, 'a0', 'c0')},
    a1 AS ({_km_assign_sql('c1')}),
    {_km_update_sql(2, 'a1', 'c1')},
    a2 AS ({_km_assign_sql('c2')})"""

_KMEANS_ORACLE = f"""
    WITH {_KMEANS_CTES}
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id FROM a2
"""


def _kmeans_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized final k-means assignment (k=8, iters=2) -- the
    (vec_id, cluster_id) frame kmeans_clusters returns and dedup_semantic
    builds its within-cluster pair join on. The EXPENSIVE part of the fit
    (each iteration's mean-update jobs, <=k*dim driver metadata per
    collect) runs once at build time; the memoized value is deliberately
    NOT checkpointed -- it is the LAZY final argmin map with the fitted
    centroids embedded as literals, so its plan stays the pure
    scan-plus-map the plan-shape test pins, and a re-action re-runs only
    that one cheap map."""

    def build():
        e = load_table(spark, sf_dir, "embeddings")
        return S.kmeans_lloyd(e, k=8, iters=2)

    return session_stage(spark, sf_dir, "kmeans_a2_k8_i2", build)


@register("kmeans_clusters", oracle=_KMEANS_ORACLE)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering of the embedding corpus: 2 Lloyd rounds of
    k-means (k=8) from a deterministic md5-ordered seed, final assignment
    returned as (vec_id, cluster_id) -- the curation step that balances
    topic mixtures or flags degenerate content clusters before training.

    Everything is exact-mirrorable (operators/similarity.py kmeans_lloyd):
    seeding reuses the IVF pivot sample, each assignment is the broadcast
    argmin map (no shuffle), and mean updates route per-dimension sums
    through DECIMAL(18,6), so the oracle replays the identical unrolled
    iterations and the driver hash-checks a full iterative ML algorithm --
    the same evidence discipline connected-components gets from its
    recursive-CTE oracle. The oracle's CROSS JOIN corpus x centroids is
    oracle-side only; Spark's per-row cost is a k-term array expression."""
    return _kmeans_assignment(spark, sf_dir)


@register(
    "dedup_semantic",
    oracle=f"""
    WITH {_KMEANS_CTES},
    vec AS (
        SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM corpus
    ),
    member AS (
        -- zero-norm vectors stay in the OUTPUT (they are legitimate
        -- k-means points) but never enter the pair scoring: their cosine
        -- is undefined, matching the engine's try_divide/exclusion rule
        SELECT a.vec_id, a.cid, v.v, v.n2
        FROM a2 a JOIN vec v USING (vec_id)
        WHERE v.n2 > 0
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.v, b.v) / sqrt(a.n2 * b.n2) AS cos
        FROM member a JOIN member b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    dups AS (
        SELECT id_b AS vec_id, MIN(id_a) AS dup_of,
               COUNT(*) AS n_dups, MAX(cos) AS max_cos
        FROM pairs WHERE cos >= 0.4
        GROUP BY id_b
    )
    SELECT a.vec_id, CAST(a.cid AS INTEGER) AS cluster_id,
           d.dup_of,
           CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups,
           d.max_cos,
           (d.dup_of IS NOT NULL) AS is_dup
    FROM a2 a LEFT JOIN dups d USING (vec_id)
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication = cluster the embedding corpus, then score cosine pairs
    ONLY within clusters -- a document is a duplicate if a smaller-id
    same-cluster neighbor scores >= tau (min-id survivor, deterministic).
    Output is one row per vector: its cluster, the canonical survivor it
    duplicates (NULL if kept), how many in-cluster near-dups it has, and
    the strongest of those cosines.

    Composes two hash-green stages: the memoized k-means assignment
    (_kmeans_assignment -- shared with kmeans_clusters, one Lloyd fit per
    session) and the cosine kernel discipline (try_divide + zero-norm
    exclusion from the pair stream; zero vectors stay in the output with
    is_dup = false).

    Scale shape (100 TB): this is SemDeDup's entire reason to exist -- the
    all-pairs O(n^2) cosine join becomes an EQUI-join on cluster_id, so
    work is sum over clusters of c_i^2; production keeps CLUSTER SIZE
    roughly constant (the paper uses 50k clusters for LAION, k ~ n/1000),
    which makes the pair stage LINEAR in corpus size. The pair stream
    shuffles both sides by cluster_id (AQE splits a skewed mega-cluster),
    the per-dup aggregate is a keyed hash agg, and the final left join
    returns to the assignment grain. k=8 here is oracle-bound (the
    unrolled k-means CTE chain), not the production setting.

    Pair-stage routing (r09, VERDICT r08 #3): the stream comes from
    S.semantic_pairs_auto -- the all-JVM codegen fold equi-join when every
    cluster fits the fold comfort bound (the plan this registered oracle
    hashes at sf0.01, where max cluster ~ 100), auto-switching the stage
    to the per-cluster blocked-dgemm kernel (the SHARED _blocked_pairs_dgemm
    back end, bit-identical by the kernel-sharing test pin) when any
    cluster exceeds _SEMANTIC_FOLD_MAX_CLUSTER -- the mega-cluster shape
    measured ~80x faster under dgemm in the r08 sf1 sweep."""
    assign = _kmeans_assignment(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    v = S._as_double("embedding")
    vec = e.select("vec_id", v.alias("v")).withColumn(
        "n2", S.dot(F.col("v"), F.col("v"))
    )
    member = assign.join(vec.where(F.col("n2") > 0), "vec_id")
    dups = (
        S.semantic_pairs_auto(member, 0.4)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(
            F.min("id_a").alias("dup_of"),
            F.count(F.lit(1)).alias("n_dups"),
            F.max("cos").alias("max_cos"),
        )
    )
    return assign.join(dups, "vec_id", "left").select(
        "vec_id",
        "cluster_id",
        "dup_of",
        F.coalesce("n_dups", F.lit(0)).cast("long").alias("n_dups"),
        "max_cos",
        F.col("dup_of").isNotNull().alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Product quantization (Jegou et al.): m independent per-subspace codebooks,
# codes as argmin codeword ids, ADC (asymmetric distance computation) top-k.
# The oracle unrolls one kmeans CTE chain PER SUBSPACE via the shared
# generators above (sfx-namespaced), so the full fit+encode+score pipeline
# is hash-checked end to end.
# ---------------------------------------------------------------------------

_PQ_M = 4        # subspaces
_PQ_K = 16       # codewords per subspace
_PQ_W = 16       # dims per subspace (fixture embeddings are 64-dim)


def _pq_fit_ctes() -> list[str]:
    """CTE chain: base -> four sfx-namespaced 2-round kmeans fits ->
    `pqvec` (every vector's reconstructed codeword per subspace). Shared
    by the plain-ADC and the IVF+PQ oracles."""
    ctes = ["base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
            " FROM embeddings)"]
    for s in range(_PQ_M):
        lo, hi = s * _PQ_W + 1, (s + 1) * _PQ_W
        cp = f"corpus{s}"
        ctes.append(f"{cp} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM base)")
        ctes.append(f"""c{s}_0 AS (
            SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                      vec_id) - 1 AS cid,
                   v AS cv
            FROM {cp}
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {_PQ_K})""")
        ctes.append(f"a{s}_0 AS ({_km_assign_sql(f'c{s}_0', cp)})")
        ctes.append(_km_update_sql(1, f"a{s}_0", f"c{s}_0", dim=_PQ_W,
                                   corpus_cte=cp, sfx=f"{s}_").strip().strip(","))
        ctes.append(f"a{s}_1 AS ({_km_assign_sql(f'c{s}_1', cp)})")
        ctes.append(_km_update_sql(2, f"a{s}_1", f"c{s}_1", dim=_PQ_W,
                                   corpus_cte=cp, sfx=f"{s}_").strip().strip(","))
        ctes.append(f"a{s}_2 AS ({_km_assign_sql(f'c{s}_2', cp)})")
    joins = " ".join(
        f"JOIN a{s}_2 a{s} USING (vec_id) JOIN c{s}_2 b{s} ON a{s}.cid = b{s}.cid"
        for s in range(_PQ_M)
    )
    cvs = ", ".join(f"b{s}.cv AS cv{s}" for s in range(_PQ_M))
    ctes.append(f"pqvec AS (SELECT base.vec_id, {cvs} FROM base {joins})")
    return ctes


def _pq_adc_sql(q: str = "q", p: str = "p") -> str:
    """The ADC distance as left-associated SQL additions -- the identical
    IEEE order the Spark side uses."""
    return " + ".join(
        f"(list_dot_product({q}.v[{s * _PQ_W + 1}:{(s + 1) * _PQ_W}],"
        f" {q}.v[{s * _PQ_W + 1}:{(s + 1) * _PQ_W}])"
        f" + list_dot_product({p}.cv{s}, {p}.cv{s})"
        f" - 2 * list_dot_product({q}.v[{s * _PQ_W + 1}:{(s + 1) * _PQ_W}],"
        f" {p}.cv{s}))"
        for s in range(_PQ_M)
    )


def _pq_oracle() -> str:
    return f"""
    WITH {",".join(_pq_fit_ctes())},
    q AS (SELECT vec_id AS query_id, v FROM base WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, p.vec_id AS neighbor_id, {_pq_adc_sql()} AS adc_d2
        FROM pqvec p CROSS JOIN q
        WHERE p.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, adc_d2, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_d2, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """


def _pq_books(spark: SparkSession, sf_dir: str):
    """Session-memoized PQ codebooks (m=4, k=16, 2 Lloyd rounds per
    subspace): 4*16*16 doubles of driver metadata, fitted once per
    session+sf_dir."""

    def build():
        e = load_table(spark, sf_dir, "embeddings")
        return S.pq_fit(e, m=_PQ_M, k=_PQ_K, iters=2, dim=_PQ_M * _PQ_W)

    return session_stage(spark, sf_dir, "pq_books_m4_k16", build)


@register("ann_pq_adc_topk", oracle=_pq_oracle())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation: the
    corpus is stored as m=4 one-byte codes per vector (argmin codeword per
    16-dim subspace -- a 64x compression of float32 at this geometry, THE
    memory story for a 100M+-vector standing index), and each query ranks
    candidates by the sum of exact subspace distances to the RECONSTRUCTED
    codewords (ADC: query side exact, corpus side quantized). Top-5 per
    query over the fixed vec_id < 5 query set, ties by neighbor_id.

    Everything is exact-mirrorable because the codebook fit is the same
    deterministic Lloyd recipe as kmeans_clusters, run independently per
    subspace (operators/similarity.py pq_fit / kmeans_fit): the oracle
    unrolls FOUR seeded 2-round kmeans CTE chains, re-encodes every
    vector, and replays the ADC formula with the identical left-to-right
    double additions -- the driver hash covers fit + encode + score end
    to end.

    Plan shape: encoding is one scan-speed map (m argmin expressions over
    codebook literals, no shuffle, no join); scoring broadcasts the
    bounded query set against the code table (allowlisted nested-loop,
    same class as ann_cosine_topk's exact baseline) and reads per pair
    only m codeword lookups into a k*m literal table. At scale the scan
    reads |corpus| * m BYTES of codes instead of |corpus| * dim floats;
    recall improves by pairing with the IVF coarse quantizer (route, then
    ADC within probed lists) -- the registered query pins the ADC kernel
    itself against the exact oracle."""
    books = _pq_books(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    codes = S.pq_codes_auto(e, books)
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        S._as_double("embedding").alias("qv"),
    )
    pair = codes.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pair.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _adc_dist_expr(books).alias("adc_d2"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "adc_d2", "rnk")
    )


def _adc_dist_expr(books: list[list[list[float]]]) -> F.Column:
    """ADC distance Column over (qv, code_0..code_{m-1}) rows: per
    subspace, exact query slice vs reconstructed codeword
    (element_at into the k-vector codebook literal), summed left to
    right -- the identical IEEE addition order _pq_adc_sql emits."""
    dist = None
    for s, book in enumerate(books):
        qs = F.slice(F.col("qv"), s * _PQ_W + 1, _PQ_W)
        cs = F.element_at(S.const_doubles(book), F.col(f"code_{s}") + 1)
        d = S.dot(qs, qs) + S.dot(cs, cs) - 2 * S.dot(qs, cs)
        dist = d if dist is None else dist + d
    return dist


_IVFPQ_N_LISTS = 16
_IVFPQ_N_PROBE = 4


def _ivfpq_oracle() -> str:
    return f"""
    WITH {",".join(_pq_fit_ctes())},
    piv AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS pidx,
               v AS pv, list_dot_product(v, v) AS pn2
        FROM base
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_IVFPQ_N_LISTS}
    ),
    avec AS (
        -- include_zero_norm assignment: IVF+PQ ranks by L2 ADC, so the
        -- zero vector is a legitimate corpus point (unlike the cosine
        -- IVF family's filtered cvec)
        SELECT vec_id, list_id FROM (
            SELECT b.vec_id, p.pidx AS list_id,
                   row_number() OVER (PARTITION BY b.vec_id
                       ORDER BY list_dot_product(b.v, b.v) + p.pn2
                                - 2 * list_dot_product(b.v, p.pv),
                                p.pidx) AS rn
            FROM base b CROSS JOIN piv p
        ) WHERE rn = 1
    ),
    q AS (
        SELECT vec_id AS query_id, v FROM base
        WHERE vec_id < 5 AND list_dot_product(v, v) > 0
    ),
    probes AS (
        SELECT query_id, list_id FROM (
            SELECT q.query_id, p.pidx AS list_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.v, q.v) + p.pn2
                                - 2 * list_dot_product(q.v, p.pv),
                                p.pidx) AS pr
            FROM q CROSS JOIN piv p
        ) WHERE pr <= {_IVFPQ_N_PROBE}
    ),
    scored AS (
        SELECT q.query_id, p.vec_id AS neighbor_id, {_pq_adc_sql()} AS adc_d2
        FROM pqvec p
        JOIN avec a ON p.vec_id = a.vec_id
        JOIN probes pr ON a.list_id = pr.list_id
        JOIN q ON q.query_id = pr.query_id
        WHERE p.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, adc_d2, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_d2, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """


@register("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ -- the composition production vector indexes actually ship
    (FAISS IVFPQ): the coarse quantizer routes each query to its
    n_probe=4 nearest of 16 inverted lists, and WITHIN the probed lists
    candidates are ranked by PQ asymmetric distance over m=4 one-byte
    codes. The scan reduction (IVF) and the memory reduction (PQ)
    multiply: at 100M vectors a probe touches n_probe/n_lists of the
    corpus and reads m bytes per candidate, against 4*dim*|corpus| for
    the flat exact scan.

    Composition is where silent drift hides, so the oracle replays BOTH
    halves end to end: the four per-subspace kmeans fits (shared
    _pq_fit_ctes), the md5-seeded pivot sample, the include-zero-norm
    argmin list assignment (PQ ranks by L2, so the zero vector is a
    legitimate corpus point -- deliberately unlike the cosine IVF
    family's filtered index), the per-query probe ranking, and the ADC
    formula with identical left-associated additions.

    Plan shape: corpus side is ONE scan-speed map emitting (list_id,
    code_0..3) -- at rest this IS the persisted index layout, bucketable
    by list_id; the |Q| x n_probe probe frame broadcasts onto it as a
    list_id equi-join (no nested loop anywhere -- unlike the flat ADC
    scan, the join IS list-pruned), then one window takes top-5."""
    books = _pq_books(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    pivots = S.ivf_pivots(e, _IVFPQ_N_LISTS)
    codes = _ivfpq_codes(e, pivots, books)
    return _ivfpq_rank(e, pivots, books, codes)


def _ivfpq_codes(e: DataFrame, pivots, books) -> DataFrame:
    """The IVFPQ index frame (neighbor_id, list_id, code_0..m-1): both the
    list assignment and the encoding are HOF argmin maps -- interpreted
    per row, so above the BLAS gate both route to the dgemm kernels
    (bit-identical by the candidate+exact-rescore contract)."""
    if e.count() > S._PQ_BLAS_MIN_ROWS:
        assigned = S.ivf_assign_blas(e, pivots, include_zero_norm=True)
        return S.pq_codes_blas(
            assigned, books, id_col="neighbor_id", vec_col="cv",
            extra_cols=["list_id"],
        )
    assigned = S.ivf_assign(e, pivots, include_zero_norm=True)
    return S.pq_encode(assigned, books, F.col("cv"), ("neighbor_id", "list_id"))


def _ivfpq_rank(e: DataFrame, pivots, books, codes: DataFrame) -> DataFrame:
    """Probe + ADC + top-5 tail shared by the in-session and the standing
    IVFPQ queries, so the serving arithmetic cannot drift between them."""
    probes = S._probe_frame(
        e.where(F.col("vec_id") < 5), pivots, _IVFPQ_N_PROBE,
        "vec_id", "embedding",
    )
    pair = codes.join(F.broadcast(probes), "list_id").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pair.select(
        "query_id", "neighbor_id", _adc_dist_expr(books).alias("adc_d2")
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "adc_d2", "rnk")
    )


def _standing_ivfpq_index(spark: SparkSession, sf_dir: str):
    """Session-memoized STANDING IVFPQ index: the (list_id, codes) frame
    written as a managed table bucketed 8 ways on list_id -- the
    compressed at-rest layout ann_ivfpq_topk's docstring names (m bytes
    of code per vector instead of the raw vectors). Returns
    (StagedDir, table_name, pivots, books)."""
    import hashlib
    import os
    import tempfile

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        StagedDir,
    )
    from sqldataintegrationfunctiontriggerapp_spark.sinks.table_sink import (
        write_bucketed,
    )

    def build():
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        base = tempfile.mkdtemp(prefix=f"ivfpq_standing_{tag}_")
        import atexit
        import shutil

        atexit.register(shutil.rmtree, base, ignore_errors=True)
        name = f"ivfpq_standing_idx_{tag}"
        e = load_table(spark, sf_dir, "embeddings")
        pivots = S.ivf_pivots(e, _IVFPQ_N_LISTS)
        books = _pq_books(spark, sf_dir)
        write_bucketed(
            _ivfpq_codes(e, pivots, books), name, "list_id", 8,
            path=os.path.join(base, "idx"),
        )
        return (StagedDir(base), name, pivots, books)

    return session_stage(spark, sf_dir, "ivfpq_standing_idx", build)


@register("ann_ivfpq_standing_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_standing_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing-IVFPQ serving path: the compressed (list_id, codes)
    index is built and written ONCE per session+sf_dir as a list_id-
    bucketed managed table (at 100M vectors: m bytes per vector on disk,
    the one-time investment a vector service amortizes), then probing
    RE-READS the table -- no re-assignment, no re-encoding at query time;
    the corpus side of the probe join arrives pre-partitioned on the join
    key from the bucketed layout. Shares ann_ivfpq_topk's oracle
    VERBATIM, so the driver hash proves write -> re-read -> ADC-probe
    loses nothing vs the in-session index: same lists probed, bit-equal
    ADC distances, same ranks -- the PQ sibling of
    ann_ivf_standing_topk's evidence."""
    _, name, pivots, books = _standing_ivfpq_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    return _ivfpq_rank(e, pivots, books, spark.table(name))


@register(
    "ann_pq_recall",
    oracle=f"""
    WITH {",".join(_pq_fit_ctes())},
    q AS (SELECT vec_id AS query_id, v FROM base WHERE vec_id < 5),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, p.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_pq_adc_sql()}, p.vec_id) AS rnk
            FROM pqvec p CROSS JOIN q
            WHERE p.vec_id <> q.query_id
        ) WHERE rnk <= 5
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.v, q.v)
                                + list_dot_product(c.v, c.v)
                                - 2 * list_dot_product(q.v, c.v),
                                c.vec_id) AS rnk
            FROM base c CROSS JOIN q
            WHERE c.vec_id <> q.query_id
        ) WHERE rnk <= 5
    )
    SELECT a.query_id,
           CAST(SUM(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / 5 AS recall_at_5
    FROM approx a
    LEFT JOIN exact e
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY a.query_id
    """,
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of PQ/ADC against the exact L2 scan, per query -- the
    number that decides the (m, k) geometry before a PQ deployment, the
    quality-evidence sibling of ann_ivf_recall_sweep. Both top-5 sets are
    deterministic (ADC over the fitted codebooks; exact squared-L2 with
    the same tie rule), so the oracle replays both rankings and the
    recall arithmetic exactly -- the driver hash covers the whole
    fit -> encode -> rank -> compare chain.

    Measured geometry sweep on the sf0.01 fixture (oracle-side, mean
    recall@5): k=16 -> 0.12, k=64 -> 0.28, k=256 -> 0.40. The honest
    reading: this fixture's embeddings are near-isotropic, the hardest
    case for PQ (no subspace structure to exploit), so even 1-byte codes
    (k=256) recover only ~0.4 -- which is exactly why production IVFPQ
    re-ranks ADC candidates with exact distances over a shortlist. The
    registered k=16 keeps the suite-cost/evidence ratio sane; the
    machinery is k-agnostic.

    Plan shape: the two rankings are the already-pinned ADC scan and one
    exact scan over the same broadcast query set (allowlisted, bounded);
    recall is a (query, neighbor) equi-join of two 5-row-per-query
    frames."""
    books = _pq_books(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        S._as_double("embedding").alias("qv"),
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")

    codes = S.pq_codes_auto(e, books)
    approx = (
        codes.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _adc_dist_expr(books).alias("d"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id")
    )
    cv = S._as_double("embedding")
    exact = (
        e.select(F.col("vec_id").alias("neighbor_id"), cv.alias("cv"))
        .crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                S.dot(F.col("qv"), F.col("qv"))
                + S.dot(F.col("cv"), F.col("cv"))
                - 2 * S.dot(F.col("qv"), F.col("cv"))
            ).alias("d"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        approx.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
            (
                F.sum(F.coalesce("hit", F.lit(0))).cast("double") / 5
            ).alias("recall_at_5"),
        )
    )


_IVFPQ_RERANK = 20  # ADC shortlist size handed to the exact re-rank


def _ivfpq_rerank_oracle() -> str:
    return f"""
    WITH {",".join(_pq_fit_ctes())},
    piv AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS pidx,
               v AS pv, list_dot_product(v, v) AS pn2
        FROM base
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_IVFPQ_N_LISTS}
    ),
    avec AS (
        SELECT vec_id, list_id FROM (
            SELECT b.vec_id, p.pidx AS list_id,
                   row_number() OVER (PARTITION BY b.vec_id
                       ORDER BY list_dot_product(b.v, b.v) + p.pn2
                                - 2 * list_dot_product(b.v, p.pv),
                                p.pidx) AS rn
            FROM base b CROSS JOIN piv p
        ) WHERE rn = 1
    ),
    q AS (
        SELECT vec_id AS query_id, v FROM base
        WHERE vec_id < 5 AND list_dot_product(v, v) > 0
    ),
    probes AS (
        SELECT query_id, list_id FROM (
            SELECT q.query_id, p.pidx AS list_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.v, q.v) + p.pn2
                                - 2 * list_dot_product(q.v, p.pv),
                                p.pidx) AS pr
            FROM q CROSS JOIN piv p
        ) WHERE pr <= {_IVFPQ_N_PROBE}
    ),
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, p.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_pq_adc_sql()}, p.vec_id) AS srnk
            FROM pqvec p
            JOIN avec a ON p.vec_id = a.vec_id
            JOIN probes pr ON a.list_id = pr.list_id
            JOIN q ON q.query_id = pr.query_id
            WHERE p.vec_id <> q.query_id
        ) WHERE srnk <= {_IVFPQ_RERANK}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               list_dot_product(q.v, q.v) + list_dot_product(b.v, b.v)
               - 2 * list_dot_product(q.v, b.v) AS exact_d2
        FROM shortlist s
        JOIN q ON q.query_id = s.query_id
        JOIN base b ON b.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, exact_d2, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY exact_d2, neighbor_id) AS rnk
        FROM rer
    ) WHERE rnk <= 5
    """


@register("ann_ivfpq_rerank_topk", oracle=_ivfpq_rerank_oracle())
def ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ with an exact re-rank tail -- the missing third stage
    ann_pq_recall's honest reading calls for: ADC's quantized distances
    pick a SHORTLIST (top-20 per query within the probed lists), then the
    original float vectors of only those candidates are fetched and the
    final top-5 is ranked by EXACT squared-L2. This is how production
    IVFPQ serves (FAISS's refine/RFlat stage): the index stays m bytes
    per vector, the probe still touches n_probe/n_lists of the corpus,
    and the re-rank reads |Q| x R raw vectors -- a point-lookup volume,
    not a scan -- recovering the recall that near-isotropic embeddings
    (this fixture's worst case for PQ) deny to pure ADC. Measured at
    sf0.01 (oracle-side sweep, mean recall@5 vs the exact scan):
    ADC-ranked top-5 within the probed lists scores 0.08; exact
    re-ranking lifts it to 0.36 at R=20 (the registered setting), 0.44
    at R=50, 0.56 at R=100 -- the residual gap is the coarse router
    (n_probe=4 of 16) plus k=16 codes, the two knobs a deployment turns.

    The oracle replays the full chain: four per-subspace kmeans fits,
    md5-seeded pivots, include-zero-norm list assignment, probe ranking,
    ADC shortlist (identical left-associated additions and tie rule),
    then the exact-L2 re-rank with the same expression shape -- so the
    driver hash covers route -> compress -> shortlist -> refine end to
    end.

    Plan shape: identical to ann_ivfpq_topk through the ADC window; the
    shortlist (bounded |Q| x 20 id pairs) then BROADCASTS back onto the
    embeddings scan as an equi-join on vec_id -- at scale this is the
    random-read fetch a vector store serves from its row index, never a
    second full scan -- and one window takes the exact top-5."""
    books = _pq_books(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    pivots = S.ivf_pivots(e, _IVFPQ_N_LISTS)
    codes = _ivfpq_codes(e, pivots, books)
    probes = S._probe_frame(
        e.where(F.col("vec_id") < 5), pivots, _IVFPQ_N_PROBE,
        "vec_id", "embedding",
    )
    pair = codes.join(F.broadcast(probes), "list_id").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    aw = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    shortlist = (
        pair.select(
            "query_id", "neighbor_id", _adc_dist_expr(books).alias("adc_d2")
        )
        .withColumn("srnk", F.row_number().over(aw))
        .where(F.col("srnk") <= _IVFPQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    qv = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        S._as_double("embedding").alias("qv"),
    ).where(S.dot(F.col("qv"), F.col("qv")) > 0)
    cv = e.select(
        F.col("vec_id").alias("neighbor_id"),
        S._as_double("embedding").alias("cv"),
    )
    rer = (
        cv.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                S.dot(F.col("qv"), F.col("qv"))
                + S.dot(F.col("cv"), F.col("cv"))
                - 2 * S.dot(F.col("qv"), F.col("cv"))
            ).alias("exact_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("exact_d2", "neighbor_id")
    return (
        rer.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "exact_d2", "rnk")
    )


_JL_D_OUT = 16  # projected dimensionality (64 -> 16)


def _jl_oracle() -> str:
    # CAST('…' AS DOUBLE) per component: DuckDB parses a bare 17-digit
    # literal as DECIMAL(17,16) and the decimal→double hop can land 1 ulp
    # off the repr round-trip (same trap plans/graph.py documents); the
    # string cast is the exact IEEE parse.
    planes = S._hyperplanes(64, _JL_D_OUT)
    lits = [
        "[" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in p) + "]"
        for p in planes
    ]
    pcols = ", ".join(
        f"list_dot_product(v, {lit}) AS p{j}" for j, lit in enumerate(lits)
    )
    pn2 = " + ".join(f"(p{j} * p{j})" for j in range(_JL_D_OUT))
    return f"""
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    proj AS (
        SELECT vec_id, label, list_dot_product(v, v) AS n2, {pcols}
        FROM base
    )
    SELECT vec_id, label, n2, {pn2} AS proj_n2,
           CASE WHEN n2 > 0
                THEN (({pn2}) * 3.0) / (16.0 * n2)
                ELSE NULL END AS distortion
    FROM proj
    """


@register("embedding_random_projection", oracle=_jl_oracle())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims: each output
    coordinate is the dot product against an md5-derived deterministic
    pseudo-random plane (components uniform in [-1, 1) -- subgaussian, so
    the JL norm-preservation guarantee applies; the SAME generator the
    SRP-LSH family's hyperplanes use, `S._hyperplanes`, so the two share
    one seeding discipline). Output is one row per vector with its
    original squared norm, projected squared norm, and the scaled
    distortion ratio 3*||Pv||^2 / (16*||v||^2) whose expectation is
    exactly 1 (E[x^2] = 1/3 for uniform [-1,1)); because the projection
    is linear, the same ratio statement over difference vectors IS the
    pairwise-distance-preservation claim, so the per-vector grain (norm =
    distance to the origin) pins the whole mechanism while keeping the
    output array-free and hashable.

    This is the cheap-side primitive of embedding pipelines at 100 TB:
    4x fewer bytes per vector into every downstream shuffle (dedup
    blocking, coarse clustering, sketching) for a bounded, measurable
    distortion. Measured on the sf0.01 fixture: distortion quartiles
    [0.75, 0.95, 1.20] (min 0.21, max 2.49) -- the d_out=16 spread the
    JL bound predicts; doubling d_out tightens it by ~sqrt(2).

    Plan shape: two narrow projections (16 fold expressions + n2, then
    the squared sum), zero shuffle, zero joins -- one whole-stage-codegen
    scan; the planes are fixed-size metadata literals (16 x 64 doubles),
    NOT data-dependent (the pivot-literal trap does not apply: d_out is a
    design constant, never a scale knob). The oracle replays the planes
    as repr'd double literals and the identical left-associated folds."""
    e = load_table(spark, sf_dir, "embeddings")
    planes = S._hyperplanes(64, _JL_D_OUT)
    v = S._as_double("embedding")
    proj = e.select(
        "vec_id",
        "label",
        S.dot(v, v).alias("n2"),
        *[
            S.dot(v, S.const_doubles(p)).alias(f"p{j}")
            for j, p in enumerate(planes)
        ],
    )
    pn2 = None
    for j in range(_JL_D_OUT):
        term = F.col(f"p{j}") * F.col(f"p{j}")
        pn2 = term if pn2 is None else pn2 + term
    return proj.select(
        "vec_id",
        "label",
        "n2",
        pn2.alias("proj_n2"),
        F.try_divide(pn2 * F.lit(3.0), F.lit(16.0) * F.col("n2")).alias(
            "distortion"
        ),
    )


_CT_NEG_EXCLUDE = 50  # candidates inside the cosine top-50 are never negatives
_CT_N_NEG = 3


@register(
    "contrastive_triplets",
    oracle=f"""
    WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings
                 WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])) > 0),
    q AS (SELECT vec_id AS query_id, v AS qv FROM raw WHERE vec_id < 8),
    c AS (SELECT vec_id AS cand_id, v AS cv FROM raw),
    scored AS (
        SELECT query_id, cand_id,
               list_dot_product(qv, cv)
               / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv))
                   AS cos,
               md5(CAST(query_id AS VARCHAR) || ':'
                   || CAST(cand_id AS VARCHAR)) AS mkey
        FROM c CROSS JOIN q
        WHERE cand_id <> query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cand_id) AS rnk
        FROM scored
    ),
    tagged AS (
        SELECT *,
               SUM(CASE WHEN rnk > {{_CT_NEG_EXCLUDE}} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY query_id ORDER BY mkey, cand_id
                         ROWS UNBOUNDED PRECEDING) AS neg_cum
        FROM ranked
    )
    SELECT query_id,
           CASE WHEN rnk = 1 THEN 'positive' ELSE 'negative' END AS role,
           CAST(CASE WHEN rnk = 1 THEN 1 ELSE neg_cum END AS INTEGER)
               AS role_rank,
           cand_id, cos
    FROM tagged
    WHERE rnk = 1
       OR (rnk > {{_CT_NEG_EXCLUDE}} AND neg_cum <= {{_CT_N_NEG}})
    """.format(_CT_NEG_EXCLUDE=_CT_NEG_EXCLUDE, _CT_N_NEG=_CT_N_NEG),
)
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining -- the data-generation step for
    embedding-model training (SimCLR/DPR-style anchor/positive/negative
    sets): per anchor (vec_id < 8), the POSITIVE is its exact cosine
    top-1 neighbor, and the NEGATIVES are 3 md5-seeded candidates drawn
    deterministically from OUTSIDE the cosine top-50 -- the exclusion
    zone is what keeps a sampled "negative" from being an unlabeled
    positive (the classic false-negative trap in contrastive sampling;
    production pipelines use exactly this exclude-the-ANN-neighborhood
    rule, often with the IVFPQ index standing in for the exact ranks).
    All draws are md5(query:cand) order -- no RNG state, every engine
    and every re-run mines the same rows. Output is LONG format: one
    row per (anchor, role, rank) -- the grain a training-data writer
    consumes directly.

    Plan shape -- deliberately ONE corpus scan: the first design joined
    a positives frame to a negatives frame, which physically re-scanned
    and re-scored the corpus once per branch (verified in the executed
    plan; only the query broadcast was reused). This form computes both
    roles from a single scored frame: the cosine-rank window and the
    md5-order negative-counting window share the query_id exchange, the
    negative rank is a conditional running COUNT over the already-ranked
    rows (rank-among-subset as a windowed indicator sum -- row_number
    cannot skip rows, SUM(CASE) can), and one disjunctive filter emits
    both roles. Zero joins after the scored frame; the allowlisted
    broadcast exact scan runs exactly once. At corpus scale the scored
    frame is replaced by the standing-index shortlist (IVFPQ + rerank)
    for positives and a hash-bucketed sample for negatives; the
    exclusion-zone semantics pinned here are index-agnostic."""
    e = load_table(spark, sf_dir, "embeddings")
    v = S._as_double("embedding")
    raw = e.select("vec_id", v.alias("v")).where(
        S.dot(F.col("v"), F.col("v")) > 0
    )
    q = raw.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = raw.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
    cos = S.dot(F.col("qv"), F.col("cv")) / F.sqrt(
        S.dot(F.col("qv"), F.col("qv")) * S.dot(F.col("cv"), F.col("cv"))
    )
    mkey = F.md5(
        F.concat(
            F.col("query_id").cast("string"),
            F.lit(":"),
            F.col("cand_id").cast("string"),
        )
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cos"), mkey.alias("mkey"))
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    ranked = scored.withColumn("rnk", F.row_number().over(rw))
    nw = (
        Window.partitionBy("query_id")
        .orderBy("mkey", "cand_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = ranked.withColumn(
        "neg_cum",
        F.sum(
            F.when(F.col("rnk") > _CT_NEG_EXCLUDE, 1).otherwise(0)
        ).over(nw),
    )
    return tagged.where(
        (F.col("rnk") == 1)
        | ((F.col("rnk") > _CT_NEG_EXCLUDE) & (F.col("neg_cum") <= _CT_N_NEG))
    ).select(
        "query_id",
        F.when(F.col("rnk") == 1, F.lit("positive"))
        .otherwise(F.lit("negative"))
        .alias("role"),
        F.when(F.col("rnk") == 1, F.lit(1))
        .otherwise(F.col("neg_cum"))
        .cast("int")
        .alias("role_rank"),
        "cand_id",
        "cos",
    )


@register(
    "embedding_dim_stats",
    oracle="""
    WITH flat AS (
        SELECT UNNEST(CAST(embedding AS DOUBLE[])) AS val,
               UNNEST(range(len(embedding))) AS pos
        FROM embeddings
    )
    SELECT CAST(pos AS INTEGER) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(val AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mean,
           sqrt(
               CAST(SUM(CAST(val * val AS DECIMAL(18,9))) AS DOUBLE)
                   / COUNT(*)
               - (CAST(SUM(CAST(val AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*))
                 * (CAST(SUM(CAST(val AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*))
           ) AS std,
           MIN(val) AS min_val,
           MAX(val) AS max_val
    FROM flat GROUP BY pos
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA report -- the first thing to look at
    before trusting a vector corpus (a dead dimension, a scale outlier,
    or a mean far from 0 each break downstream cosine/PQ assumptions):
    mean, population std, min, max for every one of the 64 coordinates.
    Variance uses the E[x^2] - E[x]^2 identity over DECIMAL-exact sums
    (both moments accumulate order-independently; the subtraction, the
    two divisions, and the IEEE-correct sqrt are each performed once on
    identically-constructed doubles, so the hash holds bit-for-bit).
    DECIMAL(18,9) rather than the house (18,6): squared components of
    unit-ish vectors live at 1e-2 - 1e-4, where 1e-6 quantization would
    eat real signal; 1e-9 keeps the accumulator exact AND meaningful.

    Scale shape: one posexplode + ONE hash aggregate keyed by pos --
    map-side combined, the exchange carries 64 groups x 5 accumulators
    regardless of corpus size. The same single-pass two-moment shape
    handles 100M vectors unchanged."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        F.posexplode(S._as_double("embedding")).alias("pos", "val")
    )
    dec = "decimal(18,9)"
    sum_v = F.sum(F.col("val").cast(dec)).cast("double")
    sum_v2 = F.sum((F.col("val") * F.col("val")).cast(dec)).cast("double")
    n = F.count(F.lit(1))
    mean = sum_v / n
    return flat.groupBy("pos").agg(
        n.cast("long").alias("n"),
        mean.alias("mean"),
        F.sqrt(sum_v2 / n - mean * mean).alias("std"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


# ---- OPQ-style dimension allocation (VERDICT r10 #8) -------------------
#
# Spectrum ramp: dim j scaled by 2^-(j//8) -- eight plateaus, each scale an
# exact power of two, so the multiplication only adjusts the IEEE exponent
# and Spark/DuckDB agree BITWISE with zero fold concerns. The ramp models
# the decaying spectrum real embedding stacks emit (PCA-whitened, Matryoshka
# or dimension-ordered encoders); the raw fixture is near-isotropic, which
# is PQ's hardest, structure-free case (see ann_pq_recall's sweep).
_DIMALLOC_D = 64
_DIMALLOC_SCALES = [2.0 ** (-(j // 8)) for j in range(_DIMALLOC_D)]
# round-robin allocation: subspace s gets original dims {j : j % m == s} in
# ascending order -- with the known 8-plateau ramp this IS the balanced
# allocation (each subspace receives 2 dims of every plateau), the
# non-parametric core of Ge et al.'s OPQ (eigenvalue allocation) for a
# spectrum that is already axis-aligned.
_DIMALLOC_DIMS = [
    [j for j in range(_DIMALLOC_D) if j % _PQ_M == s] for s in range(_PQ_M)
]
_DIMALLOC_NQ = 20


def _dimalloc_fit_ctes(ns: str, dims: list[list[int]]) -> list[str]:
    """The _pq_fit_ctes chain generalized to an arbitrary dimension
    allocation: subspace corpora are explicit element lists over the
    scaled base `wbase` (exact reindexing, no arithmetic), so ONE
    generator serves both the contiguous baseline and the allocated
    variant. Emits pqvec{ns} with cv{ns}{s} reconstruction columns."""
    ctes = []
    for s, dd in enumerate(dims):
        elems = ", ".join(f"v[{j + 1}]" for j in dd)
        cp = f"corpus{ns}{s}"
        ctes.append(f"{cp} AS (SELECT vec_id, [{elems}] AS v FROM wbase)")
        ctes.append(f"""c{ns}{s}_0 AS (
            SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                      vec_id) - 1 AS cid,
                   v AS cv
            FROM {cp}
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {_PQ_K})""")
        ctes.append(f"a{ns}{s}_0 AS ({_km_assign_sql(f'c{ns}{s}_0', cp)})")
        ctes.append(_km_update_sql(1, f"a{ns}{s}_0", f"c{ns}{s}_0",
                                   dim=_PQ_W, corpus_cte=cp,
                                   sfx=f"{ns}{s}_").strip().strip(","))
        ctes.append(f"a{ns}{s}_1 AS ({_km_assign_sql(f'c{ns}{s}_1', cp)})")
        ctes.append(_km_update_sql(2, f"a{ns}{s}_1", f"c{ns}{s}_1",
                                   dim=_PQ_W, corpus_cte=cp,
                                   sfx=f"{ns}{s}_").strip().strip(","))
        ctes.append(f"a{ns}{s}_2 AS ({_km_assign_sql(f'c{ns}{s}_2', cp)})")
    joins = " ".join(
        f"JOIN a{ns}{s}_2 aj{ns}{s} USING (vec_id)"
        f" JOIN c{ns}{s}_2 bj{ns}{s} ON aj{ns}{s}.cid = bj{ns}{s}.cid"
        for s in range(len(dims))
    )
    cvs = ", ".join(f"bj{ns}{s}.cv AS cv{s}" for s in range(len(dims)))
    ctes.append(
        f"pqvec{ns} AS (SELECT wbase.vec_id, {cvs} FROM wbase {joins})"
    )
    return ctes


def _dimalloc_adc_sql(dims: list[list[int]], p: str) -> str:
    """ADC distance against pqvec reconstruction columns, the query side
    read as explicit element lists over the UNPERMUTED scaled vector --
    the same element order the Spark side's contiguous slices of the
    (permuted) frame see, so the list_dot_product folds are identical."""
    terms = []
    for s, dd in enumerate(dims):
        qs = "[" + ", ".join(f"q.v[{j + 1}]" for j in dd) + "]"
        terms.append(
            f"(list_dot_product({qs}, {qs})"
            f" + list_dot_product({p}.cv{s}, {p}.cv{s})"
            f" - 2 * list_dot_product({qs}, {p}.cv{s}))"
        )
    return " + ".join(terms)


def _dimalloc_oracle() -> str:
    scaled = ", ".join(
        f"u[{j + 1}] * {_DIMALLOC_SCALES[j]!r}" for j in range(_DIMALLOC_D)
    )
    contig = [list(range(s * _PQ_W, (s + 1) * _PQ_W)) for s in range(_PQ_M)]
    ctes = (
        [
            "b0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS u"
            " FROM embeddings)",
            f"wbase AS (SELECT vec_id, [{scaled}] AS v FROM b0)",
        ]
        + _dimalloc_fit_ctes("w", contig)
        + _dimalloc_fit_ctes("r", _DIMALLOC_DIMS)
    )
    return f"""
    WITH {",".join(ctes)},
    q AS (SELECT vec_id AS query_id, v FROM wbase
          WHERE vec_id < {_DIMALLOC_NQ}),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, w.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.v, q.v)
                                + list_dot_product(w.v, w.v)
                                - 2 * list_dot_product(q.v, w.v),
                                w.vec_id) AS rnk
            FROM wbase w CROSS JOIN q
            WHERE w.vec_id <> q.query_id
        ) WHERE rnk <= 5
    ),
    topw AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, p.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_dimalloc_adc_sql(contig, "p")},
                                p.vec_id) AS rnk
            FROM pqvecw p CROSS JOIN q
            WHERE p.vec_id <> q.query_id
        ) WHERE rnk <= 5
    ),
    topr AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, p.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_dimalloc_adc_sql(_DIMALLOC_DIMS, "p")},
                                p.vec_id) AS rnk
            FROM pqvecr p CROSS JOIN q
            WHERE p.vec_id <> q.query_id
        ) WHERE rnk <= 5
    ),
    hw AS (
        SELECT t.query_id, CAST(COUNT(e.neighbor_id) AS BIGINT) AS n
        FROM topw t LEFT JOIN exact e USING (query_id, neighbor_id)
        GROUP BY t.query_id
    ),
    hr AS (
        SELECT t.query_id, CAST(COUNT(e.neighbor_id) AS BIGINT) AS n
        FROM topr t LEFT JOIN exact e USING (query_id, neighbor_id)
        GROUP BY t.query_id
    )
    SELECT hw.query_id, hw.n AS n_hits_contig, hw.n / 5.0 AS recall_contig,
           hr.n AS n_hits_alloc, hr.n / 5.0 AS recall_alloc
    FROM hw JOIN hr USING (query_id)
    """


def _dimalloc_frames(spark: SparkSession, sf_dir: str):
    """(scaled frame, allocated/permuted frame, contiguous books,
    allocated books), session-memoized: two deterministic PQ fits over
    the ramp-scaled corpus. The permuted frame reorders the scaled vector
    so that CONTIGUOUS slicing realizes the round-robin allocation --
    pq_fit/pq_codes_auto then apply unchanged (allocation is a metadata
    choice, not a new kernel)."""

    def build():
        # NOT spread (OPTIMIZATION r16, measured and rejected): spreading
        # the single-split scan parallelized the blas fit's mapInPandas
        # passes and the crossJoin scoring legs, but at fixture scale each
        # of the 32 spread tasks carries ~60 rows -- per-task Arrow/python
        # batch overhead exceeded the parallelism win (same-minute A/B:
        # cold 10.5 s/19 jobs unspread vs 12.1 s/28 jobs spread; hot 2.6
        # vs 2.8). At real scale the scan arrives multi-split anyway.
        e = load_table(spark, sf_dir, "embeddings")
        u = S._as_double("embedding")
        w = F.array(*[
            u[j] * F.lit(_DIMALLOC_SCALES[j]) for j in range(_DIMALLOC_D)
        ])
        base = e.select("vec_id", w.alias("w"))
        perm = [j for dd in _DIMALLOC_DIMS for j in dd]
        basep = base.select(
            "vec_id",
            F.array(*[F.col("w")[perm[p]] for p in range(_DIMALLOC_D)])
            .alias("w"),
        )
        # Fused dual fit (OPTIMIZATION r15): ONE md5-ordered pivot sample
        # -- ivf_pivots orders by md5(vec_id), value-independently, so the
        # permuted corpus's sample is exactly the same rows with dims
        # permuted; derive its seed driver-side instead of paying a second
        # sample job -- then both fits' Lloyd rounds run as one Spark job
        # per round (pq_fit_multi; bit-identical to sequential pq_fit,
        # test-pinned). Measured: the two sequential fits were 10.9 s of
        # the entry's 10.1 s bench cost at sf0.1; fused ~2x fewer jobs.
        pivots = S.ivf_pivots(base, _PQ_K, vec_col="w")
        pivots_p = [[p[perm[j]] for j in range(_DIMALLOC_D)] for p in pivots]
        books_w, books_r = S.pq_fit_multi(
            [base, basep], [pivots, pivots_p], m=_PQ_M, k=_PQ_K, iters=2,
            dim=_DIMALLOC_D, vec_col="w",
        )
        return base, basep, books_w, books_r

    return session_stage(spark, sf_dir, "pq_dimalloc_books", build)


@register("ann_pq_dim_alloc_recall", oracle=_dimalloc_oracle())
def ann_pq_dim_alloc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-style dimension allocation (Ge et al., "Optimized Product
    Quantization", the non-parametric allocation idea): on a corpus with a
    DECAYING spectrum, contiguous PQ subspaces concentrate all the
    variance in subspace 0 (its k=16 codewords drown) while the tail
    subspaces quantize noise -- re-ALLOCATING dimensions so every subspace
    receives the same variance profile costs nothing (codes stay m bytes;
    the allocation is a permutation chosen once at index build) and is
    where most of OPQ's gain lives when the spectrum is already
    axis-aligned. This query pins fit+encode+rank+recall for BOTH
    allocations over a deterministic 8-plateau power-of-two ramp (exact in
    IEEE -- multiplication only shifts exponents, so Spark and DuckDB
    agree bitwise with no fold slack) and emits per-query recall@5 against
    the exact scan, side by side.

    Measured (sf0.01 fixture, mean recall@5 over the registered q<20 set,
    suite-identical recipe): contiguous 0.13 -> allocated 0.41 on the
    ramped corpus -- a 3.2x lift from a free permutation. The honest counterpoint, measured offline on the RAW
    near-isotropic fixture: allocation (and every rotation tried --
    seeded-QR random, PCA, PCA+eigenvalue-allocation) HURTS there
    (0.144 -> 0.092/0.116), because with no structure to balance a
    permutation only breaks the accidental fit of the seed sample. The
    production rule this query encodes: choose the allocation FROM the
    measured spectrum (embedding_dim_stats provides exactly the per-dim
    variances; operators/similarity.py greedy_dim_allocation +
    allocation_permutation turn them into the balanced frame permutation
    -- driver-side metadata work, test-pinned to deal the ramp's plateaus
    out evenly), never blindly.

    Plan shape: one scan derives the scaled/permuted frames (exact
    arithmetic, no shuffle); two deterministic PQ fits (bounded driver
    metadata, the pq_fit contract); two code scans + two ADC rankings +
    one exact ranking over the broadcast q<20 query set (allowlisted,
    same class as ann_pq_recall); recall is an equi-join of 5-row-per-
    query frames. At 100 TB the allocation changes NOTHING about the
    scan: codes are still m bytes/vector, the permutation lives in the
    codebook metadata."""
    base, basep, books_w, books_r = _dimalloc_frames(spark, sf_dir)
    q_w = base.where(F.col("vec_id") < _DIMALLOC_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("w").alias("qv")
    )
    q_r = basep.where(F.col("vec_id") < _DIMALLOC_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("w").alias("qv")
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")

    def adc_top5(frame, books, q):
        codes = S.pq_codes_auto(frame, books, vec_col="w")
        return (
            codes.crossJoin(F.broadcast(q))
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                _adc_dist_expr(books).alias("d"),
            )
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 5)
            .select("query_id", "neighbor_id")
        )

    exact = (
        base.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("w").alias("cv"))
        .crossJoin(F.broadcast(q_w))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                S.dot(F.col("qv"), F.col("qv"))
                + S.dot(F.col("cv"), F.col("cv"))
                - 2 * S.dot(F.col("qv"), F.col("cv"))
            ).alias("d"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )

    # one exact scan, not two: tag each variant's top-5 and join the union
    # against `exact` ONCE, so the expensive exact-ranking subtree appears
    # a single time in the executed plan (two separate hits() joins ran it
    # twice -- caught by the r11 plan review); conditional sums split the
    # hit counts back out per variant (every query has exactly 5 rows per
    # variant, so the split is total)
    tops = (
        adc_top5(base, books_w, q_w).withColumn("variant", F.lit(0))
        .unionByName(
            adc_top5(basep, books_r, q_r).withColumn("variant", F.lit(1))
        )
    )
    hit = F.coalesce("hit", F.lit(0))
    counts = (
        tops.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("variant") == 0, hit).otherwise(F.lit(0)))
            .cast("long").alias("n_hits_contig"),
            F.sum(F.when(F.col("variant") == 1, hit).otherwise(F.lit(0)))
            .cast("long").alias("n_hits_alloc"),
        )
    )
    return counts.select(
        "query_id",
        "n_hits_contig",
        (F.col("n_hits_contig") / F.lit(5.0)).alias("recall_contig"),
        "n_hits_alloc",
        (F.col("n_hits_alloc") / F.lit(5.0)).alias("recall_alloc"),
    )


# --- MMR diverse top-k -------------------------------------------------------
_MMR_LAM = "CAST('0.7' AS DOUBLE)"
_MMR_ONE_MINUS = f"(CAST('1.0' AS DOUBLE) - {_MMR_LAM})"
_MMR_POOL = 20
_MMR_K = 5


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as chained CTEs: pick_i re-scores the
    not-yet-selected pool members against the selected set and takes the
    (score DESC, vec_id) argmax -- the same total order the driver loop
    applies. Score association is pinned: (lam * rel) - (one_minus * maxsim),
    each a single IEEE op on operands both engines computed identically."""
    steps = []
    sels = []
    steps.append(
        f"""
    pick1 AS (
        SELECT vec_id, rel,
               ({_MMR_LAM} * rel)
               - ({_MMR_ONE_MINUS} * CAST('0.0' AS DOUBLE)) AS score
        FROM pool ORDER BY score DESC, vec_id LIMIT 1
    )"""
    )
    sels.append("sel1 AS (SELECT vec_id FROM pick1)")
    for i in range(2, _MMR_K + 1):
        steps.append(
            f"""
    pick{i} AS (
        SELECT vec_id, rel,
               ({_MMR_LAM} * rel) - ({_MMR_ONE_MINUS} * maxsim) AS score
        FROM (
            SELECT p.vec_id, p.rel,
                   (SELECT MAX(s.cos) FROM sims s
                    WHERE s.ia = p.vec_id
                      AND s.ib IN (SELECT vec_id FROM sel{i - 1})) AS maxsim
            FROM pool p
            WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        ) ORDER BY score DESC, vec_id LIMIT 1
    )"""
        )
        sels.append(
            f"sel{i} AS (SELECT vec_id FROM sel{i - 1} "
            f"UNION ALL SELECT vec_id FROM pick{i})"
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS rnk, vec_id, rel AS relevance, "
        f"score AS mmr_score FROM pick{i}"
        for i in range(1, _MMR_K + 1)
    )
    return (
        f"""
    WITH raw AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])) > 0
    ),
    q AS (SELECT v AS qv, list_dot_product(v, v) AS qn2 FROM raw
          WHERE vec_id = 0),
    scored AS (
        SELECT r.vec_id,
               list_dot_product(q.qv, r.v)
               / sqrt(q.qn2 * list_dot_product(r.v, r.v)) AS rel
        FROM raw r CROSS JOIN q WHERE r.vec_id <> 0
    ),
    pool AS (SELECT vec_id, rel FROM scored
             ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}),
    pv AS (
        SELECT p.vec_id, p.rel, r.v, list_dot_product(r.v, r.v) AS n2
        FROM pool p JOIN raw r USING (vec_id)
    ),
    sims AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               list_dot_product(a.v, b.v) / sqrt(a.n2 * b.n2) AS cos
        FROM pv a JOIN pv b ON a.vec_id <> b.vec_id
    ),"""
        + ",".join(s + "," + sel for s, sel in zip(steps, sels))
        + "\n    "
        + finals
    )


@register("mmr_diverse_topk", oracle=_mmr_oracle())
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) diverse
    top-5: greedy selection from the cosine top-20 candidate pool of query
    vec_id = 0, re-scoring each round as
    lam * relevance - (1 - lam) * max-similarity-to-selected (lam = 0.7).
    The curation shape behind "give me representative near neighbors, not
    five copies of the same cluster" -- retrieval for eval-set building
    and prompt-dedup both want this over plain top-k.

    Architecture -- distributed prune, bounded refine: the corpus-scale
    work (scoring every vector against the query) is the same
    broadcast-query one-scan kernel as ann_cosine_topk; only the fixed-
    size pool (20 rows) and its pairwise-sim matrix (<= 380 doubles,
    computed IN Spark with the fold kernel so every operand is
    bit-identical to the oracle's list_dot_product) come to the driver,
    where the greedy loop does k * pool COMPARISONS plus one
    (lam * rel) - (one_minus * maxsim) per candidate -- IEEE ops mirrored
    verbatim in the unrolled-CTE oracle. Same bounded-driver-state
    doctrine as pagerank's n_nodes count; nothing corpus-sized ever
    leaves the executors.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0)
    pool = (
        S.brute_force_topk(e, q, k=_MMR_POOL)
        .select(F.col("neighbor_id").alias("vec_id"), F.col("cos").alias("rel"))
        .localCheckpoint()
    )
    pv = e.join(pool, "vec_id").select(
        "vec_id", "rel", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("n2", S.dot(F.col("v"), F.col("v")))
    a, b = pv.alias("a"), pv.alias("b")
    sims = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            F.try_divide(
                S.dot(F.col("a.v"), F.col("b.v")),
                F.sqrt(F.col("a.n2") * F.col("b.n2")),
            ).alias("cos"),
        )
    )

    rel_of = {r["vec_id"]: r["rel"] for r in pool.collect()}
    sim_of: dict[tuple[int, int], float] = {
        (r["ia"], r["ib"]): r["cos"] for r in sims.collect()
    }
    lam, one_minus = 0.7, 1.0 - 0.7
    selected: list[int] = []
    out_rows = []
    for rnk in range(1, min(_MMR_K, len(rel_of)) + 1):
        best = None
        for cid, rel in rel_of.items():
            if cid in selected:
                continue
            maxsim = (
                max(sim_of[(cid, s)] for s in selected) if selected else 0.0
            )
            score = (lam * rel) - (one_minus * maxsim)
            if best is None or score > best[0] or (
                score == best[0] and cid < best[1]
            ):
                best = (score, cid, rel)
        selected.append(best[1])
        out_rows.append((rnk, best[1], best[2], best[0]))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(out_rows, 1),
        "rnk int, vec_id bigint, relevance double, mmr_score double",
    )


# --- greedy k-center coreset -------------------------------------------------
_KC_K = 6
_KC_D2 = (
    "(r.n2 - (CAST('2.0' AS DOUBLE) * list_dot_product(r.v, c.v))) + c.n2"
)


def _kcenter_oracle() -> str:
    """Unrolled farthest-point traversal: cents_i accumulates the selected
    rows, d_i is each point's MIN squared distance to them (the MIN
    aggregate equals the Spark side's least()-chain exactly -- both are
    pure double comparisons), pick_i the (mind DESC, vec_id) argmax."""
    parts = [
        """
    raw AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[])) AS n2
        FROM embeddings
    ),
    c1 AS (SELECT vec_id, v, n2 FROM raw ORDER BY vec_id LIMIT 1),
    sel1 AS (SELECT vec_id FROM c1),
    cents1 AS (SELECT vec_id, v, n2 FROM c1)"""
    ]
    for i in range(2, _KC_K + 1):
        parts.append(
            f"""
    d{i} AS (
        SELECT r.vec_id, MIN({_KC_D2}) AS mind
        FROM raw r CROSS JOIN cents{i - 1} c
        GROUP BY r.vec_id
    ),
    pick{i} AS (
        SELECT vec_id, mind FROM d{i}
        WHERE vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        ORDER BY mind DESC, vec_id LIMIT 1
    ),
    sel{i} AS (SELECT vec_id FROM sel{i - 1}
               UNION ALL SELECT vec_id FROM pick{i}),
    cents{i} AS (SELECT vec_id, v, n2 FROM cents{i - 1}
                 UNION ALL
                 SELECT r.vec_id, r.v, r.n2
                 FROM raw r JOIN pick{i} p USING (vec_id))"""
        )
    finals = " UNION ALL ".join(
        ["SELECT CAST(1 AS INTEGER) AS rnk, vec_id, "
         "CAST(NULL AS DOUBLE) AS radius2 FROM c1"]
        + [
            f"SELECT CAST({i} AS INTEGER), vec_id, mind FROM pick{i}"
            for i in range(2, _KC_K + 1)
        ]
    )
    return "WITH " + ",".join(parts) + "\n    " + finals


@register("kcenter_coreset", oracle=_kcenter_oracle())
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center / farthest-point traversal (Gonzalez 1985, the
    2-approximation): seed with the smallest vec_id, then 5 times pick the
    point FARTHEST from the selected set (squared Euclidean, ties to the
    smaller id). The selection shape behind coreset construction and
    diversity-first data curation -- where MMR buys diversity among a
    relevance pool, k-center covers the whole embedding space, and the
    radius2 column (each pick's distance when chosen, non-increasing) is
    the covering-radius certificate.

    Distributed shape -- the textbook trick that makes greedy selection
    linear instead of quadratic: the corpus frame carries a running
    mind column (min squared distance to ANY selected center), each round
    updates it with least(mind, d2-to-newest-center) -- ONE scan per
    round, not |selected| -- and the argmax is a TakeOrderedAndProject
    reduce (no global sort, no collect beyond one row + one 64-float
    center). localCheckpoint bounds the least()-chain lineage.

    Parity: d2 = (n2_r - (2.0 * dot(r, c))) + n2_c with pinned
    association, dots via the fold kernel == list_dot_product; the MIN
    aggregate and the least() chain are the same pure-double comparisons;
    center vectors/norms travel driver-side as exact collected bits.
    """
    e = load_table(spark, sf_dir, "embeddings")
    base = (
        e.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        .withColumn("n2", S.dot(F.col("v"), F.col("v")))
        .localCheckpoint()
    )

    def d2_to(cvec: list[float], cn2: float):
        lit_v = F.array(*[F.lit(float(x)) for x in cvec])
        dp = F.aggregate(
            F.zip_with(F.col("v"), lit_v, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, val: acc + val,
        )
        return (F.col("n2") - (F.lit(2.0) * dp)) + F.lit(float(cn2))

    out_schema = "rnk int, vec_id bigint, radius2 double"
    seed = base.orderBy("vec_id").limit(1).collect()
    if not seed:
        # empty embeddings fixture: degrade to zero rows like the
        # unrolled oracle instead of IndexError-ing (ADVICE r11)
        return spark.createDataFrame([], out_schema)
    first = seed[0]
    selected = [first["vec_id"]]
    out_rows = [(1, first["vec_id"], None)]
    cur = base.withColumn(
        "mind", d2_to(first["v"], first["n2"])
    ).localCheckpoint()
    for rnk in range(2, _KC_K + 1):
        picked = (
            cur.where(~F.col("vec_id").isin(selected))
            .orderBy(F.desc("mind"), "vec_id")
            .limit(1)
            .collect()
        )
        if not picked:
            # corpus smaller than K: every point already selected
            break
        pick = picked[0]
        selected.append(pick["vec_id"])
        out_rows.append((rnk, pick["vec_id"], pick["mind"]))
        if rnk < _KC_K:
            prev = cur
            cur = cur.withColumn(
                "mind", F.least(F.col("mind"), d2_to(pick["v"], pick["n2"]))
            ).localCheckpoint()
            # the new checkpoint fully materializes the least() result, so
            # the previous round's blocks are dead -- release them now
            # instead of pinning K corpus copies until session cleanup
            _release_stage(prev)
    _release_stage(cur)
    _release_stage(base)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(out_rows, 1),
        out_schema,
    )


# --- DBSCAN over the similarity graph ----------------------------------------
_DBSCAN_TAU = 0.4   # epsilon-neighborhood: cosine >= tau
_DBSCAN_MINPTS = 2  # neighbors (self excluded) needed for core status

_DBSCAN_ORACLE = f"""
    WITH RECURSIVE raw AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])) > 0
    ),
    p AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM raw a JOIN raw b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / sqrt(list_dot_product(a.v, a.v)
                     * list_dot_product(b.v, b.v)) >= CAST('0.4' AS DOUBLE)
    ),
    sym AS (
        SELECT ia AS u, ib AS w FROM p UNION SELECT ib, ia FROM p
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
    core AS (SELECT u FROM deg WHERE d >= {_DBSCAN_MINPTS}),
    ce AS (
        SELECT s.u, s.w FROM sym s
        JOIN core ca ON ca.u = s.u
        JOIN core cb ON cb.u = s.w
    ),
    reach AS (
        SELECT u, w FROM ce
        UNION
        SELECT r.u, e.w FROM reach r JOIN ce e ON e.u = r.w
    ),
    core_cluster AS (
        SELECT c.u AS vec_id, LEAST(c.u, COALESCE(MIN(r.w), c.u)) AS cluster
        FROM core c LEFT JOIN reach r ON r.u = c.u
        GROUP BY c.u
    ),
    border AS (
        SELECT s.u AS vec_id, MIN(cc.cluster) AS cluster
        FROM sym s
        JOIN core_cluster cc ON cc.vec_id = s.w
        WHERE s.u NOT IN (SELECT u FROM core)
        GROUP BY s.u
    )
    SELECT e.vec_id,
           CASE WHEN cc.vec_id IS NOT NULL THEN 'core'
                WHEN b.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(cc.cluster, b.cluster) AS BIGINT) AS cluster
    FROM embeddings e
    LEFT JOIN core_cluster cc ON cc.vec_id = e.vec_id
    LEFT JOIN border b ON b.vec_id = e.vec_id
"""


@register("dbscan_embedding_clusters", oracle=_DBSCAN_ORACLE)
def dbscan_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) over the
    cosine similarity graph: epsilon-neighbors are pairs at cos >= 0.4
    (the dedup family's verified pair kernel -- exact at any corpus size
    via the auto-routed pivot-partitioned join), core points have >= 2
    neighbors, clusters are connected components of the core-core
    subgraph (min-label id), border points attach to their smallest core
    neighbor's cluster, everything else is noise. The clustering grain
    k-means cannot give: cluster COUNT is discovered, not configured,
    arbitrary-shaped dense regions stay together, and isolated points are
    labeled noise instead of being forced into the nearest centroid --
    exactly what curation wants for "find the template farms / leave the
    long tail alone".

    Deterministic end to end: the pair kernel is the fold/list_dot_product
    contract, degree thresholds are integers, components use min-label
    propagation (O(log n) pointer-jumping rounds vs the oracle's
    recursive-CTE closure -- same fixed point), and the border argmin is
    a MIN aggregate. Scale shape: ONE pair-kernel invocation (the
    expensive, already-laddered part -- dedup_embedding_cosine runs the
    same kernel), truthful-checkpointed because the similarity graph is
    read by three consumers plus every component-propagation round; then
    everything downstream operates on the TRUE-pair graph -- degree agg,
    core filter, component loop on core edges, one border join."""
    from sqldataintegrationfunctiontriggerapp_spark.operators.dedup import (
        connected_components,
    )

    from sqldataintegrationfunctiontriggerapp_spark.plans.dedup import (
        _cos_pairs_stage,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # The SESSION-SHARED materialized pair stage (one kernel run per
    # session+sf_dir, shared with dedup_embedding_cosine): sym feeds
    # three consumers (degree, core-edge build, border join) and the
    # component loop re-reads its edges every propagation round --
    # unmaterialized, each re-ran the whole cosine kernel (measured
    # 707.6 s at sf10, 15.1x super-linear; the kernel itself is ~96 s
    # there; truthful-checkpointing alone cut it to 133.2 s).
    pairs = _cos_pairs_stage(spark, sf_dir).select("id_a", "id_b")
    sym = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("w")
    ).unionAll(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("w")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    core = deg.where(F.col("d") >= _DBSCAN_MINPTS).select("u")
    ce = (
        sym.join(core.withColumnRenamed("u", "cu"), F.col("u") == F.col("cu"))
        .drop("cu")
        .join(core.withColumnRenamed("u", "cw"), F.col("w") == F.col("cw"))
        .drop("cw")
    )
    core_cluster = (
        connected_components(
            ce.select(F.col("u").alias("doc_a"), F.col("w").alias("doc_b"))
        )
        .select(
            F.col("doc_id").alias("vec_id"),
            F.col("component_id").alias("cluster"),
        )
        if ce.head(1)
        else core.select(
            F.col("u").alias("vec_id"), F.col("u").alias("cluster")
        ).where(F.lit(False))
    )
    # isolated cores (no core neighbor) form singleton clusters
    iso_core = core.join(
        core_cluster, core["u"] == core_cluster["vec_id"], "anti"
    ).select(F.col("u").alias("vec_id"), F.col("u").alias("cluster"))
    core_cluster = core_cluster.unionAll(iso_core).localCheckpoint()
    border = (
        sym.join(core, "u", "anti")
        .join(
            core_cluster.withColumnRenamed("vec_id", "w_id"),
            F.col("w") == F.col("w_id"),
        )
        .groupBy("u")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("u").alias("vec_id"), "cluster")
    )
    cc = core_cluster.select(
        "vec_id", F.lit("core").alias("role"), F.col("cluster").cast("long")
    )
    bb = border.select(
        "vec_id", F.lit("border").alias("role"), F.col("cluster").cast("long")
    )
    labeled = cc.unionAll(bb)
    all_ids = e.select("vec_id")
    noise = all_ids.join(labeled, "vec_id", "anti").select(
        "vec_id",
        F.lit("noise").alias("role"),
        F.lit(None).cast("long").alias("cluster"),
    )
    return labeled.unionAll(noise)
