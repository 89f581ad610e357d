"""Advanced operator coverage: as-of join (custom operator, cross-validated
against DuckDB's native ASOF JOIN), ordered string aggregation, unpivot,
exact percentiles, correlated subqueries, order-count distribution, a
Pandas-UDF path proven against the same oracle as its expression twin, and
JSON roundtripping.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.operators.asof import (
    asof_join,
    asof_join_cogroup,
)
from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
    DEC,
    dsum,
    shared_pair_counts,
    truthful_ckpt,
)
from sqldataintegrationfunctiontriggerapp_spark.plans.registry import register

_ASOF_ORACLE = """
    WITH p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(event_id) AS pid
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, CAST(ts AS TIMESTAMP)
    )
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           p.pts AS asof_purchase_ts, p.pid AS asof_purchase_id
    FROM events e
    ASOF LEFT JOIN p ON e.user_id = p.user_id AND CAST(e.ts AS TIMESTAMP) >= p.pts
    """


def _asof_inputs(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("pts"))
        .agg(F.max("event_id").alias("pid"))
        .select("user_id", F.col("pts").alias("purchase_ts"),
                F.col("pid").alias("purchase_id"))
    )
    return ev.select("event_id", "user_id", "ts"), purchases


@register("asof_join_prior_purchase", oracle=_ASOF_ORACLE)
def asof_join_prior_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event annotated with the latest purchase at-or-before
    it for the same user. The engine's union-and-carry window implementation
    (operators/asof.py -- one shuffle, no range-join explosion) is verified
    against DuckDB's *native* ASOF JOIN, i.e. two independent constructions
    of the semantics."""
    ev, purchases = _asof_inputs(spark, sf_dir)
    out = asof_join(
        ev,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="purchase_ts",
        value_cols=["purchase_ts", "purchase_id"],
    )
    return out.select("event_id", "user_id", "ts",
                      "asof_purchase_ts", "asof_purchase_id")


@register("asof_join_cogroup_pandas", oracle=_ASOF_ORACLE)
def asof_join_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of semantics through the cogrouped-UDF surface
    (groupBy.cogroup.applyInPandas running pandas merge_asof per key) --
    three independent constructions now hash-check against each other:
    window expressions, pandas two-pointer merge, DuckDB native ASOF."""
    ev, purchases = _asof_inputs(spark, sf_dir)
    out = asof_join_cogroup(
        ev,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="purchase_ts",
        value_cols=["purchase_ts", "purchase_id"],
    )
    return out.select("event_id", "user_id", "ts",
                      "asof_purchase_ts", "asof_purchase_id")


@register(
    "string_agg_ordered",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS names,
           COUNT(*) AS n
    FROM (SELECT c_nationkey, c_name FROM customer
          WHERE c_acctbal > 4500) t
    GROUP BY c_nationkey
    """,
)
def string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list -> array_sort -> array_join
    (deterministic regardless of shuffle arrival order -- the unordered
    collect_list alone would be nondeterministic)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 4500)
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("names"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_partkey < 500
    UNION ALL
    SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value
    FROM part WHERE p_partkey < 500
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long) via stack()."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE),"
            " 'retailprice', p_retailprice) AS (metric, value)"
        ),
    )


@register(
    "percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (the at-scale variant is
    percentile_approx below -- single-pass mergeable sketch)."""
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
    )


@register(
    "percentile_approx",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price_exact,
           TRUE AS within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK/KLL-style approximate percentile: one pass, mergeable, the only
    affordable shape at 100 TB (exact `percentile` buffers every value per
    group -- see `percentiles` above for the small-cardinality variant).

    Hash-checkable accuracy contract (VERDICT r04 "Next round" #2, same
    pattern as approx_count_distinct): the sketch's returned data point
    differs from DuckDB's interpolated quantile_cont, so the query emits the
    exact interpolated p95 plus a boolean asserting the sketch landed within
    2% relative value error; the oracle computes the exact side and a
    literal TRUE. accuracy=10000 bounds RANK error at n/10000; on this
    price distribution (dense, bounded support) that is orders of magnitude
    inside 2% of value. Both aggregates run in one groupBy pass."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.expr("percentile(l_extendedprice, 0.95)")
    approx = F.percentile_approx("l_extendedprice", 0.95, 10000)
    return li.groupBy("l_returnflag").agg(
        F.round(exact, 4).alias("p95_price_exact"),
        (F.abs(approx / exact - 1.0) <= 0.02).alias("within_tol"),
    )


@register(
    "correlated_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(c2.c_acctbal)
        FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above their nation's average balance. The oracle states it
    as a correlated scalar subquery; the engine decorrelates it explicitly --
    per-key aggregate + join -- which is exactly the rewrite Catalyst itself
    applies to such subqueries (and the only shape that scales)."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count("c_acctbal")
        ).alias("nation_avg")
    )
    return (
        c.join(F.broadcast(avg_bal), c.c_nationkey == avg_bal.nk)
        .where(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )


@register(
    "q13_order_distribution",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) t
    GROUP BY n_orders
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped double aggregation: customer order-count histogram
    with a join-condition filter (not a WHERE -- customers with zero
    qualifying orders must survive)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders", spread=True).where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "pandas_udf_quality",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\\s+'),
                   x -> x <> '')) AS n_tokens,
               CAST(len(list_filter(list_filter(regexp_split_to_array(text, '\\s+'),
                        x -> x <> ''),
                    x -> lower(x) IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
                 / greatest(len(list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> x <> '')), 1) AS stop_ratio,
               CAST(length(lower(text))
                    - length(regexp_replace(lower(text), '[^a-z ]', '', 'g'))
                    AS DOUBLE)
                 / greatest(length(lower(text)), 1) AS noise_ratio
        FROM documents
    )
    SELECT doc_id,
           (CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 0.4 ELSE 0.0 END
            + CASE WHEN stop_ratio >= 0.05 THEN 0.3 ELSE 0.0 END
            + CASE WHEN noise_ratio <= 0.3 THEN 0.3 ELSE 0.0 END) AS quality
    FROM t
    """,
)
def pandas_udf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-vectorized UDF surface: the same quality score as
    text_quality_score, computed in a pandas_udf, checked against the SAME
    oracle formula -- proving the Python slow path produces bit-identical
    results to the JVM expression path."""
    stop = {"the", "a", "of", "to", "and", "in", "is"}

    @F.pandas_udf("double")
    def quality(text: pd.Series) -> pd.Series:
        def score(s: str) -> float:
            toks = [t for t in re.split(r"\s+", s) if t]
            n = len(toks)
            stop_ratio = sum(1 for t in toks if t.lower() in stop) / max(n, 1)
            low = s.lower()
            noise = (len(low) - len(re.sub("[^a-z ]", "", low))) / max(len(low), 1)
            q = 0.4 if 5 <= n <= 5000 else 0.0
            q += 0.3 if stop_ratio >= 0.05 else 0.0
            q += 0.3 if noise <= 0.3 else 0.0
            return q

        return text.map(score)

    d = load_table(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return d.select("doc_id", quality("text").alias("quality"))


@register(
    "grouped_applyinpandas_scale",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CASE WHEN mx = mn THEN 0.0
                ELSE (c_acctbal - mn) / (mx - mn) END AS bal_scaled
    FROM (
        SELECT c_custkey, c_nationkey, c_acctbal,
               MIN(c_acctbal) OVER (PARTITION BY c_nationkey) AS mn,
               MAX(c_acctbal) OVER (PARTITION BY c_nationkey) AS mx
        FROM customer
    ) t
    """,
)
def grouped_applyinpandas_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-UDF surface: per-nation min-max scaling in applyInPandas
    (one Arrow batch per group). min/max + a single subtract/divide are
    bit-identical to the oracle's window formulation, so even the Python
    slow path hash-checks. The groupBy key rides the shuffle exactly like a
    window partition -- same scale shape, arbitrary Python inside."""

    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        mn, mx = pdf["c_acctbal"].min(), pdf["c_acctbal"].max()
        scaled = (pdf["c_acctbal"] - mn) / (mx - mn) if mx != mn else 0.0
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_nationkey": pdf["c_nationkey"],
                "bal_scaled": scaled,
            }
        )

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    return c.groupBy("c_nationkey").applyInPandas(
        scale, "c_custkey bigint, c_nationkey int, bal_scaled double"
    )


@register(
    "from_json_roundtrip",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(to_json(struct_pack(
               k := CAST(json_extract_string(props, '$.k') AS BIGINT),
               event_id := event_id)) AS VARCHAR) AS reserialized
    FROM events
    WHERE event_id < 1000
    """,
)
def from_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-ful JSON parse (from_json with a StructType) + re-serialize."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 1000)
    parsed = ev.withColumn("j", F.from_json("props", "k bigint"))
    return parsed.select(
        "event_id",
        F.col("j.k").alias("k"),
        F.to_json(F.struct(F.col("j.k").alias("k"), F.col("event_id"))).alias(
            "reserialized"
        ),
    )


@register(
    "fuzzy_levenshtein_pairs",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE a.p_partkey < 300 AND b.p_partkey < 300
      AND levenshtein(a.p_name, b.p_name) <= 12
    """,
)
def fuzzy_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching (entity-resolution shape): candidate
    pairs blocked on an equality key (brand) so the quadratic comparison
    runs per block, never across the whole table -- the classic blocking
    strategy that keeps Levenshtein affordable at scale."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_partkey") < 300)
    a = p.select(F.col("p_partkey").alias("key_a"), F.col("p_name").alias("na"),
                 "p_brand")
    b = p.select(F.col("p_partkey").alias("key_b"), F.col("p_name").alias("nb"),
                 "p_brand")
    return (
        a.join(b, "p_brand")
        .where(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a", "key_b",
            F.levenshtein("na", "nb").alias("dist"),
        )
        .where(F.col("dist") <= 12)
    )


@register(
    "posexplode_terms",
    oracle="""
    SELECT doc_id,
           UNNEST(range(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')))) AS pos,
           UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x <> '')) AS term
    FROM documents
    WHERE doc_id < 50
    """,
)
def posexplode_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: token with ordinal position (DuckDB zips parallel
    UNNESTs; range() supplies the 0-based ordinal)."""
    from sqldataintegrationfunctiontriggerapp_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "term")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "term")


@register(
    "exists_semi_subquery",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY o.o_orderpriority
    """,
)
def exists_semi_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS: orders with at least one lineitem shipped
    more than 90 days after the order date, counted by priority. The engine
    states the EXISTS as a LEFT SEMI join -- the decorrelated plan Catalyst
    would produce, and the only shape that scales (the semi join stops
    probing an order after its first late lineitem; no fact-side blowup)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "in_subquery_large_orders",
    oracle="""
    SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
           o.o_totalprice, SUM(l.l_quantity) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def in_subquery_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped IN + HAVING subquery: customers behind the very
    largest orders (total quantity > 250, the top ~1%). The IN list is an
    aggregate over the same fact table; the engine computes it once and
    LEFT SEMI joins it back -- at scale the HAVING filter makes the semi
    side tiny, so AQE converts the probe into a broadcast join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
    )


@register(
    "not_exists_anti_subquery",
    oracle="""
    SELECT c.c_nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(c2.c_acctbal)
        FROM customer c2 WHERE c2.c_acctbal > 0.0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY c.c_nationkey
    """,
)
def not_exists_anti_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped NOT EXISTS + uncorrelated scalar subquery:
    above-average-balance customers with no urgent order, by nation.
    NOT EXISTS becomes a LEFT ANTI join against the pre-filtered orders
    subset (filter pushed below the anti join, so the build side carries
    only urgent orders); the scalar average is a one-row aggregate joined
    in by broadcast -- no per-row subquery execution anywhere."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
            / F.count("c_acctbal")
        ).alias("avg_bal")
    )
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_bal"),
        )
    )


@register(
    "funnel_analysis",
    oracle="""
    WITH tv AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS tv
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    tc AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS tc
        FROM events e JOIN tv ON e.user_id = tv.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > tv.tv
        GROUP BY e.user_id
    ),
    tp AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS tp
        FROM events e JOIN tc ON e.user_id = tc.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > tc.tc
        GROUP BY e.user_id
    )
    SELECT CAST(COUNT(tv.tv) AS BIGINT) AS n_viewed,
           CAST(COUNT(tc.tc) AS BIGINT) AS n_clicked,
           CAST(COUNT(tp.tp) AS BIGINT) AS n_purchased
    FROM tv LEFT JOIN tc ON tv.user_id = tc.user_id
            LEFT JOIN tp ON tv.user_id = tp.user_id
    """,
)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): per user, the first view,
    the first click strictly after it, the first purchase strictly after
    that; counts of users surviving each stage.

    Single-scan shape (OPTIMIZATION r16, the r15 "not yet" item): the
    three funnel stages are SEQUENTIAL MIN windows over ONE user_id
    partitioning -- tv = min(view ts), tc = min(click ts > tv),
    tp = min(purchase ts > tc); each later window may reference the
    earlier one because they share the partitioning, so Catalyst plans
    one exchange + consecutive Window operators (no re-shuffle). The
    former shape scanned events three times and ran two join+aggregate
    stages plus two final joins. A user with no view has tv NULL, so
    `ts > tv` is NULL and tc/tp stay NULL -- exactly the oracle's
    join-restricted semantics; the per-user dedup rides the same
    partitioning as a user-keyed aggregate, and only the 3 funnel event
    types are scanned (pushed filter)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    ).where(F.col("event_type").isin("view", "click", "purchase"))
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "tv",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "tc",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("tv")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "tp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("tc")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("tv").alias("tv"), F.max("tc").alias("tc"), F.max("tp").alias("tp")
    )
    return per_user.agg(
        F.count("tv").cast("long").alias("n_viewed"),
        F.count("tc").cast("long").alias("n_clicked"),
        F.count("tp").cast("long").alias("n_purchased"),
    )


# --------------------------------------------------------------------------
# Bloom-filter membership probe (join-pruning sketch)
# --------------------------------------------------------------------------

# Bit positions, identical in Spark SQL and DuckDB: hash j of a key is the
# first _BLOOM_NIBBLES md5 nibbles of md5("j|key") -> a position in an
# m = 16^_BLOOM_NIBBLES-bit filter, k = _BLOOM_K independent hashes. Same
# cross-engine md5-nibble idiom as SimHash and the CMS buckets; k and the
# nibble count are the two knobs, and BOTH the oracle and the Spark bitmap
# width derive from them, so changing either keeps all three in sync (a
# hardcoded word count would silently leave the Spark array short of the
# widened position space while the generated oracle stayed correct).
_BLOOM_K = 3
_BLOOM_NIBBLES = 4  # 16^4 = 65536 bits
_BLOOM_WORDS = 16 ** _BLOOM_NIBBLES // 64


def _bloom_bitpos(j: int, key_sql: str) -> str:
    # PRECONDITION: key_sql must be NON-NULL (ADVICE r05 #1). The engines
    # disagree on NULL concat args -- Spark's concat('j|', NULL) is NULL
    # (bitpos NULL, bloom_pass NULL) while DuckDB's concat SKIPS NULL args
    # and hashes 'j|'. TPC-H o_custkey/c_custkey are non-null so the branch
    # is unreachable here; reusing this helper on a nullable key requires
    # wrapping it in coalesce(CAST(k AS STRING), '') on BOTH sides first.
    h = f"md5(concat('{j}|', {key_sql}))"
    terms = " + ".join(
        f"(instr('0123456789abcdef', substring({h}, {i}, 1)) - 1)"
        f" * {16 ** (_BLOOM_NIBBLES - i)}"
        for i in range(1, _BLOOM_NIBBLES + 1)
    )
    return f"({terms})"


def _bloom_bitpos_case(key_sql: str) -> str:
    whens = "\n                 ".join(
        f"WHEN {j} THEN {_bloom_bitpos(j, key_sql)}"
        for j in range(_BLOOM_K)
    )
    return f"CASE j\n                 {whens}\n               END"


@register(
    "bloom_filter_probe",
    oracle=f"""
    WITH members AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    hashes AS (SELECT UNNEST([{", ".join(str(j) for j in range(_BLOOM_K))}])
               AS j),
    bits AS (
        SELECT DISTINCT {_bloom_bitpos_case("CAST(c_custkey AS VARCHAR)")}
               AS bitpos
        FROM members, hashes
    ),
    pb AS (
        SELECT o_orderkey, o_orderstatus, o_custkey,
               {_bloom_bitpos_case("CAST(o_custkey AS VARCHAR)")} AS bitpos
        FROM orders, hashes
    ),
    hits AS (
        SELECT o_orderkey, o_orderstatus, o_custkey,
               SUM(CASE WHEN bitpos IN (SELECT bitpos FROM bits)
                        THEN 1 ELSE 0 END) = {_BLOOM_K} AS bloom_pass
        FROM pb GROUP BY 1, 2, 3
    ),
    flagged AS (
        SELECT h.o_orderstatus, h.bloom_pass,
               (m.c_custkey IS NOT NULL) AS is_member
        FROM hits h LEFT JOIN members m ON m.c_custkey = h.o_custkey
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_members,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_member
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
           CAST(SUM(CASE WHEN is_member AND NOT bloom_pass
                         THEN 1 ELSE 0 END) AS BIGINT) = 0
               AS no_false_negatives
    FROM flagged
    GROUP BY o_orderstatus
    """,
)
def bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe -- the join-pruning sketch (a fifth
    sketch family after HLL, KLL, CMS, MinHash/SimHash) and the shape behind
    runtime filter pushdown: prune a fact scan against a dimension predicate
    WITHOUT shuffling the fact table.

    Build: the member keys (BUILDING-segment customers) map to k=3 16-bit
    positions each (md5 nibbles); one small aggregate packs them into a
    1024-word bitmap, collected to the driver (<=8 KB, BOUNDED by the fixed
    filter width m = 65536 regardless of corpus size -- the same bounded-
    metadata pattern as the IVF pivot collect) and re-broadcast as an array
    literal. Probe: each orders row tests its 3 bit positions against the
    literal with element_at + shiftright -- pure map-side expression work in
    whole-stage codegen, zero shuffle on the fact side. That asymmetry is
    the entire point at 100 TB: the filter costs O(m) to ship, the fact
    table is pruned in place, and only the survivors reach the downstream
    join (Spark's own InjectRuntimeFilter plans exactly this shape).

    Everything is md5-deterministic, so the oracle mirrors the FULL result
    exactly -- per-status totals, bloom passes, true members, and the
    false-positive count itself (no tolerance needed), plus the structural
    no-false-negatives guarantee every bloom filter must satisfy. The
    exact-membership side (broadcast left join against the small member
    dim) is the evaluation harness, same discipline as cms_heavy_hitters:
    production keeps only the bitmap."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    members = (
        c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    )
    mkey = "CAST(c_custkey AS STRING)"
    pos = members.select(
        F.explode(
            F.array(
                *[
                    F.expr(_bloom_bitpos(j, mkey)).cast("int")
                    for j in range(_BLOOM_K)
                ]
            )
        ).alias("bitpos")
    )
    word_rows = (
        pos.groupBy(F.expr("bitpos div 64").cast("int").alias("w"))
        .agg(F.expr("bit_or(shiftleft(1L, bitpos % 64))").alias("word"))
        .collect()
    )
    wmap = {r.w: r.word for r in word_rows}
    # one parsed expression, NOT 1024 F.lit() calls: each lit() is a Py4J
    # round-trip (~1.7s of pure driver chatter for the full bitmap); the
    # SQL parser builds the same array<bigint> literal in one call
    words = F.expr(
        "array("
        + ", ".join(f"{wmap.get(i, 0)}L" for i in range(_BLOOM_WORDS))
        + ")"
    )
    okey = "CAST(o_custkey AS STRING)"
    probe = o.select(
        "o_custkey",
        "o_orderstatus",
        *[
            F.expr(_bloom_bitpos(j, okey)).cast("int").alias(f"_p{j}")
            for j in range(_BLOOM_K)
        ],
    ).withColumn("_words", words)
    bit_ok = [
        F.expr(
            f"(shiftright(element_at(_words, CAST(_p{j} div 64 AS INT) + 1),"
            f" _p{j} % 64) & 1) = 1"
        )
        for j in range(_BLOOM_K)
    ]
    bloom_pass = bit_ok[0]
    for e in bit_ok[1:]:
        bloom_pass = bloom_pass & e
    flagged = (
        probe.withColumn("bloom_pass", bloom_pass)
        .join(
            F.broadcast(members.withColumn("_m", F.lit(1))),
            probe.o_custkey == members.c_custkey,
            "left",
        )
        .withColumn("is_member", F.col("_m").isNotNull())
    )
    return flagged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("bloom_pass").cast("int")).cast("long").alias("n_bloom_pass"),
        F.sum(F.col("is_member").cast("int")).cast("long").alias("n_members"),
        F.sum((F.col("bloom_pass") & ~F.col("is_member")).cast("int"))
        .cast("long")
        .alias("n_false_positives"),
        (
            F.sum((F.col("is_member") & ~F.col("bloom_pass")).cast("int")) == 0
        ).alias("no_false_negatives"),
    )


# --------------------------------------------------------------------------
# Mergeable quantile sketch (per-partition histogram merge)
# --------------------------------------------------------------------------

_QSK_B = 128  # buckets per sketch; the one knob -- oracle derives from it too

# The pass-1 bucket-index rule, shared VERBATIM by the quantile_sketch_merge
# oracle and quantile_sketch_refined's (whose pass-1 buckets must match the
# base sketch by construction) -- one definition so the clamp/divisor can
# never desynchronize between the base sketch and its refinement.
_QSK_IDX = (
    f"CASE WHEN hi > lo THEN LEAST({_QSK_B - 1}, GREATEST(0,"
    f" CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / {_QSK_B}.0))"
    f" AS INT))) ELSE 0 END"
)


@register(
    "quantile_sketch_merge",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        FROM lineitem
    ),
    bkt AS (
        SELECT {_QSK_IDX} AS idx
        FROM lineitem, bounds
    ),
    hist AS (SELECT idx, COUNT(*) AS cnt FROM bkt GROUP BY idx),
    cums AS (
        SELECT idx, cnt,
               SUM(cnt) OVER (ORDER BY idx) AS cum,
               SUM(cnt) OVER () AS n
        FROM hist
    ),
    scored AS (
        SELECT c.*,
               CASE WHEN b.hi > b.lo THEN
                   b.lo + (c.idx + 1) * ((b.hi - b.lo) / {_QSK_B}.0)
               END AS est
        FROM cums c, bounds b
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_total,
           MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN est END) AS est_p50,
           CAST(MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN cum END) AS BIGINT)
               AS n_le_p50,
           MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN est END) AS est_p90,
           CAST(MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN cum END) AS BIGINT)
               AS n_le_p90,
           MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN est END) AS est_p99,
           CAST(MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN cum END) AS BIGINT)
               AS n_le_p99
    FROM scored
    """,
)
def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantiles via EXPLICIT per-partition sketch merge -- the
    sixth sketch family (VERDICT r05 "Next round" #5) and the mergeable-
    summary shape `percentile_approx` evidences only implicitly: every
    partition builds a FIXED-SIZE summary independently, the summaries
    merge ASSOCIATIVELY AND COMMUTATIVELY, and quantiles are read off the
    merged summary. That build/merge/query contract is exactly how KLL /
    t-digest / DataSketches quantiles run on a cluster; here the summary is
    a fixed-domain equi-width histogram (one array<long> of B=128 counts),
    whose merge -- elementwise add -- is deterministic under ANY arrival
    order, which is what makes the sketch itself hash-checkable (random-
    sampling sketches like true KLL cannot be, which is why
    percentile_approx carries an accuracy-contract oracle instead).

    Plan shape, stage by stage:
      1. one 1-row bounds aggregate (lo, hi) broadcast into the scan (the
         allowlisted 1-row BroadcastNestedLoopJoin idiom);
      2. per-partition sketches: count per (spark_partition_id(), bucket)
         -- map-side partial aggregation reduces each task's rows to <=B
         cells BEFORE the exchange (the one-pass sketch build; the shuffle
         carries #partitions x B rows, KBs at any data scale) -- then the
         sparse cells densify into ONE fixed-size array row per partition
         (the serialized sketch a real cluster would ship);
      3. associative merge: collect_list of the partition sketches folded
         with aggregate()/zip_with -- bounded by the partition count (a
         1000-executor job merges 1000 sketches = 1 MB), never by rows;
      4. quantile read-off: posexplode to B rows, one ordered window for
         the cumulative counts (B rows, single partition -- metadata, not
         data), and for each p the first bucket whose cumulative count
         reaches ceil(p*n) via min-of-struct.

    The estimate's guarantee is structural: est_p is the tightest bucket
    upper edge with >= ceil(p*n) values at or below it, so the true p-th
    value lies within one bucket width below est_p. Both engines compute
    identical doubles (same lo/hi, same IEEE bucket arithmetic), so the
    oracle mirrors the FULL result exactly -- estimates and cumulative
    counts, no tolerance needed. Bucket intermediates stay integral (cnt,
    cum are longs; n fits a double exactly far beyond any real row count),
    so no DECIMAL routing is required.

    DEGENERATE-DOMAIN GUARD (ADVICE r06 #4): a constant value column makes
    the bucket width 0. Both sides now degrade identically and LAZILY --
    every row routes to bucket 0 (guarded CASE / when(), no division by
    zero ever evaluates) and the estimates come back NULL while n_total and
    the cumulative counts stay exact. Guarding loudly would require
    executing the bounds aggregate at BUILD time (this query is otherwise
    fully lazy, unlike the staging helpers that validate eagerly), so the
    degenerate case degrades instead of raising; pinned on BOTH engines by
    tests/test_queries_registry.py
    (test_quantile_sketch_constant_column_degrades_to_nulls). The one remaining
    documented precondition is non-empty input (an empty table returns one
    all-zero sketch row where the oracle returns zero rows -- like
    _bloom_bitpos's non-null keys, documented not guarded)."""
    return quantile_sketch(load_table(spark, sf_dir, "lineitem"), "l_extendedprice")


def quantile_sketch(df: DataFrame, value_col: str) -> DataFrame:
    """The sketch construction behind quantile_sketch_merge, over any
    DataFrame/column (plan shape and guarantees documented on the registered
    query; extracted so the degenerate-domain property test can drive it
    with a constant column)."""
    cur = _sketch_cumulative(df, value_col)

    def _pick(p: float):
        target = F.ceil(F.lit(p) * F.col("n"))
        return F.min(
            F.when(F.col("cum") >= target, F.struct("est", "cum"))
        )

    sel = cur.agg(
        F.max("n").alias("n_total"),
        _pick(0.5).alias("q50"),
        _pick(0.9).alias("q90"),
        _pick(0.99).alias("q99"),
    )
    return sel.select(
        F.col("n_total").cast("long").alias("n_total"),
        F.col("q50.est").alias("est_p50"),
        F.col("q50.cum").cast("long").alias("n_le_p50"),
        F.col("q90.est").alias("est_p90"),
        F.col("q90.cum").cast("long").alias("n_le_p90"),
        F.col("q99.est").alias("est_p99"),
        F.col("q99.cum").cast("long").alias("n_le_p99"),
    )


def _sketch_cumulative(df: DataFrame, value_col: str) -> DataFrame:
    """Build/merge/cumulate stages of the mergeable histogram sketch,
    shared by the upper-edge read-off (quantile_sketch) and the
    interpolated read-off (quantile_interpolated): returns the B-row frame
    (lo, hi, idx, cnt, cum, n, est) where est is the bucket's upper edge."""
    from pyspark.sql import Window

    B = _QSK_B
    li = df
    bounds = li.agg(
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(B))
    # degenerate-domain guard (see docstring): constant column -> bucket 0
    idx = F.when(
        F.col("hi") > F.col("lo"),
        F.least(
            F.lit(B - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col(value_col) - F.col("lo")) / width).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    tagged = (
        li.select(value_col)
        .crossJoin(F.broadcast(bounds))
        .select(
            F.spark_partition_id().alias("pid"),
            idx.alias("idx"),
            "lo",
            "hi",
        )
    )
    # per-partition sketch build: count per (pid, bucket) -- the map-side
    # partial aggregation IS the one-pass sketch construction (each task
    # reduces its rows to <=B cells before any exchange; the shuffle
    # carries #partitions x B rows max) -- then densify the sparse cells
    # into the fixed-size array. A 128-way sum(CASE WHEN ...) wide
    # aggregate computes the same array in one level but evaluates B
    # conditionals per ROW; measured 2.6x slower at sf0.1 (2.3 s vs 0.9 s)
    # than counting per cell and densifying per PARTITION.
    per_cell = tagged.groupBy("pid", "idx").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.first("lo").alias("lo"),  # constant on every row
        F.first("hi").alias("hi"),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit(0).cast("long")),
    )
    per_part = per_cell.groupBy("pid").agg(
        F.map_from_entries(F.collect_list(F.struct("idx", "cnt"))).alias("m"),
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
    ).select("pid", dense.alias("sketch"), "lo", "hi")
    merged = per_part.agg(
        F.aggregate(
            F.collect_list("sketch"),
            F.array(*[F.lit(0).cast("long")] * B),
            lambda acc, s: F.zip_with(acc, s, lambda a, b: a + b),
        ).alias("hist"),
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
    )
    ex = merged.select("lo", "hi", F.posexplode("hist").alias("idx", "cnt"))
    w_cum = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("idx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        ex.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(w_all))
        .withColumn(
            "est",
            F.when(
                F.col("hi") > F.col("lo"),
                F.col("lo")
                + (F.col("idx") + 1) * ((F.col("hi") - F.col("lo")) / F.lit(float(B))),
            ),
        )
    )


@register(
    "quantile_interpolated",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        FROM lineitem
    ),
    bkt AS (
        SELECT {_QSK_IDX} AS idx
        FROM lineitem, bounds
    ),
    hist AS (SELECT idx, COUNT(*) AS cnt FROM bkt GROUP BY idx),
    cums AS (
        SELECT idx, CAST(cnt AS BIGINT) AS cnt,
               CAST(SUM(cnt) OVER (ORDER BY idx) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER () AS BIGINT) AS n
        FROM hist
    ),
    p50 AS (SELECT MIN(idx) AS idx FROM cums WHERE cum >= CEIL(0.5 * n)),
    p90 AS (SELECT MIN(idx) AS idx FROM cums WHERE cum >= CEIL(0.9 * n)),
    p99 AS (SELECT MIN(idx) AS idx FROM cums WHERE cum >= CEIL(0.99 * n))
    SELECT CAST(c50.n AS BIGINT) AS n_total,
           CASE WHEN b.hi > b.lo THEN
               b.lo + c50.idx * ((b.hi - b.lo) / {_QSK_B}.0)
                    + ((CEIL(0.5 * c50.n) - (c50.cum - c50.cnt)) / c50.cnt)
                      * ((b.hi - b.lo) / {_QSK_B}.0)
           END AS est_p50_interp,
           CASE WHEN b.hi > b.lo THEN
               b.lo + c90.idx * ((b.hi - b.lo) / {_QSK_B}.0)
                    + ((CEIL(0.9 * c90.n) - (c90.cum - c90.cnt)) / c90.cnt)
                      * ((b.hi - b.lo) / {_QSK_B}.0)
           END AS est_p90_interp,
           CASE WHEN b.hi > b.lo THEN
               b.lo + c99.idx * ((b.hi - b.lo) / {_QSK_B}.0)
                    + ((CEIL(0.99 * c99.n) - (c99.cum - c99.cnt)) / c99.cnt)
                      * ((b.hi - b.lo) / {_QSK_B}.0)
           END AS est_p99_interp
    FROM bounds b, p50, p90, p99,
         cums c50, cums c90, cums c99
    WHERE c50.idx = p50.idx AND c90.idx = p90.idx AND c99.idx = p99.idx
    """,
)
def quantile_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-digest-style INTERPOLATED read-off over the mergeable histogram
    sketch (VERDICT r08 "Next round" #8 stretch): same build/merge contract
    as quantile_sketch_merge -- fixed-size per-partition summaries merged
    associatively -- but the quantile estimate interpolates linearly WITHIN
    the picked bucket, the way t-digest interpolates within a centroid,
    instead of returning the bucket's upper edge:

        est_p = lo + idx*w + ((ceil(p*n) - cum_before) / cnt) * w

    i.e. the target rank's fractional position among the bucket's cnt
    values, assuming uniform spread -- exact when values are uniform in the
    bucket, and never worse than one bucket width (the edge read-off's
    guarantee) otherwise. A true t-digest's adaptive centroid layout cannot
    be hash-checked (cluster boundaries depend on merge order); the fixed
    bucket grid keeps the merge deterministic under ANY arrival order, so
    this oracle mirrors the FULL interpolation arithmetic exactly -- both
    engines compute identical IEEE doubles (same left-associated expression,
    integer rank/count intermediates exact well below 2^53, division order
    identical).

    The picked bucket always has cnt >= 1 (the minimal idx whose cumulative
    count reaches the target is a bucket where cum strictly increased), so
    the division is structurally safe; the degenerate constant-column domain
    degrades to NULL estimates exactly like the base sketch (same lazy CASE
    guard, pinned for the base in test_queries_registry). Plan shape is the
    shared _sketch_cumulative stage: one bounds broadcast, map-side partial
    per-partition sketches, a partition-count-bounded merge, and a B-row
    window -- metadata, not data, at every step past the scan."""
    cur = _sketch_cumulative(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice"
    )
    B = _QSK_B
    width = (F.col("hi") - F.col("lo")) / F.lit(float(B))

    def _pick(p: float):
        target = F.ceil(F.lit(p) * F.col("n"))
        return F.min(
            F.when(F.col("cum") >= target, F.struct("idx", "cnt", "cum"))
        )

    sel = cur.agg(
        F.max("n").alias("n_total"),
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
        _pick(0.5).alias("q50"),
        _pick(0.9).alias("q90"),
        _pick(0.99).alias("q99"),
    )

    def interp(p: float, q: str):
        target = F.ceil(F.lit(p) * F.col("n_total"))
        frac = (target - (F.col(f"{q}.cum") - F.col(f"{q}.cnt"))) / F.col(
            f"{q}.cnt"
        )
        return F.when(
            F.col("hi") > F.col("lo"),
            F.col("lo") + F.col(f"{q}.idx") * width + frac * width,
        )

    return sel.select(
        F.col("n_total").cast("long").alias("n_total"),
        interp(0.5, "q50").alias("est_p50_interp"),
        interp(0.9, "q90").alias("est_p90_interp"),
        interp(0.99, "q99").alias("est_p99_interp"),
    )


@register(
    "quantile_sketch_grouped",
    oracle=f"""
    WITH bounds AS (
        SELECT l_returnflag, MIN(l_extendedprice) AS lo,
               MAX(l_extendedprice) AS hi
        FROM lineitem GROUP BY l_returnflag
    ),
    bkt AS (
        SELECT l.l_returnflag, {_QSK_IDX} AS idx
        FROM lineitem l JOIN bounds USING (l_returnflag)
    ),
    hist AS (
        SELECT l_returnflag, idx, COUNT(*) AS cnt FROM bkt GROUP BY 1, 2
    ),
    cums AS (
        SELECT l_returnflag, idx, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY idx)
                    AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        FROM hist
    ),
    scored AS (
        SELECT c.*,
               CASE WHEN b.hi > b.lo THEN
                   b.lo + (c.idx + 1) * ((b.hi - b.lo) / {_QSK_B}.0)
               END AS est
        FROM cums c JOIN bounds b USING (l_returnflag)
    )
    SELECT l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n_total,
           MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN est END) AS est_p50,
           CAST(MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN cum END) AS BIGINT)
               AS n_le_p50,
           MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN est END) AS est_p90,
           CAST(MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN cum END) AS BIGINT)
               AS n_le_p90,
           MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN est END) AS est_p99,
           CAST(MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN cum END) AS BIGINT)
               AS n_le_p99
    FROM scored
    GROUP BY l_returnflag
    """,
)
def quantile_sketch_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP mergeable-histogram quantiles in one pass -- the grouped
    dimension the global sketch family (merge / refined / interpolated)
    lacks, and the shape a 100 TB pipeline actually monitors (quantiles per
    source / per day / per shard, thousands of groups at once). Each group
    gets its own (lo, hi) domain from one 3-row bounds aggregate broadcast
    back into the scan, then ONE hash aggregate counts (group, bucket)
    cells: the map-side partial aggregation is the per-partition sketch
    build (each task reduces to <= groups x B cells before the exchange),
    and the reduce-side combine is the sketch merge -- the same
    build/merge/read-off contract as quantile_sketch_merge with the group
    as an extra key, so the shuffle carries groups x B cells regardless of
    row count. Read-off windows partition by group over <= B rows each.
    The sparse (group, bucket) table reads off identically to the dense
    array form (a zero-count bucket can never be the minimal one reaching
    a cumulative target), which is why no densify stage is needed here.
    Same degenerate-domain guard per group (a constant group's estimates
    go NULL, its counts stay exact); identical IEEE bucket arithmetic both
    engines, so all estimates and cumulative counts hash exactly."""
    return grouped_quantile_sketch(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_extendedprice"
        ),
        "l_returnflag",
        "l_extendedprice",
    )


def grouped_quantile_sketch(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """The per-group sketch behind quantile_sketch_grouped, over any
    (group, value) frame (extracted, like quantile_sketch, so the per-group
    degenerate-domain property can be driven with a constant group next to
    a live one)."""
    B = _QSK_B
    bounds = df.groupBy(group_col).agg(
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(B))
    idx = F.when(
        F.col("hi") > F.col("lo"),
        F.least(
            F.lit(B - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col(value_col) - F.col("lo")) / width).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    hist = (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(group_col, idx.alias("idx"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
        )
    )
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(group_col)
    cur = (
        hist.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(w_all))
        .withColumn(
            "est",
            F.when(
                F.col("hi") > F.col("lo"),
                F.col("lo") + (F.col("idx") + 1) * width,
            ),
        )
    )

    def _pick(p: float):
        target = F.ceil(F.lit(p) * F.col("n"))
        return F.min(F.when(F.col("cum") >= target, F.struct("est", "cum")))

    sel = cur.groupBy(group_col).agg(
        F.max("n").alias("n_total"),
        _pick(0.5).alias("q50"),
        _pick(0.9).alias("q90"),
        _pick(0.99).alias("q99"),
    )
    return sel.select(
        group_col,
        F.col("n_total").cast("long").alias("n_total"),
        F.col("q50.est").alias("est_p50"),
        F.col("q50.cum").cast("long").alias("n_le_p50"),
        F.col("q90.est").alias("est_p90"),
        F.col("q90.cum").cast("long").alias("n_le_p90"),
        F.col("q99.est").alias("est_p99"),
        F.col("q99.cum").cast("long").alias("n_le_p99"),
    )


# --------------------------------------------------------------------------
# Two-pass refined quantile sketch (iterative histogram narrowing)
# -- pass-1 bucket rule is the shared _QSK_IDX defined beside _QSK_B above
# --------------------------------------------------------------------------


@register(
    "quantile_sketch_refined",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        FROM lineitem
    ),
    b1 AS (SELECT {_QSK_IDX} AS idx FROM lineitem, bounds),
    h1 AS (SELECT idx, COUNT(*) AS cnt FROM b1 GROUP BY idx),
    c1 AS (
        SELECT idx, cnt, SUM(cnt) OVER (ORDER BY idx) AS cum,
               SUM(cnt) OVER () AS n
        FROM h1
    ),
    targets(tag, p) AS (
        SELECT * FROM (VALUES ('p50', 0.5), ('p90', 0.9), ('p99', 0.99))
    ),
    sel AS (
        SELECT t.tag, t.p,
               MIN(c1.idx) FILTER (WHERE c1.cum >= CEIL(t.p * c1.n)) AS bidx,
               MAX(c1.n) AS n
        FROM c1, targets t GROUP BY t.tag, t.p
    ),
    selx AS (
        SELECT s.tag, s.p, s.bidx, s.n, c1.cum - c1.cnt AS cum_before
        FROM sel s JOIN c1 ON c1.idx = s.bidx
    ),
    p2 AS (
        SELECT s.tag, s.p, s.bidx, s.cum_before, s.n, b.lo, b.hi,
               CASE WHEN b.hi > b.lo THEN LEAST({_QSK_B - 1}, GREATEST(0,
                   CAST(FLOOR((l.l_extendedprice
                        - (b.lo + s.bidx * ((b.hi - b.lo) / {_QSK_B}.0)))
                       / (((b.hi - b.lo) / {_QSK_B}.0) / {_QSK_B}.0))
                       AS INT))) ELSE 0 END AS idx2
        FROM lineitem l, bounds b, selx s
        WHERE (CASE WHEN b.hi > b.lo THEN LEAST({_QSK_B - 1}, GREATEST(0,
                   CAST(FLOOR((l.l_extendedprice - b.lo)
                        / ((b.hi - b.lo) / {_QSK_B}.0)) AS INT)))
               ELSE 0 END) = s.bidx
    ),
    h2 AS (
        SELECT tag, idx2, COUNT(*) AS c2,
               MAX(p) AS p, MAX(bidx) AS bidx, MAX(cum_before) AS cum_before,
               MAX(n) AS n, MAX(lo) AS lo, MAX(hi) AS hi
        FROM p2 GROUP BY tag, idx2
    ),
    c2 AS (
        SELECT h2.*, SUM(c2) OVER (PARTITION BY tag ORDER BY idx2) AS cum2
        FROM h2
    ),
    fin AS (
        SELECT tag,
               MAX(n) AS n,
               MAX(CASE WHEN hi > lo
                   THEN lo + (bidx + 1) * ((hi - lo) / {_QSK_B}.0) END)
                   AS est_coarse,
               MIN(CASE WHEN cum2 >= CEIL(p * n) - cum_before AND hi > lo
                   THEN lo + bidx * ((hi - lo) / {_QSK_B}.0)
                        + (idx2 + 1) * (((hi - lo) / {_QSK_B}.0) / {_QSK_B}.0)
                   END) AS est_refined,
               MIN(CASE WHEN cum2 >= CEIL(p * n) - cum_before
                   THEN cum_before + cum2 END) AS n_le,
               MAX(CASE WHEN hi > lo
                   THEN ((hi - lo) / {_QSK_B}.0) / {_QSK_B}.0 END)
                   AS bound_width
        FROM c2 GROUP BY tag
    )
    SELECT tag AS quantile, CAST(n AS BIGINT) AS n_total,
           est_coarse, est_refined, CAST(n_le AS BIGINT) AS n_le, bound_width
    FROM fin
    """,
)
def quantile_sketch_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass refined quantiles -- the iterative-narrowing refinement of
    quantile_sketch_merge (VERDICT r07 #6's second option, the t-digest-
    style accuracy upgrade): pass 1 builds the fixed-domain B=128 histogram
    and locates, for each target p, the bucket holding the p-th value;
    pass 2 re-histograms ONLY that bucket's rows over the bucket's own
    [start, end) domain with another 128 cells, tightening the estimate's
    guarantee from (hi-lo)/128 to (hi-lo)/128^2 -- two scans buy 128x
    accuracy with the same fixed sketch memory, the classic multi-round
    refinement a production quantile service runs when one-pass error is
    too wide.

    Everything stays deterministic IEEE arithmetic (same lo/hi, same
    bucket edges, computed identically in both engines), so the oracle
    hash-checks coarse AND refined estimates, the within-bucket cumulative
    counts, and the refined bound width exactly -- no tolerance. Output is
    one row per quantile (p50/p90/p99): n_total, est_coarse (pass-1 upper
    edge), est_refined (pass-2 upper edge), n_le (exact count at or below
    the refined estimate), bound_width.

    Plan shape: pass 1 is the quantile_sketch aggregate (map-side partial
    agg to <=B cells, bounded metadata read-off); its ONE-ROW result melts
    into a 3-row (tag, p, bucket, cum_before) params frame that broadcasts
    back into the second scan (the allowlisted 1-row/bounded
    BroadcastNestedLoopJoin idiom, twice). Pass 2 filters each row against
    its tag's bucket BEFORE shuffling -- only the three target buckets'
    rows (~3/128 of the data) reach the second aggregate, which again
    collapses to <=3*B cells. Degenerate constant column (hi == lo)
    degrades like the base sketch: every row routes to bucket 0, counts
    stay exact, all estimates and the bound come back NULL (guarded CASE
    on both engines)."""
    return quantile_refine(load_table(spark, sf_dir, "lineitem"), "l_extendedprice")


def quantile_refine(df: DataFrame, value_col: str) -> DataFrame:
    """The two-pass construction behind quantile_sketch_refined, over any
    DataFrame/column (extracted like quantile_sketch so degenerate-input
    property tests can drive it directly)."""
    from pyspark.sql import Window

    B = _QSK_B
    li = df.select(F.col(value_col).alias("x"))
    bounds = li.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    w = (F.col("hi") - F.col("lo")) / F.lit(float(B))

    def idx_of(col):
        return F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.lit(B - 1),
                F.greatest(F.lit(0), F.floor((col - F.col("lo")) / w).cast("int")),
            ),
        ).otherwise(F.lit(0))

    tagged = li.crossJoin(F.broadcast(bounds)).select(
        "x", idx_of(F.col("x")).alias("idx"), "lo", "hi"
    )
    h1 = tagged.groupBy("idx").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
    )
    w_cum = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("idx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c1 = h1.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )

    def pick(p: float):
        target = F.ceil(F.lit(p) * F.col("n"))
        return F.min(
            F.when(F.col("cum") >= target, F.struct("idx", "cum", "cnt"))
        )

    p1 = c1.agg(
        F.max("n").alias("n"),
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
        pick(0.5).alias("s50"),
        pick(0.9).alias("s90"),
        pick(0.99).alias("s99"),
    )
    params = p1.select(
        "n",
        "lo",
        "hi",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(tag).alias("tag"),
                        F.lit(p).alias("p"),
                        F.col(s + ".idx").alias("bidx"),
                        (F.col(s + ".cum") - F.col(s + ".cnt")).alias("cum_before"),
                    )
                    for tag, p, s in (
                        ("p50", 0.5, "s50"),
                        ("p90", 0.9, "s90"),
                        ("p99", 0.99, "s99"),
                    )
                ]
            )
        ).alias("t"),
    ).select("n", "lo", "hi", "t.tag", "t.p", "t.bidx", "t.cum_before")

    bstart = F.col("lo") + F.col("bidx") * w
    w2 = w / F.lit(float(B))
    idx2 = F.when(
        F.col("hi") > F.col("lo"),
        F.least(
            F.lit(B - 1),
            F.greatest(
                F.lit(0), F.floor((F.col("x") - bstart) / w2).cast("int")
            ),
        ),
    ).otherwise(F.lit(0))
    pass2 = (
        li.crossJoin(F.broadcast(params))
        .where(idx_of(F.col("x")) == F.col("bidx"))
        .select("tag", "p", "bidx", "cum_before", "n", "lo", "hi", idx2.alias("idx2"))
    )
    h2 = pass2.groupBy("tag", "idx2").agg(
        F.count(F.lit(1)).alias("c2"),
        F.first("p").alias("p"),
        F.first("bidx").alias("bidx"),
        F.first("cum_before").alias("cum_before"),
        F.first("n").alias("n"),
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
    )
    w_tag = (
        Window.partitionBy("tag").orderBy("idx2").rowsBetween(Window.unboundedPreceding, 0)
    )
    c2 = h2.withColumn("cum2", F.sum("c2").over(w_tag))
    hit = F.col("cum2") >= F.ceil(F.col("p") * F.col("n")) - F.col("cum_before")
    nondeg = F.col("hi") > F.col("lo")
    est_refined = bstart + (F.col("idx2") + 1) * w2
    fin = c2.groupBy("tag").agg(
        F.max("n").alias("n"),
        F.max(F.when(nondeg, F.col("lo") + (F.col("bidx") + 1) * w)).alias(
            "est_coarse"
        ),
        F.min(F.when(hit & nondeg, est_refined)).alias("est_refined"),
        F.min(F.when(hit, F.col("cum_before") + F.col("cum2"))).alias("n_le"),
        F.max(F.when(nondeg, w2)).alias("bound_width"),
    )
    return fin.select(
        F.col("tag").alias("quantile"),
        F.col("n").cast("long").alias("n_total"),
        "est_coarse",
        "est_refined",
        F.col("n_le").cast("long").alias("n_le"),
        "bound_width",
    )


@register(
    "hll_shard_merge",
    oracle="""
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(DISTINCT user_id % 16) AS BIGINT) AS n_shards,
           TRUE AS merge_equals_global,
           TRUE AS within_tol
    FROM events
    """,
)
def hll_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability contract for Datasketches HLL (hll_sketch_agg /
    hll_union_agg): per-shard sketches built independently (16 shards by
    user_id % 16 -- in production, one sketch per partition/day/source
    file) and union-merged MUST estimate exactly what one global sketch
    over all rows estimates, because HLL registers are maxima of the same
    per-value hashes and sharding merely partitions the value set. That
    identity is THE property that lets 1000 executors sketch 100 TB
    locally and combine k fixed-size buffers at the driver instead of
    shuffling distinct keys; this query hashes it as a boolean beside the
    approx_count_distinct-style accuracy contract (estimate within 5% of
    exact -- lgConfigK=12 gives ~1.6% rsd, so 3x slack).

    Same distinct-rewrite trap as approx_count_distinct: the input is
    deduped FIRST (HLL over a set equals HLL over the multiset, and
    count(*) of the deduped rows is the exact side), so sketch buffers
    exist once per shard, never once per (shard, user). The final 1-row x
    1-row combine is an allowlisted broadcast nested loop."""
    ev = load_table(spark, sf_dir, "events")
    dist = ev.select("user_id").distinct()
    global_1 = dist.agg(
        F.count(F.lit(1)).alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_global"),
    )
    merged_1 = (
        dist.groupBy((F.col("user_id") % 16).alias("shard"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(
            F.count(F.lit(1)).alias("n_shards"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"),
        )
    )
    return global_1.crossJoin(F.broadcast(merged_1)).select(
        "exact_users",
        "n_shards",
        (F.col("est_merged") == F.col("est_global")).alias("merge_equals_global"),
        (
            F.abs(
                F.col("est_merged").cast("double")
                / F.col("exact_users").cast("double")
                - 1.0
            )
            <= 0.05
        ).alias("within_tol"),
    )


# --- KMV (bottom-k) distinct sketch -----------------------------------------
# k-minimum-values sketch (Bar-Yossef et al. 2002) with the unbiased
# (k-1)/u_(k) estimator (Beyer et al. 2007). Hash = first 13 hex chars of
# md5 (52 bits, exact in a double); the estimator constant 63 * 2^52 =
# 283726776524341248 is exactly representable, so est is ONE double
# division on identical operands -- bit-parity without a float contract.
_KMV_K = 64
_KMV_NUM = 63 * (2**52)  # (k-1) * 2^52, exact

_KMV_ORACLE = f"""
    WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    hashed AS (
        SELECT event_type, user_id,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                    AS BIGINT) AS h
        FROM du
    ),
    bk AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY h, user_id) AS rn
        FROM hashed
    ),
    exact AS (
        SELECT event_type, COUNT(*) AS n FROM hashed GROUP BY event_type
    ),
    per_type AS (
        SELECT b.event_type,
               MAX(CASE WHEN b.rn = {_KMV_K} THEN b.h END) AS hk,
               COUNT(*) AS stored
        FROM bk b WHERE b.rn <= {_KMV_K}
        GROUP BY b.event_type
    ),
    per_type_est AS (
        SELECT e.event_type AS scope, e.n AS exact_distinct,
               CASE WHEN e.n <= {_KMV_K} THEN CAST(e.n AS DOUBLE)
                    ELSE CAST({_KMV_NUM} AS DOUBLE) / CAST(p.hk AS DOUBLE)
               END AS kmv_est
        FROM exact e JOIN per_type p ON p.event_type = e.event_type
    ),
    merged_hashes AS (
        SELECT DISTINCT h FROM bk WHERE rn <= {_KMV_K}
    ),
    merged_bk AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM merged_hashes
    ),
    merged_est AS (
        SELECT CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE CAST({_KMV_NUM} AS DOUBLE)
                         / CAST(MAX(CASE WHEN rn = {_KMV_K} THEN h END)
                                AS DOUBLE)
               END AS est
        FROM merged_bk WHERE rn <= {_KMV_K}
    ),
    global_hashes AS (SELECT DISTINCT h FROM hashed),
    global_bk AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM global_hashes
    ),
    global_est AS (
        -- Branch on the SKETCH's stored count with the same `<` comparator
        -- as merged_est and the engine's _bottomk_est: at exactly k stored
        -- hashes all three take the estimator branch, so the
        -- merge==global identity and Spark/oracle parity hold even when
        -- the true global distinct count lands exactly on k.
        SELECT (SELECT COUNT(*) FROM global_hashes) AS exact_g,
               CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE CAST({_KMV_NUM} AS DOUBLE)
                         / CAST(MAX(CASE WHEN rn = {_KMV_K} THEN h END)
                                AS DOUBLE)
               END AS est
        FROM global_bk WHERE rn <= {_KMV_K}
    )
    SELECT scope, exact_distinct, kmv_est,
           abs(kmv_est / CAST(exact_distinct AS DOUBLE) - 1.0) <= 0.30
               AS within_tol,
           CAST(NULL AS BOOLEAN) AS merge_equals_global
    FROM per_type_est
    UNION ALL
    SELECT 'ALL' AS scope, g.exact_g AS exact_distinct, g.est AS kmv_est,
           abs(g.est / CAST(g.exact_g AS DOUBLE) - 1.0) <= 0.30 AS within_tol,
           m.est = g.est AS merge_equals_global
    FROM global_est g CROSS JOIN merged_est m
"""


@register("kmv_distinct_union", oracle=_KMV_ORACLE)
def kmv_distinct_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct sketch with the mergeability identity the
    HLL entry pins for Datasketches, here for a sketch built from scratch:
    per-event-type bottom-64 sets of md5-hashed user ids, the unbiased
    (k-1)/u_(k) estimate per type, and the union sketch (bottom-k of the
    union of the per-type bottom-k sets) estimating global distincts.
    bottomk(union of bottomk) == bottomk(union) is EXACT -- the row 'ALL'
    carries that boolean beside a 30% accuracy band (k=64 -> rsd ~12.7%).

    Why this exists next to HLL/approx_count_distinct: KMV is the sketch
    you reach for when you also need set EXPRESSIONS (union here;
    intersection/Jaccard ride the same k-set via the standard estimator)
    and exact-identity merges with tiny fixed state -- 64 BIGINTs per
    group vs 2^12 registers -- the shape a 1000-executor pre-aggregation
    ships to the driver.

    Scale shape: the raw-events -> distinct (type, user) hash aggregate is
    the only full-data pass; the per-type bottom-k window then sorts
    DISTINCT keys only (per-type partitions, not the event stream), and
    every later stage is O(k * n_types). Determinism: integer hashes,
    total (h, user_id) order, and a single double division against the
    exactly-representable constant 63 * 2^52 -- see the oracle preamble.
    """
    from pyspark.sql import Window

    k = _KMV_K
    du = load_table(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    hashed = du.select(
        "event_type",
        "user_id",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # Two-phase bottom-k: a salted prune keeps every window sort bounded
    # (selection is partitioning-invariant -- the per-salt bottom-k sets
    # are a superset of the true bottom-k, so the final result is
    # bit-identical and the oracle skips the salt entirely). Without it
    # the per-type / global windows sort ALL distinct users in one task.
    salt = (F.col("h") % 64).alias("salt")
    w_ts = Window.partitionBy("event_type", "salt").orderBy("h", "user_id")
    pruned_t = (
        hashed.select("event_type", "user_id", "h", salt)
        .withColumn("prn", F.row_number().over(w_ts))
        .where(F.col("prn") <= k)
    )
    w_t = Window.partitionBy("event_type").orderBy("h", "user_id")
    bk = (
        pruned_t.withColumn("rn", F.row_number().over(w_t))
        .where(F.col("rn") <= k)
        .select("event_type", "user_id", "h", "rn")
    )
    exact = hashed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    per_type = bk.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"),
        F.count(F.lit(1)).alias("stored"),
    )
    num = F.lit(float(_KMV_NUM))
    per_type_est = exact.join(per_type, "event_type").select(
        F.col("event_type").alias("scope"),
        F.col("n").alias("exact_distinct"),
        F.when(F.col("n") <= k, F.col("n").cast("double"))
        .otherwise(num / F.col("hk").cast("double"))
        .alias("kmv_est"),
    )

    def _bottomk_est(hset: DataFrame) -> DataFrame:
        """(est DOUBLE) from a distinct-hash frame via salted two-phase
        bottom-k (the global sort only ever sees <= 64 * k survivors).
        Comparator contract: branches on the sketch's STORED count with
        `<` -- a sketch holding exactly k values takes the estimator
        branch, matching the oracle's merged_est AND global_est CTEs."""
        w_s = Window.partitionBy("salt").orderBy("h")
        pruned = (
            hset.withColumn("salt", F.col("h") % 64)
            .withColumn("prn", F.row_number().over(w_s))
            .where(F.col("prn") <= k)
        )
        w = Window.orderBy("h")
        ranked = pruned.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= k
        )
        return ranked.agg(
            F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double"))
            .otherwise(
                num / F.max(F.when(F.col("rn") == k, F.col("h"))).cast("double")
            )
            .alias("est")
        )

    merged = _bottomk_est(bk.select("h").distinct())
    global_hashes = hashed.select("h").distinct()
    exact_g = global_hashes.agg(F.count(F.lit(1)).alias("exact_g"))
    global_ = _bottomk_est(global_hashes)

    tol = (
        F.abs(F.col("kmv_est") / F.col("exact_distinct").cast("double") - 1.0)
        <= 0.30
    )
    rows_t = per_type_est.select(
        "scope",
        "exact_distinct",
        "kmv_est",
        tol.alias("within_tol"),
        F.lit(None).cast("boolean").alias("merge_equals_global"),
    )
    row_all = (
        exact_g.crossJoin(F.broadcast(global_.withColumnRenamed("est", "g_est")))
        .crossJoin(F.broadcast(merged.withColumnRenamed("est", "m_est")))
        .select(
            F.lit("ALL").alias("scope"),
            F.col("exact_g").alias("exact_distinct"),
            F.col("g_est").alias("kmv_est"),
            (
                F.abs(
                    F.col("g_est") / F.col("exact_g").cast("double") - 1.0
                )
                <= 0.30
            ).alias("within_tol"),
            (F.col("m_est") == F.col("g_est")).alias("merge_equals_global"),
        )
    )
    return rows_t.unionAll(row_all)


# --- KMV Jaccard between sources ---------------------------------------------
# The set-EXPRESSION half of the KMV story (kmv_distinct_union pins the
# cardinality half): for every source pair, estimate shingle-set Jaccard
# from two bottom-k sketches alone -- the standard estimator (Beyer et al.
# 2007): take the k smallest hashes of the UNION of the two sketches and
# count how many live in BOTH; J_est = that count / min(k, |merged|).
_KMVJ_K = 64


@register(
    "kmv_jaccard_sources",
    oracle=f"""
    WITH tokd AS (
        SELECT DISTINCT source, UNNEST(list_distinct(
            [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
        )) AS shingle
        FROM (SELECT source,
                     list_filter(regexp_split_to_array(text, '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    ),
    hashed AS (
        SELECT source, shingle,
               CAST(('0x' || substr(md5(shingle), 1, 13)) AS BIGINT) AS h
        FROM tokd
    ),
    bk AS (
        SELECT source, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY h, shingle) AS rn
            FROM hashed
        ) WHERE rn <= {_KMVJ_K}
    ),
    srcs AS (SELECT DISTINCT source FROM tokd),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    merged AS (
        SELECT p.src_a, p.src_b, x.h,
               MAX(CASE WHEN x.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN x.source = p.src_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p
        JOIN bk x ON x.source IN (p.src_a, p.src_b)
        GROUP BY p.src_a, p.src_b, x.h
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY src_a, src_b
                                     ORDER BY h) AS rn
        FROM merged
    ),
    est AS (
        SELECT src_a, src_b,
               SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                   AS n_both,
               COUNT(*) AS n_merged
        FROM ranked WHERE rn <= {_KMVJ_K}
        GROUP BY src_a, src_b
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM tokd GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
        FROM tokd a JOIN tokd b
          ON b.shingle = a.shingle AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT e.src_a, e.src_b,
           CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS exact_inter,
           CAST(sa.n + sb.n - COALESCE(i.n_inter, 0) AS BIGINT) AS exact_union,
           CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
               / CAST(sa.n + sb.n - COALESCE(i.n_inter, 0) AS DOUBLE)
               AS jaccard_exact,
           CAST(e.n_both AS DOUBLE)
               / CAST(LEAST({_KMVJ_K}, e.n_merged) AS DOUBLE) AS jaccard_kmv,
           abs(CAST(e.n_both AS DOUBLE)
               / CAST(LEAST({_KMVJ_K}, e.n_merged) AS DOUBLE)
               - CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                 / CAST(sa.n + sb.n - COALESCE(i.n_inter, 0) AS DOUBLE))
               <= CAST('0.25' AS DOUBLE) AS within_tol
    FROM est e
    LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
    JOIN sizes sa ON sa.source = e.src_a
    JOIN sizes sb ON sb.source = e.src_b
    """,
)
def kmv_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap estimation from fixed-size sketches: for
    every pair of sources, the KMV-Jaccard estimate of their distinct
    3-gram-shingle sets (bottom-64 sketches only -- what a 1000-executor
    pre-pass would actually ship per source) next to the exact Jaccard
    and a tolerance boolean. The sketch-grain version of
    source_overlap_matrix: overlap from O(k) state per source instead of
    a shingle-grain join, the shape that stays cheap when sources are
    thousands of crawl snapshots.

    Determinism: integer hashes (md5 52-bit prefix), total (h, shingle)
    order, integer both/merged counts; each output double is ONE division
    of exact integers, and the tolerance compare subtracts two such
    identically-computed doubles.

    Scale shape: the full-data pass is one distinct (source, shingle)
    aggregate; per-source bottom-k sorts DISTINCT shingles per source
    partition (the kmv_distinct_union salt trick applies verbatim when a
    single source's vocabulary is huge -- here the per-source window is
    already bounded); everything pair-grain operates on <= 2k rows per
    pair. The EXACT columns (a shingle-grain self-join) are the audit
    side and the quadratic-in-|pairs| part -- a production run at 1000s
    of sources drops them and keeps the sketch side, which is why they
    are computed in a separate, clearly-droppable branch."""
    from pyspark.sql import Window

    from sqldataintegrationfunctiontriggerapp_spark.plans.dedup import (
        _shingles_stage,
    )

    k = _KMVJ_K
    # Source-grain distinct shingles, derived from the SESSION-SHARED
    # doc-grain shingle stage (free when any dedup-family query already
    # ran) and materialized once: five consumers hang off tokd (sketch,
    # sizes, both exact-audit legs, the source list), and without the
    # checkpoint each re-paid the full explode+distinct -- measured
    # 85.5 s/scan at sf10, ~5 scans = the whole 285 s sf10 cost.
    src_of = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    tokd = truthful_ckpt(
        _shingles_stage(spark, sf_dir)
        .join(src_of, "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    hashed = tokd.select(
        "source",
        "shingle",
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 13), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # Salted two-phase bottom-k (kmv_distinct_union's trick, selection-
    # invariant): at sf10 each source holds ~120k distinct shingles, so
    # the direct per-source window sorts 120k rows per partition; the
    # salt phase caps every sort at k rows per (source, salt).
    w_ss = Window.partitionBy("source", "salt").orderBy("h", "shingle")
    pruned = (
        hashed.withColumn("salt", F.col("h") % 64)
        .withColumn("prn", F.row_number().over(w_ss))
        .where(F.col("prn") <= k)
    )
    w_s = Window.partitionBy("source").orderBy("h", "shingle")
    bk = (
        pruned.withColumn("rn", F.row_number().over(w_s))
        .where(F.col("rn") <= k)
        .select("source", "h")
        .localCheckpoint()  # <= k rows per source; reused by both pair legs
    )
    srcs = tokd.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
    )
    # Two equi-join legs instead of one OR-condition join: the OR form
    # plans as a nested-loop over every (pair, sketch-row) combination;
    # the union of equi-joins shuffles on source and scales to thousands
    # of sources. (Same rows, so the oracle's IN-join mirrors either.)
    leg_a = pairs.join(bk, bk["source"] == pairs["src_a"])
    leg_b = pairs.join(bk, bk["source"] == pairs["src_b"])
    merged = (
        leg_a.unionByName(leg_b)
        .groupBy("src_a", "src_b", "h")
        .agg(
            F.max(
                F.when(F.col("source") == F.col("src_a"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("source") == F.col("src_b"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    w_p = Window.partitionBy("src_a", "src_b").orderBy("h")
    est = (
        merged.withColumn("rn", F.row_number().over(w_p))
        .where(F.col("rn") <= k)
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1)
                .otherwise(0)
            ).alias("n_both"),
            F.count(F.lit(1)).alias("n_merged"),
        )
    )
    sizes = tokd.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # Exact intersections from one shingle-grain aggregate instead of the
    # tokd-x-tokd self-join; sources are a handful of crawl snapshots, so
    # the per-shingle pair expansion stays small.
    inter = shared_pair_counts(
        tokd, "shingle", "source", "src_a", "src_b", "n_inter"
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0))
    uni = F.col("sa.n") + F.col("sb.n") - ni
    j_exact = ni.cast("double") / uni.cast("double")
    j_kmv = F.col("n_both").cast("double") / F.least(
        F.lit(k), F.col("n_merged")
    ).cast("double")
    return (
        est.join(inter, ["src_a", "src_b"], "left")
        .join(sizes.alias("sa"), F.col("src_a") == F.col("sa.source"))
        .join(sizes.alias("sb"), F.col("src_b") == F.col("sb.source"))
        .select(
            "src_a",
            "src_b",
            ni.cast("long").alias("exact_inter"),
            uni.cast("long").alias("exact_union"),
            j_exact.alias("jaccard_exact"),
            j_kmv.alias("jaccard_kmv"),
            (F.abs(j_kmv - j_exact) <= F.lit(0.25)).alias("within_tol"),
        )
    )
