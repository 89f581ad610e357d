"""Data-layout queries: multi-dimensional clustering for file skipping.

At 100 TB the cheapest predicate is the one that never reads a file:
parquet footers carry per-file min/max column stats, and a writer that
clusters rows so those ranges are TIGHT in every filtered dimension lets a
box query (date range x key range) prune most of the corpus at planning
time. Sorting by one column makes that column's ranges tight and every
other column's ranges full-width; Z-ORDER (bit-interleaving the quantized
dimensions, the Delta/Iceberg OPTIMIZE ZORDER technique) trades a little
tightness in each dimension for tight ranges in ALL of them.

`zorder_layout` quantifies exactly that trade on lineitem: it simulates a
256-file layout under (a) z-order on (ship-day, partkey) and (b) a plain
date sort, reports each simulated file's min/max envelope in both
dimensions, and marks which files a reference box query could skip. The
whole computation is integer arithmetic (quantize via integer division,
interleave via shift/and/or), so the DuckDB oracle is bit-exact by
construction. The write-side recipe this models is one line:
``df.repartitionByRange(n, zcol).sortWithinPartitions(zcol).write...``.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.plans.registry import register

_ZBITS = 8  # 8 bits per dimension -> 16-bit z-value, 256 top-level buckets


def z_interleave_col(x: Column, y: Column, nbits: int = _ZBITS) -> Column:
    """Bit-interleave two already-quantized non-negative columns: bit i of
    ``x`` lands at position 2i, bit i of ``y`` at 2i+1. Pure shift/and
    arithmetic -- whole-stage codegen, no UDF."""
    terms = []
    for i in range(nbits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(add, terms)


def z_interleave_sql(xe: str, ye: str, nbits: int = _ZBITS) -> str:
    """The DuckDB mirror of z_interleave_col -- same bit rule, operator
    syntax. Both are pinned against a Python reference in tests."""
    terms = []
    for i in range(nbits):
        terms.append(f"(((({xe}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({ye}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


# Quantize x in [lo, hi] onto the 8-bit grid with pure integer division --
# identical rule interpolated into both engines (Spark DIV / DuckDB //).
_Q8_SPARK = (
    "CASE WHEN {hi} > {lo} THEN (({x} - {lo}) * 255) DIV ({hi} - {lo})"
    " ELSE CAST(0 AS BIGINT) END"
)
_Q8_DUCK = (
    "CASE WHEN {hi} > {lo} THEN (({x} - {lo}) * 255) // ({hi} - {lo})"
    " ELSE 0 END"
)

# The reference box query both layouts are judged against: the middle
# quarter of the date range x the lowest 1/16th of the partkey range --
# the "recent-ish window over a narrow key family" shape where a
# date-sorted layout prunes on the date predicate only and z-order prunes
# on both. All bounds derive from the same global min/max row, integer
# arithmetic end to end.
_BOX = {
    "box_d_lo": "day_lo + (day_hi - day_lo) {div} 2",
    "box_d_hi": "day_lo + ((day_hi - day_lo) * 3) {div} 4",
    "box_p_lo": "p_lo",
    "box_p_hi": "p_lo + (p_hi - p_lo) {div} 16",
}

_PRUNABLE = (
    "(max_day < {box_d_lo} OR min_day > {box_d_hi}"
    " OR max_part < {box_p_lo} OR min_part > {box_p_hi})"
)


def _box_exprs(div: str) -> dict[str, str]:
    return {k: "(" + v.format(div=div) + ")" for k, v in _BOX.items()}


@register(
    "zorder_layout",
    oracle=f"""
    WITH src AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                    AS BIGINT) AS day,
               l_partkey AS part
        FROM lineitem
    ),
    b AS (
        SELECT MIN(day) AS day_lo, MAX(day) AS day_hi,
               MIN(part) AS p_lo, MAX(part) AS p_hi
        FROM src
    ),
    q AS (
        SELECT day, part, day_lo, day_hi, p_lo, p_hi,
               {_Q8_DUCK.format(x='day', lo='day_lo', hi='day_hi')} AS day8,
               {_Q8_DUCK.format(x='part', lo='p_lo', hi='p_hi')} AS part8
        FROM src CROSS JOIN b
    ),
    z AS (
        SELECT *, {z_interleave_sql('day8', 'part8')} AS zval FROM q
    ),
    tagged AS (
        SELECT 'zorder' AS layout, zval // 256 AS bucket, * FROM z
        UNION ALL
        SELECT 'linear' AS layout, day8 AS bucket, * FROM z
    ),
    stats AS (
        SELECT layout, bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(day) AS min_day, MAX(day) AS max_day,
               MIN(part) AS min_part, MAX(part) AS max_part,
               MIN(day_lo) AS day_lo, MIN(day_hi) AS day_hi,
               MIN(p_lo) AS p_lo, MIN(p_hi) AS p_hi
        FROM tagged GROUP BY layout, bucket
    )
    SELECT layout, CAST(bucket AS INTEGER) AS bucket, n_rows,
           min_day, max_day, min_part, max_part,
           {_PRUNABLE.format(**_box_exprs('//'))} AS prunable
    FROM stats
    """,
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear layout audit (module docstring): simulate 256
    output files per layout, report each file's (day, partkey) min/max
    envelope and whether the reference box query can skip it.

    Plan shape: one lineitem scan projecting two columns; a 1-row global
    min/max aggregate broadcast back (the only BNLJ -- allowlisted, 1-row
    class); quantize + interleave + both bucket ids as pure codegen
    arithmetic; stack() fans each row to its two layout tags ON the scan
    (no second read); ONE hash aggregate on (layout, bucket) -- shuffle
    carries <=512 groups regardless of table size. The box bounds ride the
    aggregate as MIN() of per-row constants, so no second pass over the
    bounds. At 100 TB the expensive part is the scan itself; everything
    else is bounded metadata."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
        F.col("l_partkey").alias("part"),
    )
    bounds = li.agg(
        F.min("day").alias("day_lo"), F.max("day").alias("day_hi"),
        F.min("part").alias("p_lo"), F.max("part").alias("p_hi"),
    )
    q = li.crossJoin(F.broadcast(bounds)).selectExpr(
        "day", "part", "day_lo", "day_hi", "p_lo", "p_hi",
        _Q8_SPARK.format(x="day", lo="day_lo", hi="day_hi") + " AS day8",
        _Q8_SPARK.format(x="part", lo="p_lo", hi="p_hi") + " AS part8",
    )
    z = q.withColumn("zval", z_interleave_col(F.col("day8"), F.col("part8")))
    tagged = z.select(
        F.expr(
            "stack(2, 'zorder', zval DIV 256, 'linear', day8)"
            " AS (layout, bucket)"
        ),
        "day", "part", "day_lo", "day_hi", "p_lo", "p_hi",
    )
    stats = tagged.groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("day").alias("min_day"), F.max("day").alias("max_day"),
        F.min("part").alias("min_part"), F.max("part").alias("max_part"),
        F.min("day_lo").alias("day_lo"), F.min("day_hi").alias("day_hi"),
        F.min("p_lo").alias("p_lo"), F.min("p_hi").alias("p_hi"),
    )
    return stats.selectExpr(
        "layout", "CAST(bucket AS INT) AS bucket", "n_rows",
        "min_day", "max_day", "min_part", "max_part",
        _PRUNABLE.format(**_box_exprs("DIV")) + " AS prunable",
    )


# ---------------------------------------------------------------------------
# Hive-style partition pruning: the OTHER half of file skipping. Z-order
# skips via per-file column stats; directory partitioning skips at PLANNING
# time (static partition filters) or at RUNTIME from a join's build side
# (dynamic partition pruning). At 100 TB the date/source partition column is
# the first scan reducer every warehouse query leans on.
# ---------------------------------------------------------------------------

_PRUNE_LO, _PRUNE_HI = "1995-01", "1995-03"
_DPP_QTR = "1995-Q2"

_SQL_MONTH = "strftime(CAST(l_shipdate AS DATE), '%Y-%m')"


def _month_partitioned_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized hive-partitioned materialization of lineitem's
    revenue columns, partitioned by ship month (~84 directories over the
    TPC-H date range): the at-rest layout whose directory names ARE the
    predicate index. repartition(ship_month) first so each month is
    written by one task -- one file per partition, not one per (task,
    month) pair."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        StagedDir,
    )

    def build():
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        base = tempfile.mkdtemp(prefix=f"li_month_part_{tag}_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        path = os.path.join(base, "lineitem_by_month")
        li = load_table(spark, sf_dir, "lineitem").select(
            F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM")
            .alias("ship_month"),
            "l_extendedprice",
            "l_discount",
        )
        (
            li.repartition("ship_month")
            .write.partitionBy("ship_month")
            .parquet(path)
        )
        return StagedDir(path)

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        session_stage,
    )

    return session_stage(spark, sf_dir, "lineitem_month_partitioned", build)


@register(
    "partition_pruned_revenue",
    oracle=f"""
    SELECT {_SQL_MONTH} AS ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE {_SQL_MONTH} BETWEEN '{_PRUNE_LO}' AND '{_PRUNE_HI}'
    GROUP BY 1
    """,
)
def partition_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning end to end: lineitem is materialized ONCE
    per session as a hive-partitioned table (ship_month=YYYY-MM
    directories), and a three-month revenue query filters on the partition
    column -- so the predicate resolves at PLANNING time against directory
    names and the scan never opens a file outside the window
    (PartitionFilters in the scan node, pinned by
    tests/test_plan_shapes.py; at ~84 month partitions the query reads
    3/84ths of the files, and the fraction is independent of table size).
    The driver hash proves the write -> partitioned re-read -> pruned scan
    loses nothing vs the straight filtered aggregate over the raw parquet
    (the oracle) -- the round-trip correctness half of the pruning claim.

    Scale shape: the staged write is one shuffle keyed by month (each
    month written by one task -- file count = partition count, the
    compaction discipline); the query is scan -> partial/final hash agg
    on the partition column, shuffle bounded by months, never rows."""
    path = _month_partitioned_lineitem(spark, sf_dir)
    pr = spark.read.parquet(str(path))
    return (
        pr.where(F.col("ship_month").between(_PRUNE_LO, _PRUNE_HI))
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount"))
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("revenue"),
        )
    )


def _month_dim(spark: SparkSession) -> DataFrame:
    """Tiny calendar dimension (84 rows, 1992-1998): month -> quarter.
    Generated, not scanned -- fixed-size metadata, same class as the
    sketch/codebook literals."""
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit("1992-01-01").cast("date"),
                    F.lit("1998-12-01").cast("date"),
                    F.expr("interval 1 month"),
                )
            ).alias("d")
        )
        .select(
            F.date_format("d", "yyyy-MM").alias("ship_month"),
            F.concat(
                F.year("d").cast("string"),
                F.lit("-Q"),
                F.quarter("d").cast("string"),
            ).alias("qtr"),
        )
    )


@register(
    "dpp_quarter_revenue",
    oracle=f"""
    WITH dim AS (
        SELECT strftime(m, '%Y-%m') AS ship_month,
               CAST(year(m) AS VARCHAR) || '-Q'
                   || CAST(quarter(m) AS VARCHAR) AS qtr
        FROM (SELECT UNNEST(generate_series(DATE '1992-01-01',
                                            DATE '1998-12-01',
                                            INTERVAL 1 MONTH)) AS m)
    ),
    fact AS (
        SELECT {_SQL_MONTH} AS ship_month, l_extendedprice, l_discount
        FROM lineitem
    )
    SELECT f.ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM fact f JOIN dim d USING (ship_month)
    WHERE d.qtr = '{_DPP_QTR}'
    GROUP BY f.ship_month
    """,
)
def dpp_quarter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the quarter filter lives on a joined
    dimension (the calendar dim -- the star-schema shape where the fact
    table's partition column is an opaque key and selectivity arrives
    through the dim), so no static filter exists on the fact scan at all.
    Catalyst inserts a dynamicpruningexpression into the partitioned
    scan's PartitionFilters -- the broadcast build side executes first and
    its ship_month set prunes fact DIRECTORIES at runtime (pinned in
    tests/test_plan_shapes.py). Without DPP this plan reads all ~84
    months and throws away 81 after the join; with it, the scan opens 3.

    The dim is generated (84 rows, month -> quarter), never scanned, and
    broadcasts explicitly -- satisfying DPP's reuse-broadcast condition
    by construction. Oracle mirrors the dim generation and the join over
    raw parquet; the hash proves runtime pruning drops no rows."""
    path = _month_partitioned_lineitem(spark, sf_dir)
    pr = spark.read.parquet(str(path))
    dim = _month_dim(spark).where(F.col("qtr") == _DPP_QTR)
    return (
        pr.join(F.broadcast(dim), "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount"))
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("revenue"),
        )
    )


# --- small-file compaction planning ------------------------------------------
_COMPACT_TARGET = 65536      # target bin size, bytes
_COMPACT_ROW_BYTES = 96      # deterministic per-row size proxy


@register(
    "file_compaction_plan",
    oracle=f"""
    WITH inv AS (
        SELECT event_type,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
                   AS day,
               COUNT(*) * {_COMPACT_ROW_BYTES} AS bytes
        FROM events GROUP BY 1, 2
    ),
    binned AS (
        SELECT event_type, day, bytes,
               COALESCE(SUM(bytes) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // {_COMPACT_TARGET} AS bin
        FROM inv
    )
    SELECT event_type, CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           MIN(day) AS day_from, MAX(day) AS day_to
    FROM binned GROUP BY event_type, bin
    """,
)
def file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner over the classic streaming-ingest
    layout: one small file per (event_type, day) -- exactly what a
    per-trigger writeStream partitionBy(event_type, day) leaves behind.
    The inventory (row-count x a fixed per-row byte proxy) is assigned to
    target-sized compaction bins by SEQUENTIAL cumulative packing:
    bin = cumulative-bytes-before DIV target, per event_type in day order.

    Why sequential instead of first-fit-decreasing: coalescing ADJACENT
    days preserves each output file's (day_from, day_to) range, so
    time-range pruning keeps working after compaction -- the same reason
    Spark's own split coalescing (maxPartitionBytes / AQE coalesce) packs
    consecutive splits. FFD would pack tighter and destroy the ranges.
    The (day_from, day_to) columns ARE the pruning metadata of each
    planned output file.

    Scale shape: the raw scan collapses to inventory grain first (one
    hash aggregate, map-side combinable); the cumulative window runs per
    event_type over metadata-sized rows, never raw data. Everything
    after the first aggregate is integer arithmetic -- no float
    contract."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    inv = ev.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("timestamp").cast("double") / 86400)
        .cast("long")
        .alias("day"),
    ).agg((F.count(F.lit(1)) * _COMPACT_ROW_BYTES).alias("bytes"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = inv.withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    ).withColumn("bin", F.expr(f"cum_before div {_COMPACT_TARGET}"))
    return binned.groupBy(
        "event_type", F.col("bin").cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").cast("long").alias("bin_bytes"),
        F.min("day").alias("day_from"),
        F.max("day").alias("day_to"),
    )


# ---------------------------------------------------------------------------
# Compaction EXECUTED, not just planned (VERDICT r11 #3): stage the
# streaming-ingest small-file debris (one parquet file per (event_type,
# day)), rewrite it through the planner's bins, and register a query that
# proves -- against a raw-table oracle that never sees either directory --
# (a) per-row content identity across the rewrite and (b) that each
# compacted file's (day_from, day_to) pruning envelope is exactly what the
# plan promised.


def _compaction_dirs(spark: SparkSession, sf_dir: str):
    """(small_dir, compacted_dir) staged once per session: the
    per-(event_type, day) small-file layout and its executed compaction
    into one file per planned bin."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

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
        base = tempfile.mkdtemp(prefix=f"ev_compact_{tag}_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        small = os.path.join(base, "stage_small")
        day = (
            F.floor(F.col("ts").cast("timestamp").cast("double") / 86400)
            .cast("long")
            .alias("day")
        )
        ev = load_table(spark, sf_dir, "events").withColumn("day", day)
        # one writer task per (event_type, day) => exactly one file per
        # directory: the per-trigger writeStream debris layout. The
        # partition count is EXPLICIT (OPTIMIZATION r16): a bare
        # repartition(cols) lets AQE coalesce the exchange down to 2-3
        # tasks, which then open/close the ~360 tiny files SERIALLY
        # (measured 3.3 s of the stage build); pinning it at
        # defaultParallelism spreads the file creation across cores while
        # each (event_type, day) group still hashes to exactly one task --
        # one file per directory, unchanged.
        (
            ev.repartition(
                spark.sparkContext.defaultParallelism, "event_type", "day"
            )
            .write.partitionBy("event_type", "day")
            .parquet(small)
        )
        # the planner's bin assignment at inventory grain (identical
        # arithmetic to file_compaction_plan)
        inv = ev.groupBy("event_type", "day").agg(
            (F.count(F.lit(1)) * _COMPACT_ROW_BYTES).alias("bytes")
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        binmap = (
            inv.withColumn(
                "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
            )
            .withColumn(
                "bin",
                F.expr(f"cum_before div {_COMPACT_TARGET}").cast("long"),
            )
            .select("event_type", "day", "bin")
        )
        # r13: the table is a VERSIONED root with an atomic pointer swap
        # (sinks/table_sink.publish_layout) -- v1 = the small-file debris
        # layout, v2 = the compacted rewrite, published only after a
        # row-count validation, keep=2 so the pre-compaction layout stays
        # readable for the files_before audit. The registered query reads
        # the live layout THROUGH the pointer, so the audit re-proves the
        # content checksum against the swapped table, not the staging dir.
        root = os.path.join(base, "events_table")
        small = publish_layout(root, small, keep=2)
        compacted = os.path.join(base, "stage_compacted")
        small_df = spark.read.parquet(small).withColumn(
            "day", F.col("day").cast("long")
        )
        # broadcast the metadata-grain bin map onto the data, then ONE
        # writer task per bin: adjacent days coalesce into a single file
        # whose footer min/max over `day` IS the planned pruning envelope
        (
            small_df.join(F.broadcast(binmap), ["event_type", "day"])
            .repartition("event_type", "bin")
            .write.partitionBy("event_type", "bin")
            .parquet(compacted)
        )
        n_before = spark.read.parquet(small).count()

        def validate(staging: str) -> None:
            # abort-before-mutation integrity gate: a rewrite that dropped
            # or duplicated rows never becomes the live layout
            n_after = spark.read.parquet(staging).count()
            if n_after != n_before:
                raise ValueError(
                    f"compaction row-count drift: {n_before} -> {n_after}"
                )

        published = publish_layout(root, compacted, validate=validate, keep=2)
        if table_current(root) != published:
            raise RuntimeError(f"{root}: current layout is not {published}")
        return StagedDir(small), StagedDir(published)

    return session_stage(spark, sf_dir, "events_compaction_exec", build)


_COMPACT_SQL_EPOCH = "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)"
_COMPACT_SQL_DAY = (
    "CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)"
)


@register(
    "file_compaction_apply",
    oracle=f"""
    WITH inv AS (
        SELECT event_type, {_COMPACT_SQL_DAY} AS day,
               COUNT(*) * {_COMPACT_ROW_BYTES} AS bytes
        FROM events GROUP BY 1, 2
    ),
    binned AS (
        SELECT event_type, day,
               COALESCE(SUM(bytes) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // {_COMPACT_TARGET} AS bin
        FROM inv
    ),
    ev AS (
        SELECT event_type, {_COMPACT_SQL_DAY} AS day,
               CAST(('0x' || substr(md5(concat_ws('|',
                        CAST(event_id AS VARCHAR),
                        CAST(user_id AS VARCHAR),
                        event_type,
                        CAST({_COMPACT_SQL_EPOCH} AS VARCHAR),
                        CAST(CAST(floor(value * 1000000) AS BIGINT)
                             AS VARCHAR),
                        props)), 1, 8)) AS BIGINT) AS chk
        FROM events
    )
    SELECT b.event_type, CAST(b.bin AS BIGINT) AS bin,
           CAST(COUNT(DISTINCT b.day) AS BIGINT) AS files_before,
           CAST(1 AS BIGINT) AS files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(e.chk) AS BIGINT) AS row_checksum,
           MIN(b.day) AS day_from, MAX(b.day) AS day_to
    FROM ev e JOIN binned b USING (event_type, day)
    GROUP BY 1, 2
    """,
)
def file_compaction_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip proof that the compaction plan EXECUTES correctly: the
    staged small-file layout (one parquet file per (event_type, day)) is
    rewritten into one file per planned bin, and every output column here
    is computed FROM THE COMPACTED FILES -- row counts, an
    order-independent md5-derived content checksum, per-file counts on
    both layouts via input_file_name(), and the actual (day_from, day_to)
    envelope recomputed from each row's timestamp (NOT the directory
    name). The oracle recomputes all of it from the raw events table, so
    a dropped/duplicated/mis-binned row, a fragmented write, or a pruning
    envelope wider than planned each breaks the hash.

    files_before comes from the REAL small layout (distinct
    input_file_name per bin) and files_after from the compacted one
    (expected: exactly 1 -- one writer task per bin); day_from/day_to
    from row content proves the parquet footer min/max over `day` equals
    the planner's promise, which is what keeps time-range pruning working
    after the rewrite (plan-pinned in tests/test_layout.py).

    Scale shape: the rewrite reads each small file once, one broadcast of
    a metadata-grain bin map, one shuffle by (event_type, bin) -- the
    OPTIMIZE/rewriteDataFiles shape; the audit is two single-scan
    aggregates."""
    small, compacted = _compaction_dirs(spark, sf_dir)
    epoch_s = F.floor(F.col("ts").cast("timestamp").cast("double")).cast("long")
    day = F.floor(
        F.col("ts").cast("timestamp").cast("double") / 86400
    ).cast("long")
    chk = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("event_id").cast("string"),
                        F.col("user_id").cast("string"),
                        F.col("event_type"),
                        epoch_s.cast("string"),
                        F.floor(F.col("value") * 1000000)
                        .cast("long")
                        .cast("string"),
                        F.col("props"),
                    )
                ),
                # 8 hex chars (32-bit per-row term), not the registry's
                # usual 13: the checksum is SUMMED per bin, and bin row
                # counts grow with SF on this day-grain fixture -- 52-bit
                # terms overflowed BIGINT at sf1 (caught by the ladder);
                # 32-bit terms stay exact to ~2e9 rows per bin
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("chk")
    )
    cdf = (
        spark.read.parquet(str(compacted))
        .withColumn("bin", F.col("bin").cast("long"))
        .select(
            "event_type", "bin", chk, day.alias("day"),
            F.input_file_name().alias("cfile"),
        )
    )
    after = cdf.groupBy("event_type", "bin").agg(
        F.countDistinct("cfile").alias("files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("chk").alias("row_checksum"),
        F.min("day").alias("day_from"),
        F.max("day").alias("day_to"),
    )
    sdf = spark.read.parquet(str(small)).select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        F.input_file_name().alias("sfile"),
    )
    # the small layout's real file count, mapped through the SAME planner
    # arithmetic the rewrite used (re-derived, so a drifted bin map would
    # surface as a join mismatch, not silently agree)
    from pyspark.sql import Window

    inv = sdf.groupBy("event_type", "day").agg(
        (F.count(F.lit(1)) * _COMPACT_ROW_BYTES).alias("bytes"),
        F.countDistinct("sfile").alias("n_small_files"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = (
        inv.withColumn(
            "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
        )
        .withColumn(
            "bin", F.expr(f"cum_before div {_COMPACT_TARGET}").cast("long")
        )
        .groupBy("event_type", "bin")
        .agg(F.sum("n_small_files").alias("files_before"))
    )
    return before.join(after, ["event_type", "bin"]).select(
        "event_type", "bin", "files_before", "files_after",
        "n_rows", "row_checksum", "day_from", "day_to",
    )
