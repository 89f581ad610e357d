"""Shared helpers for oracle-parity queries.

Summing doubles is order-dependent, and Spark and DuckDB do not traverse rows
in the same order, so a plain double SUM/AVG would drift in the last ulp and
fail the driver's value hash. The fix used throughout the registry:

1. compute the per-row expression in DOUBLE (IEEE ops are deterministic and
   identical in both engines),
2. cast the per-row value to DECIMAL(18,6) (half-up rounding in both engines,
   applied to the same binary double => identical),
3. SUM the decimals (exact, order-independent),
4. cast the aggregate back to DOUBLE (deterministic).

This costs one extra cast per row and keeps the aggregation entirely inside
whole-stage codegen; at 100 TB it changes nothing about the plan shape
(still a partial/final hash aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,6)"

# Session-scoped shared-stage memo (used by plans/dedup.py for the minhash/
# ngram families and plans/similarity.py for the IVF index): expensive
# builds materialized once per (application, sf_dir, stage) and reused by
# every family member in the suite.
_STAGE_CACHE: dict[tuple[str, str, str], object] = {}

# Stage ledger (VERDICT r11 #1): access order, executor-storage attribution,
# and the set of stages touched since the last between-queries tick. Stage
# residency was measured bending sf10 results (dedup_embedding_cosine
# 162.2 s in-subset vs 96.1 s solo) and OOMing the 8 g 20M-vector ANN run;
# the ledger bounds resident checkpoint blocks under _LEDGER_BUDGET_BYTES
# with LRU eviction at query boundaries (never mid-query: an in-use
# localCheckpoint is unrecomputable once its blocks drop).
_LEDGER_BUDGET_BYTES = 2048 * 1024 * 1024
_STAGE_SEQ = 0
_STAGE_META: dict[tuple[str, str, str], dict] = {}
_STAGE_ACTIVE: set[tuple[str, str, str]] = set()


class StagedDir(str):
    """A session_stage value that is a filesystem path owned by the stage:
    evicting it removes the directory (plus whatever atexit hook the
    builder registered for process-exit cleanup -- rmtree of a gone path is
    a no-op). Keeps staged directories bounded by LIVE memo entries, not by
    how many times a long-lived driver switched fixture dirs."""


# Spill-safe stage materialization (VERDICT r12 #1). Diagnosis from the 8 g
# sfb10 repro: the stage BUILD survives (the SQL columnar cache spills
# gracefully -- "Persisting block to disk instead"), and so does the first
# consumer; what OOMs is CONSUMING a disk-spilled localCheckpoint --
# MEMORY_AND_DISK(deserialized) blocks are Java-serialized on spill, and 32
# concurrent tasks each rehydrating a ~150 MB block through
# UnsafeRow.readExternal blow the heap (observed stack: JavaDeserialization
# Stream -> OutOfMemoryError at stage 67/68 of crossdoc_span_removal_auto).
# So stages whose MEASURED materialized size exceeds a heap-derived
# threshold are written to LOCAL PARQUET and read back instead: consumers
# stream-scan compressed columnar files with scan-buffer-bounded memory, no
# storage-pool interaction, honest file-size stats for free. Small stages
# keep the localCheckpoint fast path (zero plan change at sf <= 0.1).
_SPILL_ROOT: str | None = None


def _stage_spill_root() -> str:
    global _SPILL_ROOT
    if _SPILL_ROOT is None:
        import atexit
        import os
        import shutil
        import tempfile

        _SPILL_ROOT = tempfile.mkdtemp(
            prefix="spark_graft_stages_",
            dir=os.environ.get("SPARK_GRAFT_STAGE_SPILL_DIR"),
        )
        atexit.register(shutil.rmtree, _SPILL_ROOT, ignore_errors=True)
    return _SPILL_ROOT


def _heap_bytes(spark) -> int:
    """The driver JVM's max heap (1 GiB if it cannot be read)."""
    try:
        return int(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        )
    except Exception:
        return 1 << 30


def _spill_threshold_bytes(spark) -> float:
    """Cached-stage size above which truthful_ckpt lands on local parquet:
    heap/32 with a 256 MB floor. The constant is calibrated by the sf10
    minhash family at 8 g: a FAMILY holds 3-4 big stages at once
    (shingles, signatures, jacc0), the threshold compares COLUMNAR-CACHE
    bytes, and the checkpoint the memory branch builds is typically 2-4x
    larger -- at heap/8 every minhash stage individually stayed under the
    line, their AGGREGATE 3.4 GB of checkpoint residency starved execution
    memory, and run 4/4 of the 8 g ladder died with
    UNABLE_TO_ACQUIRE_MEMORY; heap/32 per stage bounds a 4-stage family
    near heap/8 of cache (~heap/3 checkpoint) if it all stayed resident,
    and in practice sends the big members to parquet. The floor keeps
    default-1g test/bench sessions (stage caches there are tens of MB)
    entirely on the fast path."""
    return max(256.0 * 1024 * 1024, _heap_bytes(spark) / 32.0)


def _family_admission_bytes(spark) -> float:
    """FAMILY-aggregate admission bound: max(heap/8, 512 MB).

    truthful_ckpt spills a stage when CURRENT resident storage (measured
    via getRDDStorageInfo) plus its cache bytes would cross it, so a
    6-stage family of individually small stages degrades to disk exactly
    like one big stage would (VERDICT r13 #4). The 512 MB floor keeps
    default-1g test/bench sessions untouched (the full sf0.1 sweep's
    largest per-query resident peak is ~200 MB); at 8 g the bound is 1 GB,
    the aggregate the r13 family calibration targets."""
    return max(512.0 * 1024 * 1024, _heap_bytes(spark) / 8.0)


def truthful_ckpt(df):
    """Materialize a stage so that (a) its size statistics are honest,
    (b) the materialization survives ``spark.catalog.clearCache()``, and
    (c) a stage bigger than the heap degrades to disk instead of dying:

    1. persist + one shuffle-free job over the persisted plan (a ``noop``
       write) -- the InMemoryRelation accumulates REAL bytes (a checkpoint
       of a raw explode inherits the pre-explode estimate: measured
       25.1 MiB reported for 3.5 GiB), and the SQL cache build spills
       under pressure instead of failing;
    2. read the measured size off the materialized cache;
    3. SMALL stage: localCheckpoint of the cache (LogicalRDD snapshots the
       honest sizeInBytes; RDD-level blocks survive clearCache -- verified
       4,468,320 bytes reported before and after unpersist+clearCache);
       BIG stage: write local parquet from the cache and read it back
       with the cache's schema (consumers stream compressed columnar
       files; no Java-deser rehydration of spilled blocks -- the 8 g OOM
       class retired);
    4. release the now-redundant SQL-cache copy.

    The size is known only after step 1, so the branch is chosen before
    any checkpoint exists: a big stage never holds checkpoint blocks. The
    small path runs two jobs (step 1 and the checkpoint).

    The parquet branch tags the returned frame with a ``StagedDir`` via
    ``_staged_dir`` so ledger eviction / sf_dir switch / drop_stage remove
    the directory with the memo entry.

    A stage spills when its own measured cache bytes exceed the heap/32
    threshold, OR when adding it to the CURRENTLY RESIDENT stage storage
    would cross _family_admission_bytes."""
    spark = df.sparkSession
    resident_before = storage_bytes(spark)
    cached = df.persist()
    cached.write.format("noop").mode("overwrite").save()
    try:
        size = int(
            cached._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        size = 0
    if (size > _spill_threshold_bytes(spark)
            or resident_before + size > _family_admission_bytes(spark)):
        import tempfile

        path = tempfile.mkdtemp(prefix="stage_", dir=_stage_spill_root())
        cached.write.mode("overwrite").parquet(path)
        # the files hold `cached`'s rows: its schema, not an inference job
        out = spark.read.schema(cached.schema).parquet(path)
        out._staged_dir = StagedDir(path)
    else:
        out = cached.localCheckpoint()
    cached.unpersist()
    return out


def _stage_backing(value):
    """``(item, staged_dir, checkpoint_rdd)`` for each item of a stage
    value (a frame, a StagedDir, a scalar, or a tuple/list of them): the
    directory a StagedDir or parquet-branch frame owns, else the RDD whose
    blocks ARE a localCheckpointed frame's data (its analyzed plan is a
    ``LogicalRDD``); both None for scalars / never-checkpointed plans."""
    items = value if isinstance(value, (tuple, list)) else (value,)
    for item in items:
        sd = item if isinstance(item, StagedDir) else getattr(
            item, "_staged_dir", None)
        rdd = None
        if sd is None:
            try:
                plan = item._jdf.queryExecution().analyzed()
                if plan.getClass().getSimpleName() == "LogicalRDD":
                    rdd = plan.rdd()
            except Exception:
                pass
        yield item, sd, rdd


def _release_stage(value, blocking: bool = False) -> None:
    """Best-effort release of an evicted stage's storage.

    A staged directory is removed (the parquet frame holds no executor
    storage). ``DataFrame.unpersist()`` does NOT free checkpoint blocks (it
    only uncaches CacheManager entries -- verified empirically: RDD storage
    info is unchanged after ``unpersist(blocking=True)``); unpersisting the
    LogicalRDD's rdd is what actually drops them (verified: storage-info
    count goes to 0). Plain ``unpersist()`` runs too, covering any
    persist()-cached value; never-persisted plans and stopped sessions make
    both calls harmless no-ops / ignored failures. ``blocking=True`` inside
    the ledger's eviction loop (ADVICE r12): the tick re-samples residency
    after each victim, and a non-blocking release would overstate
    post-eviction bytes."""
    import shutil

    for item, sd, rdd in _stage_backing(value):
        if sd is not None:
            shutil.rmtree(sd, ignore_errors=True)
            continue
        for release in (rdd, item):
            try:
                release.unpersist(blocking)
            except Exception:  # None, a scalar, a stopped session
                pass


def _evict(key, blocking: bool = False, release: bool = True) -> None:
    """Drop one memo entry: release its storage, forget its ledger row."""
    value = _STAGE_CACHE.pop(key)
    _STAGE_META.pop(key, None)
    _STAGE_ACTIVE.discard(key)
    if release:
        _release_stage(value, blocking)


def session_stage(spark, sf_dir: str, name: str, build):
    """Memoize `build()` per (applicationId, sf_dir, name).

    Two evictions keep the cache bounded (ADVICE r04 #1):
    - entries from other (stopped) applications: their DataFrames pin py4j
      references to defunct JVMs and can never be served again, so they
      are forgotten without a release call;
    - entries from the LIVE application but a different sf_dir: a long-lived
      driver sweeping several fixture dirs would otherwise pin every dir's
      localCheckpointed stages on the executors forever. Suites run one
      sf_dir at a time, so cross-dir thrash is not a real access pattern.
    """
    global _STAGE_SEQ
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    if key not in _STAGE_CACHE:
        for old in [k for k in _STAGE_CACHE if k[0] != app or k[1] != sf_dir]:
            _evict(old, release=old[0] == app)
        _STAGE_CACHE[key] = build()
        _STAGE_META[key] = {"rdd_ids": _stage_rdd_ids(_STAGE_CACHE[key])}
    _STAGE_SEQ += 1
    _STAGE_META.setdefault(key, {"rdd_ids": []})["seq"] = _STAGE_SEQ
    _STAGE_ACTIVE.add(key)
    return _STAGE_CACHE[key]


def _stage_rdd_ids(value) -> list[int]:
    """RDD ids backing a stage value's localCheckpoint blocks -- lets the
    ledger attribute executor storage per stage from getRDDStorageInfo."""
    return [rdd.id() for _item, _sd, rdd in _stage_backing(value)
            if rdd is not None]


def storage_bytes(spark) -> int:
    """Total resident RDD storage (memory + disk) in this application --
    the quantity the stage ledger bounds and the bench harness samples
    for its per-query peak column."""
    total = 0
    try:
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
            total += int(info.memSize()) + int(info.diskSize())
    except Exception:
        pass
    return total


def _stage_resident_bytes(spark) -> dict[tuple[str, str, str], int]:
    """Per-stage resident bytes, from the ledger's RDD-id attribution."""
    by_id: dict[int, int] = {}
    try:
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
            by_id[int(info.id())] = int(info.memSize()) + int(info.diskSize())
    except Exception:
        return {}
    return {
        key: sum(by_id.get(rid, 0) for rid in meta.get("rdd_ids", []))
        for key, meta in _STAGE_META.items()
    }


def _stage_disk_bytes() -> int:
    """Bytes held by parquet-backed (spill-branch) stages -- visibility
    only: they use local disk, not executor storage, so the ledger budget
    does not govern them; sf_dir switch / drop_stage / process exit are
    what bound their lifetime."""
    import os

    total = 0
    for value in _STAGE_CACHE.values():
        for _item, sd, _rdd in _stage_backing(value):
            if sd is None:
                continue
            for root, _dirs, files in os.walk(sd):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
    return total


def stage_ledger_tick(spark, budget_bytes: int | None = None) -> dict:
    """Between-queries ledger maintenance: evict least-recently-used stages
    while tracked stage storage exceeds the budget, then reset the
    active-set protection window.

    Call ONLY at query boundaries (bench.py / verify_oracle.py do): stages
    touched since the previous tick are protected, because evicting a
    localCheckpoint a running query still references fails that query
    (lineage is truncated -- the blocks are the data). Eviction deletes the
    memo entry too, so the next consumer transparently rebuilds.

    Budget: ``budget_bytes`` arg, else _LEDGER_BUDGET_BYTES (2048 MB: it
    counts checkpoint blocks, which run 2-4x the columnar-cache bytes
    admission compares, so it is not the admission bound). Returns
    {"stage_bytes", "global_bytes", "disk_bytes", "evicted"}.
    """
    if budget_bytes is None:
        budget_bytes = _LEDGER_BUDGET_BYTES
    evicted: list[str] = []
    sizes = _stage_resident_bytes(spark)
    while sum(sizes.values()) > budget_bytes:
        # LRU among evictable entries that actually hold resident bytes
        # (evicting a 0-byte entry frees nothing and forces a rebuild)
        candidates = [
            k for k in _STAGE_CACHE
            if k not in _STAGE_ACTIVE and sizes.get(k, 0) > 0
        ]
        if not candidates:
            break
        victim = min(candidates, key=lambda k: _STAGE_META[k].get("seq", 0))
        _evict(victim, blocking=True)
        evicted.append(victim[2])
        sizes = _stage_resident_bytes(spark)
    _STAGE_ACTIVE.clear()
    return {
        "stage_bytes": sum(sizes.values()),
        "global_bytes": storage_bytes(spark),
        "disk_bytes": _stage_disk_bytes(),
        "evicted": evicted,
    }


def drop_stage(spark, sf_dir: str, name: str) -> None:
    """Explicitly release one memoized stage (blocks + memo entry) -- for
    builders that materialize a frame to answer a one-off question (e.g.
    the span route's df table on corpora where the route then decides the
    frame is never needed again). No-op if absent; the next
    session_stage call transparently rebuilds."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key in _STAGE_CACHE:
        _evict(key)


# Shuffle-partition count the staged streaming replays run under (a
# streaming query fixes it as its state-store count at first start; see
# plans/windows._run_available_now)
STATE_PARTITIONS = 8


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent exact sum of a double expression, as double."""
    return F.sum(_c(col).cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Exact-decimal average returned as double (decimal sum / count)."""
    c = _c(col)
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


# sum(l_extendedprice * (1 - l_discount)) -- the TPC-H revenue expression.
# (Built lazily: pyspark Columns cannot be constructed before a session exists.)
def revenue_expr() -> Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


SQL_REVENUE_EXPR = "l_extendedprice * (1 - l_discount)"


def revenue_col(alias: str = "revenue") -> Column:
    return dsum(revenue_expr(), alias)


def sql_revenue(alias: str = "revenue") -> str:
    return sql_dsum(SQL_REVENUE_EXPR, alias)


def shared_pair_counts(
    df: DataFrame, key: str, item: str, a: str, b: str, n: str
) -> DataFrame:
    """For every pair of distinct ``item`` values ``a < b``, the number of
    ``key`` values carried by both: ``(a, b, n)`` rows, pairs sharing no
    key omitted. One key-grain aggregate (OPTIMIZATION r16) collects each
    key's sorted item set and expands it to its a<b pairs -- the counts of
    the key-joined self-join without its second evaluation of ``df`` or
    its two string-key sorts. The expansion is bounded by |items|^2 per
    key, so ``item`` must be low-cardinality (sources, not documents)."""
    ss = F.col("ss")
    # transform's index i is 0-based and slice is 1-based: the slice from
    # i + 2 holds the items after x, so each pair is emitted once
    pairs = F.flatten(
        F.transform(
            ss,
            lambda x, i: F.transform(
                F.slice(
                    ss, i + F.lit(2),
                    F.greatest(F.size(ss) - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )
    return (
        df.groupBy(key)
        .agg(F.sort_array(F.collect_set(item)).alias("ss"))
        .where(F.size(ss) >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col(f"p.{a}").alias(a), F.col(f"p.{b}").alias(b))
        .agg(F.count(F.lit(1)).alias(n))
    )
