"""SparkSession factory.

Local testing runs one JVM with N threads (``local[N]``); the configs below
are chosen so the same code scales to a 1000-executor cluster reading 100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting, dynamic
  broadcast selection) -- the single most important at-scale knob.
- ``spark.sql.caseSensitive=false`` mirrors the reference's case-insensitive
  column matching (ExecuteTriggerHelper.cs:69).
- Session timezone pinned UTC so timestamp semantics match the DuckDB oracle
  and are cluster-location-independent.
- Arrow enabled for the Pandas-UDF slow path (similarity / multimodal ops).
- Python workers fork from ``_daemon``, not ``pyspark.daemon``: on CPython
  < 3.13 pyspark's per-task ``importlib.invalidate_caches()`` makes every
  zipimporter re-read pyspark.zip and the spark-core jar, 0.18-0.25 s per
  task; the daemon backports 3.13's lazy re-read, so a one-task sink batch
  stops paying it. ``spark.executorEnv.PYTHONPATH`` names the repo root so
  the daemon imports from any driver working directory.
- Streaming checkpoints on a local default filesystem are written through
  ``FileSystemBasedCheckpointFileManager`` (``use_filesystem_checkpoints``).
  Spark's default ``FileContext`` manager goes through Hadoop's ``LocalFs``,
  which, without the native Hadoop library, forks ``readlink`` and ``ls``
  to resolve symlinks and permissions: ~27 ms per log entry against
  ~7.5 ms on a 4-core x86 host, and a micro-batch writes three (offset,
  commit, source log).
  The two managers differ only for ``createAtomic(overwriteIfPossible=True)``
  onto an existing file (state-store deltas of a re-executed batch): the
  FileSystem manager keeps the first file, which Spark's "if possible"
  contract allows. Other default filesystems, and a manager class the
  caller set, are left alone.
- Spark's generated-class cache holds ``CODEGEN_CACHE_ENTRIES`` classes,
  not the default 100 (``spark.sql.codegen.cache.maxEntries``, a static
  conf). A repeated query reuses its compiled classes only while they stay
  cached: the four ``llm_pipeline`` entries cycle through 125 classes per
  pass, so at 100 entries each class was evicted just before its next use
  and every pass recompiled all of them in Janino (~1 s per pass at
  sf0.01). Generated classes are also named without their whole-stage
  codegen id (``spark.sql.codegen.useIdInClassName=false``): AQE numbers
  a query's codegen stages in the order its query stages finish, so on a
  pass where two stages finish the other way round the same pipeline gets
  another class name and is compiled again. Together: one pass of the
  four entries compiles 111 classes instead of 137, and every later pass
  none. One ``bench.py`` pass over the registry at sf0.1 (4 cores)
  compiles 2,558 classes against 4,140 (19.8 s of Janino against 29.0 s),
  well inside the cache's 4 LRU segments of 1,024; it ends at 231 MB of
  metaspace against 210 MB. ``extra_conf`` and ``SPARK_GRAFT_EXTRA_CONF``
  override both like any other conf.

At cluster scale the caller sets ``spark.sql.shuffle.partitions`` (and
``spark.master``, the memory confs) in ``extra_conf`` or
``SPARK_GRAFT_EXTRA_CONF`` -- rule of thumb: 2-3x total executor cores, or
rely on AQE coalescing from a high initial value; ``catalog.load_table``
only ever raises the count for a directory whose bytes need more -- and
``spark.sql.files.maxPartitionBytes`` stays at 128MB so a 100 TB scan
yields ~800k input splits -- fine for a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# local[] width: the cores this process may run on, unless overridden
DEFAULT_CPUS = os.environ.get(
    "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
)

# generated classes Spark keeps compiled (module docstring)
CODEGEN_CACHE_ENTRIES = 4096


def get_session(
    app_name: str = "sqldataintegrationfunctiontriggerapp_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession: the engine defaults
    below, then ``$SPARK_GRAFT_EXTRA_CONF``, then ``extra_conf``, each
    overriding the one before."""
    cpus = int(DEFAULT_CPUS)
    # NOTE: spark.driver.memory is deliberately NOT set by default. On this
    # micro-VM, a LARGE heap (16-48g) made CPU-bound stages 10-50x slower
    # (measured: 32M md5s in 2-3s at the 1g default vs 26-127s with 16g) --
    # demand-faulting a big fresh heap dominates runtime. A MODERATE bump is
    # safe: the same md5 probe is 1.07s at 1g vs 1.08s at 4g (r08), so the
    # pathology starts well above 4g. Set
    # SPARK_GRAFT_EXTRA_CONF=spark.driver.memory=4g when a workload
    # genuinely needs the heap -- the sf1 spot-bench does: the
    # shingle-stage columnar cache build OOMs 32 concurrent tasks in the 1g
    # default (see COVERAGE.md sf1 scaling table). spark.master the same
    # way points the engine at a real cluster manager (e.g.
    # spark://127.0.0.1:7077, tools/standalone_cluster.sh).
    # The shuffle-partition count starts at the cpu floor;
    # catalog.load_table raises it for a directory whose bytes need more.
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.caseSensitive", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # 32 MB, down from the round-1 64 MB (which had no recorded
        # measurement): the sf1 spot-bench caught Catalyst auto-broadcasting
        # a ~60 MB orders-x-customer relation in q7 whose single-threaded
        # hash build LOST 2x to the shuffle-merge join (5.6-8.6 s vs
        # 2.9-4.3 s warm, r08) -- the reason Spark's own default is 10 MB.
        # 32 MB keeps every small-fixture plan identical (no join side at
        # sf<=0.1 crosses it) while stopping pathological big builds; truly
        # small dims are broadcast explicitly throughout the plans anyway.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns timestamp
        # type, so read the raw int64 and convert in the catalog (floor to
        # microseconds, matching DuckDB's ns->us coercion).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python workers fork from the engine's daemon (see _daemon.py),
        # which must import from any driver cwd; functions pickled by
        # reference (foreachBatch, mapInPandas decoders) need the package
        # too. Local and same-host standalone get it via PYTHONPATH; a
        # multi-node deployment ships a wheel through --py-files /
        # spark.submit.pyFiles instead.
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
        .config("spark.python.daemon.module",
                "sqldataintegrationfunctiontriggerapp_spark._daemon")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    # SPARK_GRAFT_EXTRA_CONF: semicolon-separated k=v pairs applied before
    # the caller's extra_conf -- lets experiments (a bigger heap, another
    # master, the r14 forced network-shuffle run:
    # spark.shuffle.readHostLocalDisk=false;spark.locality.wait=0) flow
    # through every existing tool without touching call sites. Explicit
    # extra_conf still wins on conflicts.
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    use_filesystem_checkpoints(spark)
    return spark


_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def use_filesystem_checkpoints(spark: SparkSession) -> None:
    """Write this session's streaming checkpoints through the Hadoop
    FileSystem API when the default filesystem is local (see the module
    docstring). A manager class already set on the session is kept, and a
    non-local default filesystem keeps Spark's default manager. The conf
    is read by ``CheckpointFileManager.create`` at query start, so it
    applies to every query started afterwards."""
    if spark.conf.get(_CHECKPOINT_MANAGER_CONF, None) is not None:
        return
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem
    if fs.getDefaultUri(hadoop_conf).getScheme() == "file":
        spark.conf.set(_CHECKPOINT_MANAGER_CONF, _FS_CHECKPOINT_MANAGER)
