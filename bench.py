"""Benchmark harness: runs the full queries() suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

  {"metric": "suite_wall_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1, ..., "meta": {...}}

Each query is executed to completion with the noop sink (full plan runs,
nothing is collected to the driver), which is what a cluster job would do --
`count()` would let Catalyst prune expensive projections and flatter the
numbers.

It is also the per-query profiler. Each query runs as two spans
(perfbench.trace.Tracer): ``build``, the call ``fn(spark, sf_dir)`` that
constructs the plan (and runs whatever Spark jobs the builder needs), and
``exec``, the noop save. ``queries[name]`` is build + exec wall. The
Spark event log, parsed once after the timed loop, gives each span the
jobs submitted while it ran and splits it into their stages, tasks, task
run/CPU/GC time, shuffle, spill, Python-worker time and driver gap (see
``span_layer``); the JVM's codegen counters give the classes compiled in
it and the seconds that took.
The full-suite run writes them to BENCH_FULL.json as
``layers: {query: {"build": {...}, "exec": {...}}}`` next to ``meta``
(host cores, commit, fixture dir, versions, start time); subset runs
(SPARK_GRAFT_BENCH_QUERIES) print one ``# layers`` stderr line per query.
"""

from __future__ import annotations

import atexit
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd
from pyspark.sql import functions as F

from perfbench.run import git_meta
from perfbench.trace import Tracer, covered, parse_event_log
from sqldataintegrationfunctiontriggerapp_spark.session import DEFAULT_CPUS, get_session


def _warm_fn(s: pd.Series) -> pd.Series:
    return s


def _calibration_probe(spark) -> float:
    """Fixed CPU+shuffle micro-probe (VERDICT r14 #2): 30M JVM-side md5s
    followed by a full 64-partition row shuffle and a scalar aggregate.
    Every term is pinned -- input rows, input partitions, md5 work,
    repartition(64) target (NOT the session's derived shuffle partitions)
    -- so the measured seconds depend only on the HOST (CPU class, memory
    bandwidth, contention), never on engine code or fixture scale. Run
    before and after the suite; the recorded pair lets bench_compare.py
    separate host-class drift (judge-confirmed 2-4x swings between
    sessions) from genuine per-query code movement without a worktree
    A/B. Memory-light by construction (no per-key state; the 1g default
    heap runs it with headroom).

    Reading the pair: pre >> post within one run is NOT host drift -- it
    is heap/page warmth (measured r15: pre 12.9 s vs post 2.1 s with an
    8g driver heap (spark.driver.memory=8g), the session.py big-fresh-heap
    demand-faulting pathology; and pre 53 s while a concurrent fixture
    generator saturated the box vs post 3.1 s after it finished). For
    cross-ROUND comparison bench_compare.py uses the pair's MEAN, and the
    driver's per-round runs use identical heap settings, so the ratio
    isolates the host class."""
    t0 = time.time()
    (
        spark.range(0, 30_000_000, 1, 32)
        .select(F.md5(F.col("id").cast("string")).alias("h"))
        .repartition(64, "h")
        .select(F.sum(F.crc32(F.col("h"))).alias("s"))
        .write.mode("overwrite").format("noop").save()
    )
    return round(time.time() - t0, 3)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dirs, fs in os.walk(path) for f in fs
    )


def _warmup_dir(target: str) -> str | None:
    """The smallest sibling sf* dir that is SMALLER than `target`, or
    None. Larger siblings are skipped (a warmup at sf10 would cost more
    than the run it warms); a sibling that vanishes or turns unreadable
    between the glob and its stat is skipped, not raised."""
    import glob

    base = os.path.dirname(os.path.abspath(target.rstrip("/")))
    limit = _dir_bytes(target)
    cands = []
    for p in glob.glob(os.path.join(base, "sf*")):
        try:
            if not os.path.isdir(p) or os.path.samefile(p, target):
                continue
            sz = _dir_bytes(p)
        except OSError:
            continue
        if sz < limit:
            cands.append((sz, p))
    return min(cands)[1] if cands else None


def codegen_counts(spark) -> tuple[int, float]:
    """(classes compiled, seconds spent compiling them) so far: Spark's
    Janino compile counter and compile-time sum. Both are JVM-global, so
    in local mode they include the executors' compiles."""
    jvm = spark._jvm
    return (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime() / 1e9,
    )


def run_query(spark, tracer: Tracer, name: str, fn, sf_dir: str) -> float:
    """Build one registry entry's plan inside a ``build`` span and run it
    to completion with the noop sink inside an ``exec`` span. The spans
    set no job group: ``span_layer`` finds their jobs in the event log by
    submit time. Each span records the classes compiled while it ran
    (``codegen_compiles``, ``codegen_s``), read at the span boundaries,
    outside the spans. Returns build + exec wall."""
    counts = [codegen_counts(spark)]
    with tracer.span("build", query=name) as build:
        df = fn(spark, sf_dir)
    counts.append(codegen_counts(spark))
    with tracer.span("exec", query=name) as run:
        df.write.mode("overwrite").format("noop").save()
    counts.append(codegen_counts(spark))
    for span, (n0, s0), (n1, s1) in zip((build, run), counts, counts[1:]):
        span["codegen_compiles"] = n1 - n0
        span["codegen_s"] = s1 - s0
    return sum(s["end"] - s["start"] for s in (build, run))


_MB = 1 << 20
# layer field -> (parse_event_log job field, scale)
_JOB_SUMS = {
    "stages": ("stages", 1),
    "tasks": ("tasks", 1),
    "task_run_s": ("run_ms", 1e-3),
    "task_cpu_s": ("cpu_ns", 1e-9),
    "gc_s": ("gc_ms", 1e-3),
    "shuffle_read_mb": ("shuffle_read", 1 / _MB),
    "shuffle_write_mb": ("shuffle_write", 1 / _MB),
    "spill_mb": ("spill", 1 / _MB),
}


def span_layer(span: dict, events: dict) -> dict:
    """One span's share of a ``parse_event_log`` result: its wall, its
    jobs' summed stage/task/shuffle/spill facts, the Python-worker time of
    the SQL executions those jobs belong to, and the driver gap -- the
    span's wall not covered by any of its jobs (plan building, py4j,
    driver-side collects), as perfbench's ``exec.driver_gap_s``, and the
    classes ``run_query`` counted compiled while it ran.

    A span's jobs are those submitted inside [start, end], compared at the
    log's millisecond resolution -- whatever job group they ran under, so
    a streaming query's micro-batch jobs (each batch runs under the
    stream's own group) count toward the span that ran the stream."""
    lo, hi = span["start"], span["end"]
    lo_ms, hi_ms = math.floor(lo * 1000), math.floor(hi * 1000)
    jobs = [j for j in events["jobs"].values()
            if lo_ms <= round(j["submit"] * 1000) <= hi_ms]
    execs = {j["sql_exec"] for j in jobs} - {None}
    out = {"wall_s": hi - lo, "jobs": len(jobs),
           "codegen_compiles": span["codegen_compiles"],
           "codegen_s": span["codegen_s"]}
    for field, (key, scale) in _JOB_SUMS.items():
        out[field] = sum(j[key] for j in jobs) * scale
    out["python_s"] = sum(
        events["python"][e]["run_ms"] for e in execs if e in events["python"]
    ) / 1e3
    out["driver_gap_s"] = (hi - lo) - covered(
        [(j["submit"], j["end"] or hi) for j in jobs], lo, hi)
    return {k: round(v, 3) if isinstance(v, float) else v
            for k, v in out.items()}


def query_layers(spans: list[dict], events: dict) -> dict:
    """{query: {"build": {...}, "exec": {...}}} over ``run_query``'s spans."""
    layers: dict[str, dict] = {}
    for s in spans:
        layers.setdefault(s["query"], {})[s["name"]] = span_layer(s, events)
    return layers


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Validate any query-subset filter BEFORE the expensive session/warmup
    # startup, and name the offenders (a typo used to surface as a bare
    # KeyError after ~20 s of JVM warmup).
    from sqldataintegrationfunctiontriggerapp_spark import plans as _plans
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in _plans.QUERIES]
        if unknown:
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_QUERIES names not in the registry: {unknown}"
            )
    # The JVM child inherits fd 1 and can write banners/progress into stdout,
    # which breaks the driver's json.loads of our one-line contract. Save the
    # real stdout, point fd 1 (and sys.stdout) at stderr for the whole run,
    # and emit the JSON line on the saved fd at the end -- the only stdout line.
    real_stdout_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    meta = {
        "cpus": int(DEFAULT_CPUS), "nproc": len(os.sched_getaffinity(0)),
        **git_meta(), "sf_dir": os.path.abspath(sf_dir),
        "python": sys.version.split()[0],
        "start_time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    # Spark event log for the per-query layers: uncompressed, in a temp dir
    # removed at exit, written by the listener bus off the query threads
    # and parsed only after the timed loop
    log_dir = tempfile.mkdtemp(prefix="bench-eventlog-")
    atexit.register(shutil.rmtree, log_dir, True)
    spark = get_session(app_name="bench", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": f"file://{log_dir}",
    })
    meta["spark"] = spark.version
    meta["codegen_cache_entries"] = int(
        spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup
    # Python-worker warmup: fork + pandas import for the Arrow UDF pool once,
    # not inside the first measured pandas_udf query (real clusters run
    # long-lived workers; first-fork cost is deployment, not query, time)
    warm_udf = F.pandas_udf(_warm_fn, "long")  # needs the active session
    spark.range(10_000).repartition(int(DEFAULT_CPUS)) \
        .select(warm_udf("id")).write.mode("overwrite").format("noop").save()
    # Python-decode-path warmup at the smallest OTHER SF (OPTIMIZATION
    # r15, path derivation fixed r16 per VERDICT r15 #8 / ADVICE): the
    # first scan->exchange->mapInPandas pipeline of a session pays
    # ~3 s/worker of one-time cost (engine-module import in every reused
    # worker plus JVM JIT of the PythonMapInArrow path) -- measured 100
    # extra CPU-seconds across 32 workers (stage REST: 132.6 cold vs 31.5
    # warm executor_run seconds), landing on whichever decode/BLAS query
    # ran first. One registered decode absorbs it; the warmup dir is
    # DERIVED -- the smallest sibling sf* dir smaller than the bench
    # sf_dir (_warmup_dir; a hardcoded fixture path crashed hosts without
    # it and, when sf_dir WAS that fixture, pre-warmed the page cache of a
    # measured query's own fixture). Without a smaller sibling,
    # warm_python_workers covers the per-worker import + MapInPandas JVM
    # path fixture-free. Nothing is cached; clearCache() runs below.
    from sqldataintegrationfunctiontriggerapp_spark import plans as _p
    from sqldataintegrationfunctiontriggerapp_spark.operators.multimodal import (
        warm_python_workers,
    )

    wdir = _warmup_dir(sf_dir)
    if wdir is not None:
        _p.QUERIES["multimodal_decode_gif"](
            spark, wdir
        ).write.mode("overwrite").format("noop").save()
    else:
        print("# no sibling sf dir: fixture-free python-worker warmup",
              file=sys.stderr)
        warm_python_workers(spark)
    # SQL-path warmup at the smallest SF: parquet reader, scan codegen,
    # broadcast/shuffle machinery -- so the first measured query isn't
    # charged the JVM's one-time initialization.
    import __spark_entry__ as _e
    _e.entry(spark).write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()
    probe_pre = _calibration_probe(spark)
    print(f"# calibration probe (pre): {probe_pre:.2f}s", file=sys.stderr)

    timings: dict[str, float] = {}
    total = 0.0
    # Per-query peak resident RDD storage (stage checkpoints + any
    # persisted intermediates), sampled by a background thread -- the
    # ladder's evidence column for the stage ledger (VERDICT r11 #1).
    import threading

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        stage_ledger_tick,
        storage_bytes,
    )

    # --no-ledger-sampling (VERDICT r12 #3): strip every measurement-side
    # harness term from the timed path -- no background sampler thread, no
    # per-query storage reads, no ledger tick -- so the residual suite wall
    # isolates the queries themselves. Eviction semantics are unaffected at
    # sf0.1 (the 2048 MB budget is never exceeded there: the full-sweep log
    # shows zero evictions), so the A/B difference IS the harness overhead.
    sampling = "--no-ledger-sampling" not in sys.argv[1:]
    peak_holder = {"peak": 0, "stop": False, "epoch": 0}
    # ADVICE r13: the epoch check and the peak write must be one atomic
    # step against the boundary reset -- a bare check-then-act lets a
    # reset land in between and folds a stale high sample into the next
    # query's peak. The slow storage_bytes REST read stays outside the
    # lock; only the compare-and-fold and the reset take it.
    peak_lock = threading.Lock()

    def _sample_storage() -> None:
        while not peak_holder["stop"]:
            try:
                # Epoch tag (ADVICE r12): a sample read during query N must
                # not be folded into query N+1's peak after the boundary
                # reset -- snapshot the epoch, read, and discard under the
                # lock if a reset happened while this thread was reading.
                epoch = peak_holder["epoch"]
                b = storage_bytes(spark)
                with peak_lock:
                    if epoch == peak_holder["epoch"]:
                        peak_holder["peak"] = max(peak_holder["peak"], b)
            except Exception:
                pass
            time.sleep(0.25)

    if sampling:
        sampler = threading.Thread(target=_sample_storage, daemon=True)
        sampler.start()
    storage_peaks: dict[str, float] = {}
    tracer = Tracer("bench", enabled=True)
    # Measure in registry-natural (module) order, NOT the driver's
    # correctness-sweep priority order: the sweep priority is reshuffled
    # every round toward queries with stale evidence, and whichever query
    # runs first pays the JVM's one-time warmup (codegen infra, broadcast
    # pools, AQE init) -- measured ~10x on a sub-second query. A stable
    # order keeps per-query times comparable round over round.
    from sqldataintegrationfunctiontriggerapp_spark import plans
    # Optional subset for spot-benches and per-query profiles:
    # SPARK_GRAFT_BENCH_QUERIES="q1,q7", validated against the registry
    # above BEFORE session startup and run in the order given, so earlier
    # names warm the shared session stages a later target reuses. The
    # driver's per-round run sets no filter and measures the full suite.
    selected = (
        {n: plans.QUERIES[n] for n in wanted} if only else plans.QUERIES
    )
    for name, fn in selected.items():
        if sampling:
            baseline = storage_bytes(spark)
            with peak_lock:
                peak_holder["epoch"] += 1
                peak_holder["peak"] = baseline
        dt = run_query(spark, tracer, name, fn, sf_dir)
        timings[name] = round(dt, 3)
        total += dt
        if not sampling:
            # still independent-measured: drop persisted intermediates, but
            # skip every storage read / ledger call on the timed path
            spark.catalog.clearCache()
            print(f"# {name}: {dt:.2f}s", file=sys.stderr)
            continue
        peak_mb = max(peak_holder["peak"], storage_bytes(spark)) / (1 << 20)
        storage_peaks[name] = round(peak_mb, 1)
        # operators may persist() intermediates (e.g. shingle tables); drop
        # them so queries are measured independently and the driver heap
        # doesn't fill with dead caches as the suite progresses
        spark.catalog.clearCache()
        # stage ledger: evict LRU shared-stage checkpoints past the
        # storage budget (query boundary -- nothing in-flight references
        # them), keeping long-suite residency bounded
        ledger = stage_ledger_tick(spark)
        evict_note = (
            f" evicted={ledger['evicted']}" if ledger["evicted"] else ""
        )
        if ledger.get("disk_bytes"):
            evict_note += f" disk={ledger['disk_bytes'] / (1 << 20):.0f}MB"
        print(
            f"# {name}: {dt:.2f}s peak={peak_mb:.0f}MB"
            f" resident={ledger['global_bytes'] / (1 << 20):.0f}MB"
            f"{evict_note}",
            file=sys.stderr,
        )

    peak_holder["stop"] = True
    probe_post = _calibration_probe(spark)
    print(f"# calibration probe (post): {probe_post:.2f}s", file=sys.stderr)
    # stopping the session flushes and closes the event log
    spark.stop()
    layers = query_layers(tracer.spans, parse_event_log(log_dir))
    payload = {
        "metric": "suite_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "storage_peak_mb": storage_peaks,
        # host-speed calibration pair (VERDICT r14 #2): fixed workload, so
        # cross-round ratios of these values measure the HOST, not the code
        "probe_sec_pre": probe_pre,
        "probe_sec_post": probe_post,
        "meta": meta,
    }
    line = json.dumps(payload)
    # The driver's BENCH_r{N}.json keeps only a ~2 KB tail of stdout, which
    # truncates a 100-query timings dict mid-stream (r01/r02 both lost ~30
    # queries from round-over-round comparison -- VERDICT r02 #8). Persist
    # the complete JSON next to the repo so the full suite is always
    # readable regardless of the driver's capture window.
    # The per-query layers are kept out of the stdout line for that reason.
    # subset spot-benches and --no-ledger-sampling A/B runs must not
    # clobber the canonical full-suite record (which carries the peaks);
    # they print each query's layers to stderr instead
    if not only and sampling:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_FULL.json"), "w") as f:
            json.dump({**payload, "layers": layers}, f, indent=1)
            f.write("\n")
    else:
        for name, layer in layers.items():
            print(f"# layers {name}: {json.dumps(layer)}", file=sys.stderr)
    os.write(real_stdout_fd, (line + "\n").encode())
    os.close(real_stdout_fd)


if __name__ == "__main__":
    main()
