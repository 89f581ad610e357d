"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):

  python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 20 --trace 0

The inputs are generated from --seed, the engine runs on local[nproc] in
this process, outputs are checked, and the last line of stdout is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1 (the
traced run also records spans and a Spark event log). Times are taken net
of hypervisor steal (see trace.net_of_steal); the raw walls, latencies and
steal of every pass, run metadata and the rest of the detail go to stderr
and to .perfbench_work/results/. Exit status is 0 only when every output
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(HERE, "workloads.json")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def git_meta() -> dict:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                               text=True, capture_output=True,
                               timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return {"git_sha": None, "git_dirty": None}
    return {"git_sha": sha or None, "git_dirty": bool(dirty) if sha else None}


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (and with it the Python workers
    it started) and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Ctx:
    def __init__(self, seed: int, work: str, tracer, log, steal0: float):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.log = log
        self.steal0 = steal0
        self.spark = None
        self.receiver = None
        self.setup_s = None
        self.phases: dict[str, float] = {}

    def phase(self, name: str) -> None:
        """Record the process age at the end of a set-up phase."""
        self.phases[name] = process_age()

    def mark_setup_done(self) -> None:
        """End of set-up: spans recorded so far (warm-up) are dropped, and
        set-up time is taken net of the steal since the run started."""
        from perfbench.trace import net_of_steal, usage

        self.tracer.spans.clear()
        self.phase("setup_done")
        cpu, steal = usage(os.getpid())
        self.setup_s = net_of_steal(self.phases["setup_done"], cpu,
                                    steal - self.steal0)


def end_to_end(res: dict, setup_s: float, rss_mb: float) -> dict:
    """End-to-end metrics of one run: medians over its passes and their
    operations, each time net of the steal while it ran (during its pass;
    a query pass records it per query). A query pass runs different
    entries, so its times are per entry first: ``wall_s`` is the sum of the
    entries' median latencies and ``op_p50_s`` the median of those medians
    (a median over all latencies would fall in the gap between two entries
    and jump between them). The tail percentile is left out: a run holds
    fewer than 40 operations, and below that the highest percentile with
    ten samples beyond it is the median itself. It goes to the run's detail
    file with its sample count."""
    from perfbench.trace import median, net_of_steal

    def net(p, t):
        return net_of_steal(t, p["cpu_s"], p["steal_s"])

    passes = res["passes"]
    if res.get("queries"):
        per_query = [median([net_of_steal(p["ops"][i], *p["op_use"][i])
                             for p in passes])
                     for i in range(len(res["queries"]))]
        wall, op = sum(per_query), median(per_query)
    else:
        wall = median([net(p, p["wall"]) for p in passes])
        op = median([net(p, t) for p in passes for t in p["ops"]])
    return {"setup_s": setup_s, "wall_s": wall, "op_p50_s": op,
            "peak_rss_mb": rss_mb}


def _per_pass(total: float, passes: int) -> float:
    return total / passes if passes else 0.0


def layer_metrics(
    res: dict, tracer, events: dict | None, session_s: float, e2e: dict
) -> dict:
    """Per-layer numbers from spans, streaming progress, the receiver and
    the event log. Every name is reported on every workload; a layer the
    workload does not load reads 0. ``traced.*`` are the end-to-end
    numbers of this traced run: minus an untraced run's, they are the
    tracing overhead."""
    from perfbench.trace import covered, median

    passes = len(res["passes"])
    jobs = (events or {}).get("jobs", {})

    def span_jobs(spans):
        return [jobs[j] for s in spans for j in s.get("jobs", []) if j in jobs]

    def total(spans, key):
        return sum(j[key] for j in span_jobs(spans))

    builds, execs = tracer.by_name("build"), tracer.by_name("exec")
    queries = tracer.by_name("query")
    pb = tracer.by_name("process_batch")
    lookups, posts = tracer.by_name("state.lookup"), tracer.by_name("sink.post")
    timed = builds + execs + lookups + posts
    gap = 0.0
    for s in execs:
        iv = [(j["submit"], j["end"] or s["end"]) for j in span_jobs([s])]
        gap += (s["end"] - s["start"]) - covered(iv, s["start"], s["end"])
    exec_ids = {j.get("sql_exec") for j in span_jobs(timed)} - {None}
    py = [v for e, v in (events or {}).get("python", {}).items() if e in exec_ids]
    prog = res.get("progress", [])

    def prog_med(*keys):
        return median([sum(p["durationMs"].get(k, 0) for k in keys) / 1000
                       for p in prog])

    sink = res.get("sink", [])
    n_posts = sum(s["posts"] for s in sink)
    dur = lambda spans: [s["end"] - s["start"] for s in spans]  # noqa: E731
    return {
        "session.start_s": session_s,
        "plans.build_s": _per_pass(sum(dur(builds)), passes),
        "plans.build_jobs": _per_pass(len(span_jobs(builds)), passes),
        "stage.calls": _per_pass(sum(q.get("stage_calls", 0) for q in queries), passes),
        "stage.builds": _per_pass(sum(q.get("stage_builds", 0) for q in queries), passes),
        "stage.spills": _per_pass(sum(q.get("stage_spills", 0) for q in queries), passes),
        "stage.resident_peak_mb": max([q.get("resident_mb", 0) for q in queries] or [0]),
        "exec.s": _per_pass(sum(dur(execs)), passes),
        "exec.jobs": _per_pass(len(span_jobs(execs)), passes),
        "exec.stages": _per_pass(total(execs, "stages"), passes),
        "exec.tasks": _per_pass(total(execs, "tasks"), passes),
        "exec.driver_gap_s": _per_pass(gap, passes),
        "spark.task_run_s": _per_pass(total(timed, "run_ms") / 1e3, passes),
        "spark.task_cpu_s": _per_pass(total(timed, "cpu_ns") / 1e9, passes),
        "spark.gc_s": _per_pass(total(timed, "gc_ms") / 1e3, passes),
        "spark.shuffle_read_mb": _per_pass(total(timed, "shuffle_read") / 2**20, passes),
        "spark.shuffle_write_mb": _per_pass(total(timed, "shuffle_write") / 2**20, passes),
        "spark.spill_mb": _per_pass(total(timed, "spill") / 2**20, passes),
        "python.eval_s": _per_pass(sum(p["run_ms"] for p in py) / 1e3, passes),
        "python.rows": _per_pass(sum(p["rows"] for p in py), passes),
        "stream.offset_s": prog_med("latestOffset", "getBatch"),
        "stream.plan_s": prog_med("queryPlanning"),
        "stream.commit_s": prog_med("walCommit", "commitOffsets"),
        "stream.add_batch_s": prog_med("addBatch"),
        "pipeline.process_batch_s": median(dur(pb)),
        "state.lookup_s": median(dur(lookups)),
        "state.lookup_jobs": len(span_jobs(lookups)) / len(lookups) if lookups else 0.0,
        "sink.post_s": median(dur(posts)),
        "sink.tasks": total(posts, "tasks") / len(posts) if posts else 0.0,
        "sink.posts": _per_pass(n_posts, passes),
        "sink.rejected": _per_pass(sum(s["rejected"] for s in sink), passes),
        "sink.accept_ratio": (n_posts - sum(s["rejected"] for s in sink)) / n_posts
        if n_posts else 0.0,
        "sink.mb": _per_pass(sum(s["bytes"] for s in sink) / 2**20, passes),
        "traced.wall_s": e2e["wall_s"],
        "traced.op_p50_s": e2e["op_p50_s"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import trace

    steal0 = trace.steal_s()
    with open(SPEC) as f:
        specs = json.load(f)
    with open(BENCHMARK) as f:
        declared = json.load(f)
    if args.workload not in specs:
        print(f"unknown workload {args.workload!r}; known: {sorted(specs)}",
              file=sys.stderr)
        return 2
    spec = specs[args.workload]

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(ROOT, ".perfbench_work", "results")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, results_dir, os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    # the engine's session reads these at import; Python workers need the
    # repository root on their path to unpickle engine functions
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env["SPARK_GRAFT_SF_DIR"] = os.path.join(work, "sf")
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # one BLAS/OpenMP thread per Python worker: local[nproc] already runs
    # nproc tasks at once, and more threads than cores measure the scheduler
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        env[var] = "1"
    env["TMPDIR"] = tmp
    env["SPARK_GRAFT_STAGE_SPILL_DIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if args.trace:
        conf = [env.get("SPARK_GRAFT_EXTRA_CONF", ""),
                "spark.eventLog.enabled=true",
                "spark.eventLog.compress=false",
                f"spark.eventLog.dir=file://{work}/eventlog"]
        env["SPARK_GRAFT_EXTRA_CONF"] = ";".join(c for c in conf if c)

    def log(msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)

    # keep stdout for the result line: the JVM inherits fd 1 and may print
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        import pyarrow
        import pyspark

        import sqldataintegrationfunctiontriggerapp_spark as engine
        from perfbench import workloads
        from sqldataintegrationfunctiontriggerapp_spark.session import get_session
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        log(f"the engine must come from {ROOT}, not {engine.__file__}")
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    tracer = trace.Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(args.seed, work, tracer, log, steal0)
    ctx.phase("imports")
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "spark_graft_cpus": env["SPARK_GRAFT_CPUS"], **git_meta(),
        "spark": pyspark.__version__, "python": sys.version.split()[0],
        "pyarrow": pyarrow.__version__, "sf": spec["sf"],
        "sf_dir": env["SPARK_GRAFT_SF_DIR"], "start_time": time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    log("meta " + json.dumps(meta))
    res = None
    events = None
    try:
        t0 = time.perf_counter()
        ctx.spark = get_session(
            app_name="perfbench",
            extra_conf={"spark.sql.streaming.numRecentProgressUpdates": "100000"},
        )
        session_s = time.perf_counter() - t0
        ctx.phase("session")
        run = workloads.run_cdc if spec["kind"] == "cdc" else workloads.run_queries
        with tracer.span("workload", workload=args.workload):
            res = run(ctx, spec, args.seconds)
        jvm_pid = ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = trace.peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        if ctx.receiver is not None:
            ctx.receiver.close()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
    if args.trace:
        events = trace.parse_event_log(os.path.join(work, "eventlog"))

    e2e = end_to_end(res, ctx.setup_s, rss)
    ops = [t for p in res["passes"] for t in p["ops"]]
    q, tail_v = trace.tail(ops)
    # share of the machine's CPU time the hypervisor withheld, per pass
    steal_share = [p["steal_s"] / (p["wall"] * nproc) for p in res["passes"]]
    detail = {
        "meta": meta, "e2e": e2e, "setup_phases": ctx.phases,
        "op_tail_raw": {"quantile": q, "value_s": tail_v, "samples": len(ops)},
        "steal_share": steal_share,
        **{k: v for k, v in res.items() if k != "progress"},
    }
    if args.trace:
        detail["layers"] = layer_metrics(res, tracer, events, session_s, e2e)
        tracer.dump(os.path.join(results_dir, f"{run_id}.spans.jsonl"))
    with open(os.path.join(results_dir, f"{run_id}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    log(f"{len(ops)} ops in {len(res['passes'])} passes; tail is p"
        f"{q * 100:g} of {len(ops)}; steal share per pass "
        f"{[round(s, 3) for s in steal_share]}; checks correct={res['correct']}")
    shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    values = detail["layers"] if args.trace else e2e
    out = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in declared[kind]},
    }
    os.write(real_stdout, (json.dumps(out) + "\n").encode())
    os.close(real_stdout)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
