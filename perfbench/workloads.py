"""The benchmark's workloads, driving the engine only through its public
functions: ``session.get_session``, the ``plans.QUERIES`` builders,
``sources.changefeed.stream_changes``, ``streaming.pipeline.ChangePipeline``,
``state.StateStore`` and ``sinks.http_sink.HttpSink``.

Each workload runs passes of fixed work (one drain of a change backlog, or
one pass over a query list) until the run's measuring time is used, and
returns per pass its wall, operation latencies, CPU time and steal, plus
output checks and, when traced, the spans around every call into an engine
layer.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import fixtures
from perfbench.receiver import Receiver, check_delivery
from perfbench.trace import usage


def _spanned(fn, name: str, tracer, sc):
    """``fn`` recording a span, with its Spark jobs under the span's group."""

    def call(*args, **kwargs):
        with tracer.span(name, sc=sc):
            return fn(*args, **kwargs)

    return call


class _Traced:
    """Stand-in for an engine object with some methods replaced; the rest
    comes from the wrapped object, which stays untouched: the sink is
    pickled to the Python workers, and a span closes over the driver's
    SparkContext."""

    def __init__(self, inner, **methods):
        self._inner = inner
        self.__dict__.update(methods)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _keep_going(started: float, seconds: float, passes: list[dict]) -> bool:
    """Start another pass while it is expected to end near the deadline."""
    elapsed = time.perf_counter() - started
    walls = sorted(p["wall"] for p in passes)
    est = walls[len(walls) // 2] if walls else 0.0
    return elapsed + 0.5 * est < seconds


def _pass(u0: tuple[float, float], wall: float, ops: list[float]) -> dict:
    """One timed pass: its wall, its operations' latencies, and the CPU
    time its processes used and the hypervisor withheld since ``u0``."""
    cpu, steal = (b - a for a, b in zip(u0, usage(os.getpid())))
    return {"wall": wall, "ops": ops, "cpu_s": cpu, "steal_s": steal}


def setup_cdc(ctx, spec: dict) -> dict:
    from sqldataintegrationfunctiontriggerapp_spark.config import EngineSettings
    from sqldataintegrationfunctiontriggerapp_spark.sinks.http_sink import HttpSink
    from sqldataintegrationfunctiontriggerapp_spark.state import StateStore
    from sqldataintegrationfunctiontriggerapp_spark.streaming.pipeline import (
        ChangePipeline,
    )

    table = spec["table"]
    tb = fixtures.make_tables(spec["sf"], ctx.seed, only=[table])[table]
    tb = tb.sort_by([(c, "ascending") for c in spec["sort_by"]])
    n = spec["rows_per_file"] * spec["files"]
    backlog = tb.slice(0, n)
    warm = tb.slice(n, n)  # a warm-up backlog of the same shape
    changes = os.path.join(ctx.work, "changes")
    warm_dir = os.path.join(ctx.work, "warm_changes")
    fixtures.stage_change_files(backlog, changes, spec["rows_per_file"])
    fixtures.stage_change_files(warm, warm_dir, spec["rows_per_file"])
    ctx.phase("fixtures")

    spark = ctx.spark
    receiver = ctx.receiver = Receiver(ctx.seed, spec["reject_share"])
    state = StateStore(spark, os.path.join(ctx.work, "state"))
    state.save_allowed_columns(table, spec["client_allow"])
    settings = EngineSettings(allowed_columns={table: spec["config_allow"]})
    # a short fixed backoff: a retry costs a real round trip, not the
    # reference's 10 s activity sleep
    sink = HttpSink(receiver.url, timeout_seconds=60.0,
                    first_backoff_seconds=0.02, backoff_coefficient=1.0)
    pipeline = ChangePipeline(settings, state, sink)
    if ctx.tracer.enabled:
        sc = spark.sparkContext
        pipeline.state = _Traced(state, get_allowed_columns=_spanned(
            state.get_allowed_columns, "state.lookup", ctx.tracer, sc))
        pipeline.sink = _Traced(sink, post_partitions=_spanned(
            sink.post_partitions, "sink.post", ctx.tracer, sc))
        pipeline.process_batch = _spanned(
            pipeline.process_batch, "process_batch", ctx.tracer, sc)
    ctx.phase("state")
    key = spec["key"]
    cols = [backlog.column(c).to_pylist() for c in key]
    return {
        "table": table,
        "pipeline": pipeline,
        "schema": spark.read.parquet(changes).schema,
        "changes": changes,
        "warm_dir": warm_dir,
        "allow": pipeline.resolve_allowlist(table),
        "keys": set(zip(*cols)),
        "warm_keys": set(zip(*[warm.column(c).to_pylist() for c in key])),
        "rows": backlog.num_rows,
        "files": spec["files"],
    }


def _drain(ctx, st: dict, src: str, tag: str) -> tuple[float, list[dict]]:
    """One availableNow drain of ``src`` from a fresh checkpoint."""
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import (
        stream_changes,
    )

    spark = ctx.spark
    ckpt = os.path.join(ctx.work, "ckpt", tag)
    ctx.receiver.reset()
    t0 = time.perf_counter()
    df = stream_changes(spark, src, st["schema"], max_files_per_trigger=1)
    q = (
        df.writeStream.foreachBatch(st["pipeline"].foreach_batch(st["table"]))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    shutil.rmtree(ckpt, ignore_errors=True)
    return wall, progress


def run_cdc(ctx, spec: dict, seconds: float) -> dict:
    st = setup_cdc(ctx, spec)
    # a warm-up drain on rows outside the backlog: the streaming, state and
    # sink paths run and are checked before timing. The JIT keeps making
    # batches faster for ~20 s after (~25% in all), so the timed drains are
    # many and their median is reported
    _drain(ctx, st, st["warm_dir"], "warm")
    warm_check = check_delivery(ctx.receiver.bodies, spec["key"], st["allow"],
                                st["warm_keys"])
    ctx.mark_setup_done()

    passes, progress_all, checks, sink_stats = [], [], [], []
    attempted = failed = 0
    started = time.perf_counter()
    i = 0
    while i == 0 or _keep_going(started, seconds, passes):
        i += 1
        u0 = usage(os.getpid())
        with ctx.tracer.span("drain", pass_no=i):
            try:
                wall, progress = _drain(ctx, st, st["changes"], f"d{i}")
            except Exception as e:  # noqa: BLE001
                ctx.log(f"drain {i} failed: {e}")
                attempted += st["files"]
                failed += st["files"]
                continue
        passes.append(_pass(u0, wall, [
            p["durationMs"]["triggerExecution"] / 1000 for p in progress]))
        sink_stats.append(ctx.receiver.stats())
        chk = check_delivery(ctx.receiver.bodies, spec["key"], st["allow"],
                             st["keys"])
        checks.append(chk)
        attempted += st["files"]
        # a batch count short of the file count is a failed delivery too
        failed += max(0, st["files"] - len(progress)) + (0 if chk["ok"] else 1)
        progress_all.extend(progress)
    ok = all(c["ok"] for c in [warm_check] + checks) and bool(passes)
    return {
        "passes": passes,
        "attempted": attempted,
        "failed": failed,
        "correct": ok and failed == 0,
        "checks": {"warmup": warm_check, "drains": checks},
        "rows_per_pass": st["rows"],
        "rows_per_s": [c["rows"] / p["wall"] for c, p in zip(checks, passes)],
        "progress": progress_all,
        "sink": sink_stats,
    }


def oracle_check(spark, names: list[str], sf_dir: str) -> dict:
    """Run every entry at ``sf_dir`` and compare it with its DuckDB oracle
    the way tools/verify_oracle.py does: same column names, and the same
    rows in its order-insensitive exact canonical form."""
    import duckdb

    from sqldataintegrationfunctiontriggerapp_spark import plans
    from sqldataintegrationfunctiontriggerapp_spark.catalog import TABLES
    from tools.verify_oracle import canon

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name in names:
        try:
            sdf = plans.QUERIES[name](spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = [[r[c] for c in scols] for r in sdf.collect()]
            rel = con.sql(plans.ORACLES[name])
            order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
            ocols = [rel.columns[i] for i in order]
            orows = [[r[i] for i in order] for r in rel.fetchall()]
            ok = ([c.lower() for c in scols] == [c.lower() for c in ocols]
                  and canon(srows) == canon(orows))
            out[name] = {"ok": ok, "rows": len(srows), "oracle_rows": len(orows)}
        except Exception as e:  # noqa: BLE001
            out[name] = {"ok": False, "error": str(e)[:300]}
        spark.catalog.clearCache()
    con.close()
    return out


def _drop_stages(spark, sf_dir: str) -> None:
    """Release this dir's shared stages so the next pass pays its builds."""
    from sqldataintegrationfunctiontriggerapp_spark.plans import _util

    for key in list(_util._STAGE_CACHE):
        if key[1] == sf_dir:
            _util.drop_stage(spark, sf_dir, key[2])


def _stage_snapshot(spark) -> dict:
    from sqldataintegrationfunctiontriggerapp_spark.plans import _util

    vals = list(_util._STAGE_CACHE.values())
    spilled = 0
    for v in vals:
        for item in v if isinstance(v, (tuple, list)) else (v,):
            if isinstance(item, _util.StagedDir) or getattr(
                    item, "_staged_dir", None):
                spilled += 1
    return {"seq": _util._STAGE_SEQ, "keys": set(_util._STAGE_CACHE),
            "spilled": spilled, "resident": _util.storage_bytes(spark)}


def _noop_pass(spark, names: list[str], sf_dir: str) -> None:
    """One untimed pass shaped like the timed ones: stages rebuilt, then
    every entry built and saved to the noop sink."""
    from sqldataintegrationfunctiontriggerapp_spark import plans

    _drop_stages(spark, sf_dir)
    for name in names:
        plans.QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()


def run_queries(ctx, spec: dict, seconds: float) -> dict:
    from sqldataintegrationfunctiontriggerapp_spark import plans

    names = spec["queries"]
    sf_dir = fixtures.write_tables(
        fixtures.make_tables(spec["sf"], ctx.seed), os.path.join(ctx.work, "sf"))
    ctx.phase("fixtures")
    spark = ctx.spark
    # untimed warm-up passes: the first pass of a fresh JVM runs ~2x slower
    # than later ones while its JIT compiles the hot paths
    for _ in range(spec["warm_passes"]):
        _noop_pass(spark, names, sf_dir)
    ctx.mark_setup_done()

    passes, per_query = [], {n: [] for n in names}
    attempted = failed = 0
    traced = ctx.tracer.enabled
    sc = spark.sparkContext if traced else None
    started = time.perf_counter()
    i = 0
    while i == 0 or _keep_going(started, seconds, passes):
        i += 1
        _drop_stages(spark, sf_dir)
        ops, op_use = [], []
        u0 = usage(os.getpid())
        with ctx.tracer.span("pass", pass_no=i):
            for name in names:
                attempted += 1
                before = _stage_snapshot(spark) if traced else None
                uq = usage(os.getpid())
                with ctx.tracer.span("query", query=name, pass_no=i) as qs:
                    t0 = time.perf_counter()
                    try:
                        with ctx.tracer.span("build", sc=sc, query=name):
                            df = plans.QUERIES[name](spark, sf_dir)
                        with ctx.tracer.span("exec", sc=sc, query=name):
                            df.write.mode("overwrite").format("noop").save()
                    except Exception as e:  # noqa: BLE001
                        failed += 1
                        ctx.log(f"{name} failed: {e}")
                    dt = time.perf_counter() - t0
                op_use.append([b - a for a, b in zip(uq, usage(os.getpid()))])
                if traced:
                    after = _stage_snapshot(spark)
                    qs.update(
                        stage_calls=after["seq"] - before["seq"],
                        stage_builds=len(after["keys"] - before["keys"]),
                        stage_spills=max(0, after["spilled"] - before["spilled"]),
                        resident_mb=after["resident"] / 2**20,
                    )
                spark.catalog.clearCache()
                ops.append(dt)
                per_query[name].append(dt)
        passes.append({**_pass(u0, sum(ops), ops), "op_use": op_use})
    # the output check, after the timed passes: every entry once more on
    # the same inputs, collected and compared with its oracle
    _drop_stages(spark, sf_dir)
    check = oracle_check(spark, names, sf_dir)
    ok = all(c["ok"] for c in check.values())
    return {
        "passes": passes,
        "queries": names,
        "attempted": attempted,
        "failed": failed,
        "correct": ok and failed == 0,
        "checks": {"oracle": check},
        "per_query_s": per_query,
    }
