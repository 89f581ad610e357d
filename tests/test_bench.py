"""bench.py: the warmup-dir choice (a smaller sibling fixture or nothing)
and the per-query build/exec layers."""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pytest

import bench
from perfbench.trace import Tracer


def _fixture(path, n_bytes: int):
    path.mkdir()
    (path / "documents.parquet").write_bytes(b"x" * n_bytes)
    return path


def test_warmup_dir_picks_smallest_smaller_sibling(tmp_path):
    small = _fixture(tmp_path / "sf0.001", 10)
    _fixture(tmp_path / "sf0.01", 100)
    target = _fixture(tmp_path / "sf0.1", 1000)
    _fixture(tmp_path / "sf10", 100_000)
    assert bench._warmup_dir(str(target)) == str(small)
    # trailing slash on the target names the same dir
    assert bench._warmup_dir(str(target) + "/") == str(small)


def test_warmup_dir_is_none_when_target_is_smallest(tmp_path):
    target = _fixture(tmp_path / "sf0.001", 10)
    _fixture(tmp_path / "sf0.1", 1000)
    _fixture(tmp_path / "sf10", 100_000)
    assert bench._warmup_dir(str(target)) is None


def test_warmup_dir_skips_sibling_vanishing_after_glob(tmp_path, monkeypatch):
    """A sibling deleted between the glob and its stat is skipped, not
    raised -- the race hits os.path.samefile, which must sit inside the
    OSError guard."""
    target = _fixture(tmp_path / "sf0.1", 1000)
    ghost = _fixture(tmp_path / "sf0.01", 100)
    real_isdir = os.path.isdir

    def racing_isdir(p):
        found = real_isdir(p)
        if p == str(ghost):
            shutil.rmtree(ghost)
        return found

    monkeypatch.setattr(os.path, "isdir", racing_isdir)
    assert bench._warmup_dir(str(target)) is None


_MB = 1 << 20


def _job(submit, end, sql_exec, **facts):
    job = {"submit": submit, "end": end, "sql_exec": sql_exec, "group": None,
           "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
           "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
    job.update(facts)
    return job


def test_query_layers_sums_each_phase_from_its_own_jobs():
    events = {
        "jobs": {
            # jobs 1 and 2 overlap in [11, 12] and share SQL execution 7
            1: _job(10.0, 12.0, 7, stages=2, tasks=5, run_ms=1000,
                    cpu_ns=500_000_000, gc_ms=100, shuffle_read=2 * _MB,
                    shuffle_write=_MB),
            2: _job(11.0, 13.0, 7, stages=1, tasks=3, run_ms=500,
                    spill=_MB // 2),
            # still running at the event log's end: clipped at the span end
            3: _job(14.0, None, 8, stages=1, tasks=1),
            4: _job(20.5, 21.0, 9, stages=3, tasks=9, run_ms=4000),
            # a job under another group (a streaming micro-batch) counts
            # toward the span it was submitted in
            5: _job(21.2, 21.4, None, stages=1, tasks=2, group="stream-run"),
            # submitted between spans (bench's clearCache, the probes)
            6: _job(18.0, 19.0, 10, stages=5, tasks=50, run_ms=9000),
            # submitted in the span's first millisecond, before its start:
            # compared at the event log's millisecond resolution
            7: _job(22.0, 22.1, None, tasks=4),
        },
        "python": {7: {"rows": 10.0, "run_ms": 300.0},
                   8: {"rows": 1.0, "run_ms": 200.0},
                   9: {"rows": 99.0, "run_ms": 5000.0}},
    }
    spans = [
        {"name": "build", "query": "qa", "start": 9.0, "end": 16.0,
         "codegen_compiles": 12, "codegen_s": 0.25},
        {"name": "exec", "query": "qa", "start": 16.0, "end": 17.0,
         "codegen_compiles": 0, "codegen_s": 0.0},
        {"name": "build", "query": "qb", "start": 20.0, "end": 20.2,
         "codegen_compiles": 3, "codegen_s": 0.0421},
        {"name": "exec", "query": "qb", "start": 20.2, "end": 21.5,
         "codegen_compiles": 1, "codegen_s": 0.01},
        {"name": "build", "query": "qc", "start": 22.0004, "end": 22.5,
         "codegen_compiles": 0, "codegen_s": 0.0},
    ]
    layers = bench.query_layers(spans, events)
    assert set(layers) == {"qa", "qb", "qc"}
    assert set(layers["qa"]) == {"build", "exec"}
    build = layers["qa"]["build"]
    assert build == {
        "wall_s": 7.0, "jobs": 3, "codegen_compiles": 12, "codegen_s": 0.25,
        "stages": 4, "tasks": 9,
        "task_run_s": 1.5, "task_cpu_s": 0.5, "gc_s": 0.1,
        "shuffle_read_mb": 2.0, "shuffle_write_mb": 1.0, "spill_mb": 0.5,
        # execution 7 counted once although two of the span's jobs share it;
        # execution 9 belongs to qb's jobs only
        "python_s": 0.5,
        # union of [10, 13] and [14, 16] covers 5 of the span's 7 seconds
        "driver_gap_s": 2.0,
    }
    idle = layers["qa"]["exec"]
    assert idle["jobs"] == 0 and idle["python_s"] == 0
    assert idle["driver_gap_s"] == idle["wall_s"] == 1.0
    other = layers["qb"]["exec"]
    assert other["jobs"] == 2 and other["tasks"] == 11
    assert other["python_s"] == 5.0
    assert other["driver_gap_s"] == pytest.approx(0.6)
    assert layers["qb"]["build"]["python_s"] == 0
    assert layers["qb"]["build"]["jobs"] == 0
    # the codegen counts are the span's own, rounded like every float
    assert layers["qb"]["build"]["codegen_compiles"] == 3
    assert layers["qb"]["build"]["codegen_s"] == 0.042
    assert layers["qc"]["build"]["jobs"] == 1
    assert layers["qc"]["build"]["tasks"] == 4
    assert sum(p["jobs"] for q in layers.values() for p in q.values()) == 6


def _live_events(spark, job_ids) -> dict:
    """A ``parse_event_log``-shaped job table for ``job_ids``, read from the
    running application's status store: real submit/completion clocks,
    no task facts."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = {}
    for jid in job_ids:
        data = store.job(jid)
        end = data.completionTime()
        jobs[jid] = _job(data.submissionTime().get().getTime() / 1000,
                         end.get().getTime() / 1000 if end.isDefined() else None,
                         None)
    return {"jobs": jobs, "python": {}}


def test_run_query_splits_each_entry_into_build_and_exec(
        spark, sf_dir, monkeypatch):
    """run_query sets no job group; every job it runs lands, by submit
    time, in exactly one of its build/exec spans, and every class compiled
    while it runs in exactly one span's ``codegen_compiles``."""
    from sqldataintegrationfunctiontriggerapp_spark import catalog, plans

    # open the tables as a fresh session would: no schema memoised yet
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    tracer = Tracer(f"bench-test-{uuid.uuid4().hex}", enabled=True)
    outer = Tracer(f"bench-test-all-{uuid.uuid4().hex}", enabled=True)
    names = ["percentiles", "q13_order_distribution"]
    timings = {}
    compiled0, compile_s0 = bench.codegen_counts(spark)
    with outer.span("all", sc=spark.sparkContext) as everything:
        for name in names:
            t0 = time.time()
            timings[name] = bench.run_query(
                spark, tracer, name, plans.QUERIES[name], sf_dir)
            assert timings[name] <= time.time() - t0
    compiled1, compile_s1 = bench.codegen_counts(spark)
    assert all("jobs" not in s and "group" not in s for s in tracer.spans)
    assert sum(s["codegen_compiles"] for s in tracer.spans) == (
        compiled1 - compiled0)
    assert sum(s["codegen_s"] for s in tracer.spans) == pytest.approx(
        compile_s1 - compile_s0, abs=1e-9)
    assert all(s["codegen_s"] >= 0 for s in tracer.spans)
    layers = bench.query_layers(
        tracer.spans, _live_events(spark, everything["jobs"]))
    for name in names:
        phases = {s["name"]: s for s in tracer.spans if s["query"] == name}
        assert set(phases) == {"build", "exec"}
        wall = sum(s["end"] - s["start"] for s in phases.values())
        assert wall == pytest.approx(timings[name], abs=1e-9)
        recorded = layers[name]["build"]["wall_s"] + layers[name]["exec"]["wall_s"]
        assert recorded == pytest.approx(timings[name], abs=0.002)
        # both entries open parquet tables without a schema: inferring it
        # runs a Spark job while the plan is built
        assert layers[name]["build"]["jobs"] >= 1
        assert layers[name]["exec"]["jobs"] >= 1
    attributed = sum(p["jobs"] for q in layers.values() for p in q.values())
    assert attributed == len(everything["jobs"])
