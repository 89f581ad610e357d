"""Tests of the benchmark harness itself (no Spark needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import urllib.error
import urllib.request

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import fixtures, run, trace  # noqa: E402
from perfbench.receiver import Receiver, check_delivery  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    DECLARED = json.load(_f)


# -- the percentile rule: the highest quantile with >= 10 samples beyond --

@pytest.mark.parametrize("n,q", [
    (19, 0.5), (20, 0.5), (39, 0.5), (40, 0.75), (99, 0.75), (100, 0.9),
    (199, 0.9), (200, 0.95), (999, 0.95), (1000, 0.99),
])
def test_tail_quantile_leaves_ten_samples_beyond(n, q):
    xs = list(range(1, n + 1))
    got_q, v = trace.tail(xs)
    assert got_q == q
    if n >= 20:
        assert sum(1 for x in xs if x > v) >= 10
        # and no higher listed quantile would still leave ten beyond
        for h in (h for h in trace.TAIL_QUANTILES if h > q):
            assert n - math.ceil(h * n) < 10


def test_tail_below_twenty_samples_is_the_median():
    assert trace.tail([3.0, 1.0, 2.0]) == (0.5, 2.0)
    assert trace.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_event_log_attributes_tasks_and_python_metrics(tmp_path):
    plan = {"nodeName": "MapInPandas", "metrics": [
        {"name": "number of output rows", "accumulatorId": 7},
        {"name": "time to run Python workers", "accumulatorId": 8},
    ], "children": [{"nodeName": "Scan parquet", "children": [], "metrics": [
        {"name": "number of output rows", "accumulatorId": 9}]}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
         "Stage Infos": [{"Stage ID": 4}],
         "Properties": {"spark.jobGroup.id": "g", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {
            "Executor Run Time": 30, "Executor CPU Time": 2_000_000,
            "JVM GC Time": 1, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Local Bytes Read": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 6}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 4, "Accumulables": [
                {"ID": 7, "Value": "250"}, {"ID": 8, "Value": "40"},
                {"ID": 9, "Value": "999"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1500},
    ]
    # a rolling log: a directory of numbered event files
    (tmp_path / "eventlog_v2_app").mkdir()
    (tmp_path / "eventlog_v2_app" / "events_1_app").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    out = trace.parse_event_log(str(tmp_path))
    job = out["jobs"][1]
    assert (job["submit"], job["end"], job["group"], job["sql_exec"]) == (1.0, 1.5, "g", 3)
    assert (job["stages"], job["tasks"], job["run_ms"], job["cpu_ns"]) == (1, 1, 30, 2_000_000)
    assert (job["shuffle_read"], job["shuffle_write"]) == (5, 6)
    assert out["python"] == {3: {"rows": 250.0, "run_ms": 40.0}}


def test_spans_nest_and_carry_the_run_id():
    t = trace.Tracer("r1", enabled=True)
    with t.span("drain"):
        with t.span("process_batch"):
            pass
    d, p = t.by_name("drain")[0], t.by_name("process_batch")[0]
    assert d["parent"] is None and p["parent"] == d["id"] and p["run"] == "r1"
    assert d["start"] <= p["start"] <= p["end"] <= d["end"]
    off = trace.Tracer("r2", enabled=False)
    with off.span("drain") as rec:
        assert rec is None
    assert off.spans == []


def test_usage_counts_cpu_of_child_processes():
    import subprocess

    before, steal0 = trace.usage(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(10**7))"], check=True)
    after, steal1 = trace.usage(os.getpid())
    assert after - before > 0.05
    assert steal1 >= steal0 >= 0


def test_covered_merges_overlapping_jobs():
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.covered([(-1, 1)], 0, 10) == 1


# -- the receiver's delivery check --

KEYS = ["event_id"]
ALLOW = {"event_id", "ts"}


def _body(records) -> bytes:
    return json.dumps(records).encode()


def _rec(i, **extra):
    return {"operation": "Update", "item": {"event_id": i, "ts": "t", **extra}}


def test_check_passes_on_exact_delivery():
    out = check_delivery([_body([_rec(1), _rec(2)]), _body([_rec(3)])],
                         KEYS, ALLOW, {(1,), (2,), (3,)})
    assert out["ok"] and out["rows"] == 3


def test_check_catches_a_dropped_row():
    out = check_delivery([_body([_rec(1), _rec(2)])], KEYS, ALLOW,
                         {(1,), (2,), (3,)})
    assert not out["ok"] and out["missing"] == 1


def test_check_catches_an_extra_column():
    out = check_delivery([_body([_rec(1), _rec(2, value=1.5)])], KEYS, ALLOW,
                         {(1,), (2,)})
    assert not out["ok"] and out["bad_columns"] == 1


def test_check_catches_a_duplicate():
    out = check_delivery([_body([_rec(1), _rec(2)]), _body([_rec(2)])],
                         KEYS, ALLOW, {(1,), (2,)})
    assert not out["ok"] and out["duplicates"] == 1


def test_check_catches_a_missing_operation():
    rec = _rec(1)
    del rec["operation"]
    out = check_delivery([_body([rec])], KEYS, ALLOW, {(1,)})
    assert not out["ok"] and out["no_operation"] == 1


def _post(url, data):
    req = urllib.request.Request(url + "/post", data=data, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            return r.status
    except urllib.error.HTTPError as e:
        return e.code


def test_receiver_rejects_first_delivery_then_accepts_retry():
    rcv = Receiver(seed=3, reject_share=1.0)
    try:
        body = _body([_rec(1)])
        assert _post(rcv.url, body) == 503
        assert _post(rcv.url, body) == 200
        assert rcv.stats() == {"posts": 2, "rejected": 1,
                               "bytes": 2 * len(body), "bodies": 1}
        rcv.reset()
        assert rcv.stats()["posts"] == 0
    finally:
        rcv.close()


def test_receiver_rejections_are_seeded():
    a, b = Receiver(seed=1), Receiver(seed=1)
    try:
        bodies = [_body([_rec(i)]) for i in range(200)]
        assert [a.accept(x) for x in bodies] == [b.accept(x) for x in bodies]
        assert 0 < a.rejected < 40
    finally:
        a.close()
        b.close()


# -- seeded inputs --

def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_staged_change_files_are_seed_deterministic(tmp_path):
    def stage(seed, sub):
        ev = fixtures.make_tables(0.001, seed, only=["events"])["events"]
        return fixtures.stage_change_files(ev, str(tmp_path / sub), 300)

    a, b, c = stage(5, "a"), stage(5, "b"), stage(6, "c")
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    assert len(a) == 4
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


# -- printed metric names are the declared ones --

class _NoSpans:
    spans: list = []

    def by_name(self, name):
        return []


def _res(*passes):
    return {"passes": [{"wall": w, "ops": ops, "cpu_s": cpu, "steal_s": steal}
                       for w, ops, cpu, steal in passes],
            "progress": [], "sink": []}


def test_end_to_end_names_match_declaration():
    e2e = run.end_to_end(_res((1.0, [0.1] * 15, 2.0, 0.0),
                              (1.2, [0.1] * 15, 2.0, 0.0)), 5.0, 100.0)
    assert set(e2e) == {m["name"] for m in DECLARED["end_to_end"]}
    assert all(v > 0 for v in e2e.values())


def test_end_to_end_times_are_net_of_steal():
    # a pass whose processes got 3 of the 4 CPU seconds they were runnable
    # for counts 3/4 of its wall and latencies; a steal-free pass counts whole
    e2e = run.end_to_end(_res((2.0, [0.4, 0.8], 3.0, 1.0),
                              (1.0, [0.3], 2.0, 0.0)), 5.0, 100.0)
    assert e2e["wall_s"] == pytest.approx(1.25)
    assert e2e["op_p50_s"] == pytest.approx(0.3)
    assert trace.net_of_steal(2.0, 0.0, 0.0) == 2.0


def test_query_passes_report_per_entry_medians():
    # entry a: 1.0, 1.2, 5.0 s (one slow outlier); entry b: 0.2 s every time.
    # wall_s sums the entries' medians, op_p50_s is the median of them, and
    # each latency is netted by the CPU/steal recorded around that query
    res = _res((6.2, [1.0, 0.2], 3.0, 0.0), (1.4, [1.2, 0.2], 3.0, 0.0),
               (5.2, [5.0, 0.2], 3.0, 0.0))
    res["queries"] = ["a", "b"]
    for p in res["passes"]:
        p["op_use"] = [[1.0, 0.0], [1.0, 0.0]]
    e2e = run.end_to_end(res, 5.0, 100.0)
    assert e2e["wall_s"] == pytest.approx(1.4)
    assert e2e["op_p50_s"] == pytest.approx(0.7)
    res["passes"][1]["op_use"][0] = [3.0, 1.0]  # a got 3 of 4 CPU seconds
    assert run.end_to_end(res, 5.0, 100.0)["wall_s"] == pytest.approx(1.2)


def test_per_layer_names_match_declaration():
    res = _res((1.0, [0.1], 1.0, 0.0))
    e2e = run.end_to_end(res, 5.0, 100.0)
    layers = run.layer_metrics(res, _NoSpans(), None, 1.0, e2e)
    assert set(layers) == {m["name"] for m in DECLARED["per_layer"]}


def test_every_workload_has_a_spec():
    with open(os.path.join(ROOT, "perfbench", "workloads.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in DECLARED["workloads"]] == list(spec)
    for w in DECLARED["workloads"]:
        assert w["why"] == spec[w["name"]]["why"]
