"""Spans, percentiles, memory and Spark event-log parsing for the benchmark.

Spans are recorded in memory by the benchmark's own code around each call
into an engine layer, and written out when the run ends. The Spark event
log is parsed only after the timed loop, so parsing adds nothing to it.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import time
from contextlib import contextmanager

TAIL_QUANTILES = (0.99, 0.95, 0.9, 0.75, 0.5)


def median(xs) -> float:
    s = sorted(xs)
    if not s:
        return 0.0
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail(xs) -> tuple[float, float]:
    """(q, value): the highest of TAIL_QUANTILES that leaves at least ten
    samples beyond it, by nearest rank. Below 20 samples no quantile
    qualifies and the median is returned with q = 0.5."""
    s = sorted(xs)
    n = len(s)
    for q in TAIL_QUANTILES:
        rank = math.ceil(q * n)
        if n - rank >= 10:
            return q, s[rank - 1]
    return 0.5, median(s)


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def _stat_fields(pid: str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def usage(root: int) -> tuple[float, float]:
    """(cpu_s, steal_s): CPU seconds used so far by ``root`` and its live
    descendants (user + system, with their reaped children), and the
    machine's steal so far. Deltas around a pass give its CPU cost, and
    how much CPU time was withheld while it ran."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat_fields(name)
        except OSError:
            continue  # exited while listing
        children.setdefault(int(f[1]), []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK"), steal_s()


def steal_s() -> float:
    """Seconds of CPU time the hypervisor has withheld from this machine,
    summed over its CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def net_of_steal(seconds: float, cpu_s: float, steal: float) -> float:
    """``seconds`` less the share the hypervisor withheld: scaled by
    cpu / (cpu + steal), the part of the CPU time our processes were
    runnable for that they got. An idle CPU accrues no steal, so the steal
    over an interval where the benchmark is all that runs is taken from it.
    On a shared host steal moves from ~0 to ~40% of that demand between
    runs a minute apart, and raw times with it (up to 1.8x); net of it,
    a run's times stay put."""
    return seconds * cpu_s / (cpu_s + steal) if cpu_s + steal > 0 else seconds


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a no-op
    apart from the yield, so untraced runs carry no tracing work."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        # one stack for all threads: a foreachBatch body runs on a py4j
        # callback thread while the thread that started the drain waits,
        # so its spans nest under that drain
        self._stack: list[dict] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, sc=None, **attrs):
        """Record one span; with ``sc`` the span's Spark jobs run under a
        job group named after it, and their ids are read when it ends."""
        if not self.enabled:
            yield None
            return
        self._seq += 1
        st = self._stack
        rec = {"id": self._seq, "name": name, "run": self.run_id,
               "parent": st[-1]["id"] if st else None, **attrs}
        group = f"{self.run_id}:{self._seq}"
        if sc is not None:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        st.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            st.pop()
            if sc is not None:
                # read before spark.ui.retainedJobs can evict them
                rec["jobs"] = sorted(sc.statusTracker().getJobIdsForGroup(group))
                rec["group"] = group
                if prev:
                    sc.setJobGroup(prev, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


_PY_NODE = re.compile(r"Pandas|Python|MapInArrow")


def _log_files(log_dir: str) -> list[str]:
    """Event-log files in write order; a rolling log is a directory of
    events_<n>_<app> files next to an appstatus marker."""
    out = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isdir(path):
            out.append(path)
            continue
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        parts.sort(key=lambda n: int(n.split("_")[1]))
        out.extend(os.path.join(path, n) for n in parts)
    return out


# SQL metrics of a Python-boundary node, by the name this module reports
_PY_METRICS = {"number of output rows": "rows",
               "time to run Python workers": "run_ms"}


def parse_event_log(log_dir: str) -> dict:
    """Per-job facts from a Spark event log: submission/completion times,
    stage and task counts, summed task metrics, the job's group and SQL
    execution id; plus, per SQL execution, the output rows and worker run
    time of its Python-boundary nodes (MapInPandas, ArrowEvalPython, ...).

    Returns {"jobs": {job_id: {...}},
             "python": {execution_id: {"rows": n, "run_ms": ms}}}.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_accum: dict[int, tuple] = {}  # accumulator id -> (execution id, key)
    accum_val: dict[int, float] = {}

    def walk(node, exec_id):
        if _PY_NODE.search(node.get("nodeName", "")):
            for m in node.get("metrics", []):
                if m["name"] in _PY_METRICS:
                    py_accum[m["accumulatorId"]] = (exec_id, _PY_METRICS[m["name"]])
        for ch in node.get("children", []):
            walk(ch, exec_id)

    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    for s in ev.get("Stage Infos", []):
                        stage_job[s["Stage ID"]] = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    sql_exec = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = {
                        "submit": ev.get("Submission Time", 0) / 1000,
                        "end": None, "stages": 0, "tasks": 0,
                        "group": props.get("spark.jobGroup.id"),
                        "sql_exec": int(sql_exec) if sql_exec else None,
                        "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                        "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    j = jobs.get(stage_job.get(info["Stage ID"]))
                    if j is not None:
                        j["stages"] += 1
                    for acc in info.get("Accumulables", []):
                        try:
                            accum_val[acc["ID"]] = accum_val.get(
                                acc["ID"], 0) + float(acc["Value"])
                        except (TypeError, ValueError, KeyError):
                            pass
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics") or {}
                    if j is None or not m:
                        continue
                    r = m.get("Shuffle Read Metrics", {})
                    w = m.get("Shuffle Write Metrics", {})
                    j["tasks"] += 1
                    j["run_ms"] += m.get("Executor Run Time", 0)
                    j["cpu_ns"] += m.get("Executor CPU Time", 0)
                    j["gc_ms"] += m.get("JVM GC Time", 0)
                    j["shuffle_read"] += (r.get("Remote Bytes Read", 0)
                                          + r.get("Local Bytes Read", 0))
                    j["shuffle_write"] += w.get("Shuffle Bytes Written", 0)
                    j["spill"] += m.get("Disk Bytes Spilled", 0)
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    walk(ev.get("sparkPlanInfo", {}), ev.get("executionId"))
    python: dict[int, dict] = {}
    for aid, (exec_id, key) in py_accum.items():
        per = python.setdefault(exec_id, {"rows": 0.0, "run_ms": 0.0})
        per[key] += accum_val.get(aid, 0)
    return {"jobs": jobs, "python": python}


def covered(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    tot, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            tot += b - a
            cur = b
    return tot
