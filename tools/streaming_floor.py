"""Streaming parity family floor table (VERDICT r15 #7): run each
streaming_* entry once in ONE session (suite-like: shared staging, warm
JVM) and record, per entry, the wall time plus every micro-batch's
recentProgress durations (triggerExecution / addBatch / queryPlanning,
the offset log's latestOffset + getBatch, the commit logs' walCommit +
commitOffsets) captured session-wide by a
StreamingQueryListener. The table separates the per-entry floor --
Structured Streaming's own query-lifecycle machinery (start: incremental
plan + state-store init + offset log; per batch: planning + addBatch +
commit; stop) -- from anything the entry's own plan could still save.

Usage: python tools/streaming_floor.py [sf_dir]
Prints one line per entry:
  FLOOR <name>: wall=..s n_queries=N n_batches=B trigger_ms=[..]
  addbatch_ms=[..] plan_ms=[..] offset_ms=[..] commit_ms=[..] rows=[..]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener


class _Collector(StreamingQueryListener):
    def __init__(self):
        self.progress = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        self.progress.append(
            {
                "id": str(p.id),
                "batchId": p.batchId,
                "trigger": d.get("triggerExecution"),
                "addBatch": d.get("addBatch"),
                "plan": d.get("queryPlanning"),
                "offset": (d.get("latestOffset") or 0)
                + (d.get("getBatch") or 0),
                "commit": (d.get("commitOffsets") or 0)
                + (d.get("walCommit") or 0),
                "rows": p.numInputRows,
            }
        )

    def onQueryTerminated(self, event):
        pass

    def onQueryIdle(self, event):
        pass


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)

    from sqldataintegrationfunctiontriggerapp_spark import plans
    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        stage_ledger_tick,
    )
    from sqldataintegrationfunctiontriggerapp_spark.session import get_session

    spark = get_session(app_name="streaming_floor")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    col = _Collector()
    spark.streams.addListener(col)
    names = [n for n in plans.QUERIES if n.startswith("streaming_")]
    for name in names:
        n0 = len(col.progress)
        t0 = time.time()
        plans.QUERIES[name](spark, sf_dir).write.mode(
            "overwrite").format("noop").save()
        wall = time.time() - t0
        # listener events are delivered asynchronously; drain briefly
        time.sleep(0.5)
        mine = col.progress[n0:]
        qids = sorted({m["id"] for m in mine})
        print(
            f"FLOOR {name}: wall={wall:.2f}s"
            f" n_queries={len(qids)} n_batches={len(mine)}"
            f" trigger_ms={[m['trigger'] for m in mine]}"
            f" addbatch_ms={[m['addBatch'] for m in mine]}"
            f" plan_ms={[m['plan'] for m in mine]}"
            f" offset_ms={[m['offset'] for m in mine]}"
            f" commit_ms={[m['commit'] for m in mine]}"
            f" rows={[m['rows'] for m in mine]}",
            flush=True,
        )
        spark.catalog.clearCache()
        stage_ledger_tick(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
