"""End-to-end change pipeline: change feed -> allowlist projection -> JSON
envelope -> HTTP sink with classified retry + LastError state (reference
ExecuteTriggerHelper.cs:28-158 + HttpPostAction.cs:33-87)."""

from __future__ import annotations

import http.server
import json
import threading

import pytest

from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.config import EngineSettings
from sqldataintegrationfunctiontriggerapp_spark.sinks.http_sink import (
    FatalSinkError,
    HttpSink,
    RetryableSinkError,
    classify_status,
    truncate_error,
)
from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import (
    batch_changes,
    latest_state_per_key,
)
from sqldataintegrationfunctiontriggerapp_spark.state import StateStore
from sqldataintegrationfunctiontriggerapp_spark.streaming.pipeline import ChangePipeline


class _Handler(http.server.BaseHTTPRequestHandler):
    status_plan: list[int] = [200]
    received: list[list] = []

    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers["Content-Length"]))
        _Handler.received.append(json.loads(body))
        status = _Handler.status_plan.pop(0) if len(_Handler.status_plan) > 1 else _Handler.status_plan[0]
        self.send_response(status)
        self.send_header("Content-Length", "2")
        self.end_headers()
        self.wfile.write(b"ok")

    def log_message(self, *a):  # silence
        pass


@pytest.fixture()
def http_server():
    _Handler.status_plan = [200]
    _Handler.received = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", _Handler
    srv.shutdown()


@pytest.fixture()
def pipeline(spark, tmp_path, http_server):
    base_url, handler = http_server
    settings = EngineSettings(allowed_columns={"events": "event_id,user_id,event_type"})
    state = StateStore(spark, str(tmp_path / "state"))
    sink = HttpSink(base_url=base_url, max_attempts=2, sleeper=lambda s: None)
    return ChangePipeline(settings, state, sink), handler, state


def test_classify_status_matrix():
    # A8: HttpPostAction.cs:74-83
    assert classify_status(200) == "success"
    assert classify_status(204) == "success"
    for s in (408, 429, 500, 503, 599):
        assert classify_status(s) == "retryable"
    for s in (400, 401, 403, 404, 418):
        assert classify_status(s) == "fatal"


def test_truncate_error_500_chars():
    assert truncate_error("x" * 1000) == "x" * 500  # A9


def test_end_to_end_post_projects_and_envelopes(spark, sf_dir, pipeline):
    pipe, handler, state = pipeline
    ev = load_table(spark, sf_dir, "events")
    batch = batch_changes(ev, "ts", "2024-01-28", operation="Update")
    n = pipe.process_batch(batch, "events")
    assert n == batch.count() > 0
    assert len(handler.received) == 1
    doc = handler.received[0][0]
    # envelope: {"operation": ..., "item": {allowlisted columns only}}
    assert doc["operation"] == "Update"
    assert set(doc["item"].keys()) == {"event_id", "user_id", "event_type"}


def test_client_allowlist_unions_with_config(spark, sf_dir, pipeline):
    pipe, handler, state = pipeline
    state.save_allowed_columns("events", "value")
    assert pipe.resolve_allowlist("[events]") == {
        "event_id", "user_id", "event_type", "value"
    }


def test_failure_records_last_error_and_reraises(spark, sf_dir, pipeline):
    pipe, handler, state = pipeline
    handler.status_plan = [404]
    ev = load_table(spark, sf_dir, "events").limit(3)
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import with_operation

    with pytest.raises(FatalSinkError):
        pipe.process_batch(with_operation(ev), "events")
    # A10: LastError recorded, keyed by normalized table name
    assert "status=404" in state.get("LastError", "events")
    assert pipe.last_outcome == {"table": "events", "ok": False, "retryable": False}


def test_retryable_backoff_then_raise(spark, sf_dir, pipeline):
    """Executor-side POST path: the 503 classification must survive the trip
    back to the driver (post_partitions re-raises with the fatal-vs-retryable
    signal intact). Backoff TIMING is asserted driver-side in
    test_backoff_schedule_first_10s below -- the executor's sleeper is a
    pickled copy the test process cannot record."""
    pipe, handler, state = pipeline
    handler.status_plan = [503, 503]
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import with_operation

    ev = load_table(spark, sf_dir, "events").limit(2)
    with pytest.raises(RetryableSinkError):
        pipe.process_batch(with_operation(ev), "events")
    # max_attempts=2: initial try + 1 backed-off retry reached the server
    assert len(handler.received) == 2
    assert pipe.last_outcome["retryable"] is True
    assert "status=503" in state.get("LastError", "events")


def test_process_batch_posts_executor_side_only(spark, sf_dir, pipeline):
    """Deployment-path pin (VERDICT r11 #6): ChangePipeline.process_batch
    must route through the executor-side post_partitions path -- a
    multi-partition batch must arrive as one POST per partition (no
    driver fan-in)."""
    pipe, handler, state = pipeline
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import (
        with_operation,
    )

    ev = with_operation(
        load_table(spark, sf_dir, "events").limit(40).repartition(4)
    )
    n = pipe.process_batch(ev, "events")
    assert n == 40
    # 4 non-empty partitions, chunk_rows=500 > 10 rows each -> exactly one
    # POST per partition; a driver-side collect would have produced 1
    assert len(handler.received) == 4
    assert sum(len(req) for req in handler.received) == 40


def _small_batch(spark, n):
    return spark.createDataFrame(
        [(i, i % 3, "click", float(i), "Insert") for i in range(n)],
        "event_id long, user_id long, event_type string, value double, "
        "operation string",
    )


def test_process_batch_runs_one_spark_job(spark, pipeline, count_jobs):
    """A micro-batch runs exactly one Spark job, the sink's: resolving the
    allowlist from entity state is a driver-side read."""
    pipe, handler, state = pipeline
    state.save_allowed_columns("events", "value")
    batch = _small_batch(spark, 5)
    assert count_jobs(pipe.process_batch, batch, "events") == (5, 1)
    assert sum(len(req) for req in handler.received) == 5


def test_allowlist_saved_between_batches_applies_to_next(spark, pipeline):
    """No allowlist cache: a client allowlist saved between two batches
    (ClientAllowedColumnsFunction.cs:16-26) shapes the second batch, as the
    reference's per-invocation entity read does (ExecuteTriggerHelper.cs:49)."""
    pipe, handler, state = pipeline
    pipe.process_batch(_small_batch(spark, 3), "events")
    first = [doc["item"] for req in handler.received for doc in req]
    handler.received.clear()
    state.save_allowed_columns("events", "value")
    pipe.process_batch(_small_batch(spark, 3), "events")
    second = [doc["item"] for req in handler.received for doc in req]
    assert {tuple(sorted(i)) for i in first} == {
        ("event_id", "event_type", "user_id")}
    assert {tuple(sorted(i)) for i in second} == {
        ("event_id", "event_type", "user_id", "value")}


def test_backoff_schedule_first_10s(http_server):
    """A15 first backoff = 10 s (RetryFunctions.cs:44), asserted against the
    driver-side post path where the sleeper is observable."""
    base_url, handler = http_server
    handler.status_plan = [503, 503]
    sleeps: list[float] = []
    sink = HttpSink(base_url=base_url, max_attempts=2, sleeper=sleeps.append)
    with pytest.raises(RetryableSinkError):
        sink.post_payloads(["{}"])
    assert sleeps == [10.0]


def test_batch_changes_watermark_and_cap(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    capped = batch_changes(ev, "ts", "2024-01-01", max_batch_rows=10,
                           order_cols=["ts", "event_id"])
    assert capped.count() == 10  # Sql_Trigger_MaxBatchSize analog
    assert "operation" in capped.columns


def test_latest_state_per_key(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    latest = latest_state_per_key(ev, "user_id", ["ts", "event_id"])
    assert latest.count() == ev.select("user_id").distinct().count()
