"""Keyed state store (EntityFunctions.cs), retry controller
(RetryFunctions.cs), notifier throttling (NotifyFunctions.cs), retention GC
(CleanupFunction.cs)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from pathlib import Path

from sqldataintegrationfunctiontriggerapp_spark.config import EngineSettings
from sqldataintegrationfunctiontriggerapp_spark.maintenance import (
    clean_orphan_state,
    purge_history,
)
from sqldataintegrationfunctiontriggerapp_spark.retry import (
    Notifier,
    RetryController,
    SingletonRegistry,
    rearm_attempt_count,
    timed_out,
)
from sqldataintegrationfunctiontriggerapp_spark.state import (
    _PART_SCHEMA,
    StateStore,
    _local_df,
    key_bucket,
)


def test_state_upsert_and_point_lookup(spark, tmp_path):
    st = StateStore(spark, str(tmp_path / "state"))
    assert st.get_allowed_columns("t1") is None
    st.save_allowed_columns("t1", "a,b")
    st.save_last_error("t1", "boom")
    st.save_allowed_columns("t1", "a,b,c")  # last-writer-wins
    assert st.get_allowed_columns("t1") == "a,b,c"
    assert st.get("LastError", "t1") == "boom"
    assert st.as_dataframe().count() == 2  # one row per (entity, key)


def test_state_upsert_leaves_other_partitions_untouched(spark, tmp_path):
    """The bucketed layout's point: upserting one key must not rewrite files
    belonging to other (entity_type, bucket) partitions (VERDICT.md next #6)."""
    import os

    st = StateStore(spark, str(tmp_path / "state"))
    st.save_allowed_columns("t1", "a,b")
    st.save_last_error("t2", "boom")

    def files_of(entity, key):
        d = st._partition_dir(entity, key)
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_t1 = files_of("AllowedColumns", "t1")
    before_t2 = files_of("LastError", "t2")
    st.save_last_error("t2", "boom again")  # different entity partition
    assert files_of("AllowedColumns", "t1") == before_t1  # bytes untouched
    assert files_of("LastError", "t2") != before_t2       # target rewritten
    assert st.get_allowed_columns("t1") == "a,b"
    assert st.get("LastError", "t2") == "boom again"


def test_state_upsert_incoming_wins_under_clock_skew(spark, tmp_path):
    """Last-writer-wins is CALL order, not stored-timestamp order (ADVICE
    r06 #2): an existing row stamped in the FUTURE (skewed writer clock)
    must still lose to the incoming upsert, exactly like a durable entity
    applying operations in arrival order (EntityFunctions.cs:17-21). Also
    pins the same-key collision path: two rows for one key in the partition
    (a crashed writer's leftover) collapse to the incoming value."""
    from datetime import datetime

    from sqldataintegrationfunctiontriggerapp_spark.state import (
        _PART_SCHEMA,
        _local_df,
    )

    st = StateStore(spark, str(tmp_path / "state"))
    st.save_last_error("t1", "old")
    part_dir = st._partition_dir("LastError", "t1")
    # plant a future-stamped row for the SAME key next to the real one
    future = datetime(2999, 1, 1)
    _local_df(spark, [("t1", "from the future", future)], _PART_SCHEMA) \
        .write.mode("append").parquet(part_dir)
    st.save_last_error("t1", "incoming")
    assert st.get("LastError", "t1") == "incoming"
    # one row per key survives the merge, future stamp notwithstanding
    rows = st.as_dataframe().where("key = 't1'").collect()
    assert len(rows) == 1 and rows[0]["value"] == "incoming"


def test_state_get_runs_no_spark_job(spark, tmp_path, count_jobs):
    """Point reads are driver-side: the allowlist lookup every micro-batch
    makes must not plan or run a Spark job."""
    st = StateStore(spark, str(tmp_path / "state"))
    st.save_allowed_columns("t1", "a,b")
    sc = spark.sparkContext
    sc.setJobDescription("allowlist reads")
    try:
        assert count_jobs(st.get_allowed_columns, "t1") == ("a,b", 0)
        assert count_jobs(st.get_allowed_columns, "missing") == (None, 0)
        # count_jobs leaves the caller's job description as it found it
        assert sc.getLocalProperty("spark.job.description") == "allowlist reads"
    finally:
        sc.setLocalProperty("spark.job.description", None)


def test_state_upsert_leaves_bucket_neighbours_exact(spark, tmp_path):
    """The upsert rewrites its whole (entity_type, bucket) partition, so the
    other keys in that bucket are read and written back: each must keep its
    value AND its updated_at to the microsecond, including a stamp past
    year 2262 (out of range for nanosecond timestamps)."""
    keys = [f"t{i}" for i in range(200)]
    a, b, c = [k for k in keys if key_bucket(k) == key_bucket(keys[0])][:3]
    st = StateStore(spark, str(tmp_path / "state"))
    st.save_allowed_columns(a, "a0")
    st.save_allowed_columns(b, "b0")
    _local_df(spark, [(c, None, datetime(2999, 1, 1, 0, 0, 0, 123456))],
              _PART_SCHEMA).write.mode("append").parquet(
                  st._partition_dir("AllowedColumns", c))

    def rows():
        return {r["key"]: (r["value"], r["updated_at"])
                for r in st.as_dataframe().collect()}

    before = rows()
    st.save_allowed_columns(a, "a1")
    after = rows()
    assert after[a][0] == "a1"
    assert {k: after[k] for k in (b, c)} == {k: before[k] for k in (b, c)}
    assert before[c] == (None, datetime(2999, 1, 1, 0, 0, 0, 123456))
    assert st.get_allowed_columns(b) == "b0"


def test_state_get_missing_or_empty_partition_is_none(spark, tmp_path):
    """No directory, a directory holding only Spark's side files, and one
    holding an empty part file all read as 'no value'."""
    st = StateStore(spark, str(tmp_path / "state"))
    assert st.get("LastError", "t1") is None
    part_dir = Path(st._partition_dir("LastError", "t1"))
    part_dir.mkdir(parents=True)
    (part_dir / "_SUCCESS").write_bytes(b"")
    (part_dir / "._SUCCESS.crc").write_bytes(b"crc")
    assert st.get("LastError", "t1") is None
    _local_df(spark, [], _PART_SCHEMA).write.mode("overwrite").parquet(
        str(part_dir))
    assert st.get("LastError", "t1") is None


def test_cli_shim_get_set(spark, tmp_path):
    """ClientAllowedColumnsFunction.cs:16-56 analog: set then get through the
    CLI surface; missing key maps to rc=1 (the 404 path)."""
    from sqldataintegrationfunctiontriggerapp_spark import cli

    path = str(tmp_path / "state")
    p = cli.build_parser()
    rc, _ = cli.run(p.parse_args(
        ["allowed-columns", "set", "--state-path", path,
         "--table", "events", "--columns", "a,b"]), spark)
    assert rc == 0
    rc, val = cli.run(p.parse_args(
        ["allowed-columns", "get", "--state-path", path, "--table", "events"]),
        spark)
    assert (rc, val) == (0, "a,b")
    rc, val = cli.run(p.parse_args(
        ["last-error", "get", "--state-path", path, "--table", "events"]),
        spark)
    assert (rc, val) == (1, None)


def test_backoff_capped_linear():
    s = EngineSettings()
    # A12 (RetryFunctions.cs:30-33): 6, 7, ..., capped at 12
    assert [s.backoff_minutes(n) for n in (0, 1, 5, 6, 99)] == [6, 7, 11, 12, 12]


def test_settings_from_env_binds_reference_names():
    """Program.cs:34-42 binding: AllowedColumns_{table} by prefix (the
    table name keeps its case), ints parsed, unset names keep defaults."""
    s = EngineSettings.from_env({
        "AllowedColumns_Events": "Event_Type,Value",
        "AllowedColumns_orders": "o_orderkey",
        "AllowedColumnsEvents": "not a prefix match",
        "RetryIntervalMinutesFirst": "2",
        "NotifyOnRetryCount": "9",
        "HttpPostBaseUrl": "http://sink.example:8080",
    })
    assert s.allowed_columns == {"Events": "Event_Type,Value",
                                 "orders": "o_orderkey"}
    assert s.retry_interval_minutes_first == 2
    assert s.notify_on_retry_count == 9
    assert s.http_base_url == "http://sink.example:8080"
    assert s.retry_interval_minutes_max == 12
    assert s.total_retry_timeout_hours == 168
    assert s.backoff_minutes(0) == 2


def test_timeout_and_rearm():
    now = datetime(2026, 1, 10, tzinfo=timezone.utc)
    assert timed_out(now - timedelta(hours=169), 168, now)  # A19
    assert not timed_out(now - timedelta(hours=167), 168, now)
    assert rearm_attempt_count(5) == 4  # A18
    assert rearm_attempt_count(3) is None


def test_retry_loop_stops_on_success_and_notifies_on_threshold():
    settings = EngineSettings(notify_on_retry_count=2)
    counts = [5, 3, 2, None]  # A16 probe results; None => success, stop
    notifier = Notifier()
    rearmed = []
    ctl = RetryController(
        settings,
        "t1",
        probe_attempt_count=lambda: counts.pop(0),
        rearm=rearmed.append,
        notifier=notifier,
        sleeper=lambda s: None,
        clock=lambda: datetime.now(timezone.utc),
    )
    iters = ctl.run_retry_loop()
    assert iters == 3  # stopped when probe returned None (A17)
    assert rearmed == [4]  # count==5 re-armed once (A18)
    assert notifier.sent == [("t1", "retry #2 for t1")]  # A20 threshold


def test_notifier_throttles_six_hours():
    t = [datetime(2026, 1, 1, 0, 0, tzinfo=timezone.utc)]
    n = Notifier(throttle_minutes=360, clock=lambda: t[0])
    assert n.notify("k", "m1") is True
    t[0] += timedelta(minutes=359)
    assert n.notify("k", "m2") is False  # suppressed (A22)
    t[0] += timedelta(minutes=2)
    assert n.notify("k", "m3") is True   # window passed
    assert n.notify("k", "m4", throttled=False) is True  # A20 path untouched


def test_singleton_registry():
    reg = SingletonRegistry()
    a, started_a = reg.start("t1", lambda: object())
    b, started_b = reg.start("t1", lambda: object())
    assert started_a and not started_b and a is b  # A21
    reg.finish("t1")
    _, started_c = reg.start("t1", lambda: object())
    assert started_c


def test_purge_history(spark):
    now = datetime(2026, 1, 31)
    rows = [
        ("Completed", now - timedelta(days=8)),    # purged (>7d)
        ("Completed", now - timedelta(days=2)),    # kept
        ("Failed", now - timedelta(days=31)),      # purged (>30d)
        ("Failed", now - timedelta(days=10)),      # kept (intended semantics)
        ("Running", now - timedelta(days=100)),    # kept (status not purgeable)
    ]
    log = spark.createDataFrame(rows, "status string, created_at timestamp")
    kept = purge_history(log, now, completed_days=7, failed_days=30)
    assert sorted((r.status, r.created_at) for r in kept.collect()) == sorted(
        [rows[1], rows[3], rows[4]]
    )


def test_clean_orphan_state(spark):
    state = spark.createDataFrame(
        [("t1", 1), ("t2", 2), ("gone", 3)], "key string, value int"
    )
    # "t1" listed twice; "new" is live but has no state yet
    live = spark.createDataFrame(
        [("t1",), ("t1",), ("t2",), ("new",)], "key string"
    )
    kept = clean_orphan_state(state, live)
    assert kept.columns == ["key", "value"]
    assert sorted(tuple(r) for r in kept.collect()) == [("t1", 1), ("t2", 2)]
