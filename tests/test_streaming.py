"""Structured Streaming: checkpoint-gated at-least-once foreachBatch
delivery (A25), watermark windows, streaming dedup."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import stream_changes
from sqldataintegrationfunctiontriggerapp_spark.streaming.windows import (
    dedup_within_watermark,
    interval_join,
    session_windows,
    windowed_counts,
)


def test_stream_stream_interval_join_matches_batch(spark, events_stream_dir):
    """Purchases joined to the same user's views in the preceding hour --
    stream-stream with watermarks on both sides must equal the batch join."""
    path, schema = events_stream_dir

    def sides(df):
        views = df.where(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("l_ts")
        )
        purchases = df.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("r_ts")
        )
        return views, purchases

    lv, rp = sides(stream_changes(spark, path, schema).drop("operation"))
    joined = interval_join(lv, rp, watermark="30 days")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM ij_out").collect()
        bv, bp = sides(spark.read.schema(schema).parquet(path))
        expected = interval_join(bv, bp).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, expected))
        assert expected, "fixture slice should produce joined pairs"
    finally:
        q.stop()


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    # re-write a slice of events as a clean us-timestamp parquet dir the
    # streaming file source can read incrementally
    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events").limit(200)
    ev.coalesce(2).write.mode("overwrite").parquet(d)
    return d, ev.schema


def test_streaming_windowed_counts_match_batch(spark, events_stream_dir):
    path, schema = events_stream_dir
    stream = stream_changes(spark, path, schema).drop("operation")
    agg = windowed_counts(stream, "1 hour", watermark="30 days")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM win_out")
        batch = windowed_counts(spark.read.schema(schema).parquet(path), "1 hour")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
    finally:
        q.stop()


def test_foreach_batch_redelivery_on_failure(spark, events_stream_dir, tmp_path):
    """A25: a failing foreachBatch leaves the checkpoint unadvanced; the
    restarted query re-delivers the same micro-batch."""
    path, schema = events_stream_dir
    ckpt = str(tmp_path / "ckpt")
    seen: list[int] = []
    fail_first = {"armed": True}

    def fb(df, epoch):
        n = df.count()
        if fail_first["armed"]:
            fail_first["armed"] = False
            raise RuntimeError("simulated sink failure")
        seen.append(n)

    def run():
        q = (
            spark.readStream.schema(schema).parquet(path)
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    with pytest.raises(Exception, match="simulated sink failure"):
        run()
    assert seen == []  # nothing committed
    run()  # restart from checkpoint => same batch redelivered
    assert sum(seen) == 200


def test_staged_replay_is_time_split_and_ordered(spark, sf_dir):
    """The shared parity staging must hold: exactly 2 files, both non-empty,
    split by event time, with names AND mtimes forcing early-then-late
    replay. The order-sensitive throttle parity is only sound under these
    invariants (plans/windows.py _staged_events_dir)."""
    import glob
    import os

    from sqldataintegrationfunctiontriggerapp_spark.plans.windows import (
        _staged_events_dir,
    )

    d, _schema = _staged_events_dir(spark, sf_dir)
    files = sorted(glob.glob(os.path.join(str(d), "*.parquet")))
    assert len(files) == 2
    assert os.path.getmtime(files[0]) < os.path.getmtime(files[1])
    early = spark.read.parquet(files[0])
    late = spark.read.parquet(files[1])
    assert early.count() > 0 and late.count() > 0
    early_max = early.agg(F.max("ts")).first()[0]
    late_min = late.agg(F.min("ts")).first()[0]
    assert early_max < late_min


def _staged_files(d) -> list[str]:
    """Staged split files in name order, after checking mtimes agree."""
    import glob
    import os

    files = sorted(glob.glob(os.path.join(str(d), "*.parquet")))
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    return files


@pytest.fixture()
def private_stages(monkeypatch, tmp_path):
    """A stage memo (and staging dir) of the test's own: staging a
    throwaway sf_dir must not evict the session's shared fixture stages."""
    from sqldataintegrationfunctiontriggerapp_spark.plans import _util as U
    from sqldataintegrationfunctiontriggerapp_spark.plans import windows as W

    monkeypatch.setattr(U, "_STAGE_CACHE", {})
    monkeypatch.setattr(U, "_STAGE_META", {})
    monkeypatch.setattr(U, "_STAGE_ACTIVE", set())
    fast = tmp_path / "fast"
    fast.mkdir()
    monkeypatch.setattr(W, "_fast_tmp", lambda: str(fast))
    return fast


def _events_fixture(sf_dir, tmp_path, edit):
    """A throwaway sf_dir whose events.parquet is `edit(events)` (arrow)."""
    import os

    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    d.mkdir()
    table = edit(pq.read_table(os.path.join(sf_dir, "events.parquet")))
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


def test_staged_docs_split_is_id_ordered(spark, sf_dir):
    """The documents replay (plans/windows.py _staged_docs_dir): 2 files
    in mtime order, low doc_ids first, every doc_id exactly once -- the
    arrival order the curation/minhash/media oracles reconstruct as
    doc_id <= (min+max)//2."""
    from sqldataintegrationfunctiontriggerapp_spark.plans.windows import (
        _staged_docs_dir,
    )

    d, _schema = _staged_docs_dir(spark, sf_dir)
    files = _staged_files(d)
    assert len(files) == 2
    low, high = (
        [r.doc_id for r in spark.read.parquet(f).select("doc_id").collect()]
        for f in files
    )
    assert low and high and max(low) < min(high)
    ids = [r.doc_id for r in load_table(spark, sf_dir, "documents")
           .select("doc_id").collect()]
    assert sorted(low + high) == sorted(ids)
    assert len(set(ids)) == len(ids)


def test_staged_late_replay_parts(spark, sf_dir, tmp_path, private_stages):
    """The out-of-order replay (plans/windows.py _staged_late_replay_dir):
    3 files in mtime order, part 0 = the late time-half, parts 1/2 = the
    even/odd event_id early rows, their union = the events table, and
    NULL-ts rows ride with the early parts (the split is total)."""
    import pyarrow as pa

    from sqldataintegrationfunctiontriggerapp_spark.plans.windows import (
        _staged_late_replay_dir,
    )

    def add_null_ts_rows(events):
        top = max(events.column("event_id").to_pylist())
        extra = events.slice(0, 2).to_pydict()
        extra["event_id"] = [top + 1, top + 2]
        extra["ts"] = [None, None]
        return pa.concat_tables(
            [events, pa.table(extra, schema=events.schema)])

    fx = _events_fixture(sf_dir, tmp_path, add_null_ts_rows)
    d, _schema = _staged_late_replay_dir(spark, fx)
    files = _staged_files(d)
    assert len(files) == 3
    late, even, odd = (spark.read.parquet(f).collect() for f in files)
    assert late and even and odd
    assert all(r.ts is not None for r in late)
    assert all(r.event_id % 2 == 0 for r in even)
    assert all(r.event_id % 2 == 1 for r in odd)
    early_ts = [r.ts for r in even + odd if r.ts is not None]
    assert max(early_ts) < min(r.ts for r in late)
    assert [r.ts for r in even + odd].count(None) == 2
    events = load_table(spark, fx, "events").collect()
    assert sorted(map(tuple, late + even + odd), key=repr) == sorted(
        map(tuple, events), key=repr)


def test_stage_split_rejects_degenerate_span(spark, sf_dir, tmp_path,
                                             private_stages):
    """One distinct timestamp cannot be split by time: staging raises
    instead of handing the parities an empty micro-batch."""
    import pyarrow as pa

    from sqldataintegrationfunctiontriggerapp_spark.plans.windows import (
        _staged_events_dir,
    )

    def one_timestamp(events):
        head = events.slice(0, 5)
        ts = pa.array([head.column("ts")[0].as_py()] * 5,
                      type=head.schema.field("ts").type)
        return head.set_column(head.schema.get_field_index("ts"), "ts", ts)

    fx = _events_fixture(sf_dir, tmp_path, one_timestamp)
    with pytest.raises(ValueError, match="degenerate"):
        _staged_events_dir(spark, fx)


def test_replay_runner_cleans_up_after_failing_batch(
    spark, events_stream_dir, private_stages
):
    """_run_available_now's contract when the sink raises inside the
    batch: the error propagates, the shuffle-partition conf is restored,
    no query is left active, and the checkpoint it created is gone."""
    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        state_partitions,
    )
    from sqldataintegrationfunctiontriggerapp_spark.plans.windows import (
        _run_available_now,
    )

    path, schema = events_stream_dir
    conf = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    during: list = []

    def failing_sink(df, epoch_id):
        during.append((spark.conf.get(conf),
                       [p.name for p in private_stages.iterdir()]))
        raise RuntimeError("sink failed inside the batch")

    try:
        writer = (spark.readStream.schema(schema).parquet(path)
                  .writeStream.foreachBatch(failing_sink))
        with pytest.raises(Exception, match="sink failed inside the batch"):
            _run_available_now(spark, writer)
        assert spark.conf.get(conf) == "3"
    finally:
        spark.conf.set(conf, prior)
    ((conf_during, ckpts_during),) = during
    assert conf_during == str(state_partitions())
    assert len(ckpts_during) == 1  # the runner's own checkpoint existed...
    assert list(private_stages.iterdir()) == []  # ...and is removed
    assert spark.streams.active == []


def test_replay_runner_keeps_caller_owned_checkpoint(
    spark, events_stream_dir, tmp_path
):
    """A caller-owned checkpoint survives a failed run, and the rerun
    redelivers the uncommitted batch from it (the pipeline parity's
    outage-then-recovery shape)."""
    from sqldataintegrationfunctiontriggerapp_spark.plans.windows import (
        _run_available_now,
    )

    path, schema = events_stream_dir
    ckpt = tmp_path / "ckpt"
    delivered: list[int] = []

    def run(fb):
        _run_available_now(
            spark,
            spark.readStream.schema(schema).parquet(path)
            .writeStream.foreachBatch(fb),
            checkpoint=str(ckpt),
        )

    def failing_sink(df, epoch_id):
        raise RuntimeError("outage")

    with pytest.raises(Exception, match="outage"):
        run(failing_sink)
    assert (ckpt / "offsets" / "0").is_file()
    assert not (ckpt / "commits" / "0").exists()
    run(lambda df, epoch_id: delivered.append(epoch_id))
    assert delivered == [0]
    assert (ckpt / "commits" / "0").is_file()


def test_streaming_throttle_parity_equals_greedy_batch(spark, sf_dir):
    """streaming_throttle_parity through the real engine (2 time-ordered
    micro-batches) must equal a driver-side greedy replay of the 6 h gap
    machine over the time-sorted events -- the same semantics the recursive
    DuckDB oracle encodes."""
    import datetime

    from sqldataintegrationfunctiontriggerapp_spark.plans.windows import (
        streaming_throttle_parity,
    )

    got = sorted(map(tuple, streaming_throttle_parity(spark, sf_dir).collect()))
    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts")
        .orderBy("ts")
        .collect()
    )
    gap = datetime.timedelta(hours=6)
    last: dict = {}
    expected = []
    for r in rows:
        if r.user_id not in last or r.ts - last[r.user_id] >= gap:
            expected.append((str(r.user_id), r.ts))
            last[r.user_id] = r.ts
    assert got == sorted(expected)
    assert len(got) > len(last), "some key must re-emit after a 6 h gap"


def test_session_windows_and_streaming_dedup(spark, events_stream_dir):
    path, schema = events_stream_dir
    df = spark.read.schema(schema).parquet(path)
    sw = session_windows(df, gap="1 hour")
    assert sw.count() > 0
    assert sw.where(F.col("session_end") < F.col("session_start")).count() == 0

    dup = df.union(df)
    stream = stream_changes(spark, path, schema).drop("operation")
    dd = dedup_within_watermark(stream.union(stream), ["event_id"], watermark="30 days")
    q = dd.writeStream.outputMode("append").format("memory").queryName("dd_out").start()
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(DISTINCT event_id) c FROM dd_out").first().c == \
            spark.sql("SELECT count(*) c FROM dd_out").first().c
    finally:
        q.stop()
    assert dedup_within_watermark(dup, ["event_id"]).count() == df.count()


def test_pipeline_parity_query_delivers_exactly_once(spark, sf_dir):
    """Smoke the registered deployment-path parity (plans/windows.py
    streaming_pipeline_parity): the function itself raises on any contract
    violation (no injected failure, wrong classification, missing
    LastError, wrong retry count, failed recovery), so executing it IS the
    assertion; here we additionally pin that the delivered aggregate equals
    a direct batch computation of the same projection."""
    from sqldataintegrationfunctiontriggerapp_spark.plans import QUERIES
    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table

    got = {
        (r["operation"], r["event_type"]): (r["n_rows"], r["sum_milli"], r["n_users"])
        for r in QUERIES["streaming_pipeline_parity"](spark, sf_dir).collect()
    }
    exp = {
        ("Update", r["event_type"]): (r["n"], r["s"], r["u"])
        for r in (
            load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("s"),
                F.countDistinct("user_id").alias("u"),
            )
            .collect()
        )
    }
    assert got == exp
