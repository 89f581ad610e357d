"""Catalog helpers: the spread gate of ``load_table``, its schema memo, and
session-stage eviction."""

from __future__ import annotations

import os

import pytest

from sqldataintegrationfunctiontriggerapp_spark import catalog
from sqldataintegrationfunctiontriggerapp_spark.catalog import TABLES, load_table

_SPLIT_CONF = "spark.sql.files.maxPartitionBytes"


def _round_robin(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "RoundRobinPartitioning" in plan


def test_spread_gate_branches_return_the_same_rows(spark, sf_dir):
    """``spread=True`` adds a round-robin exchange only when the table is
    smaller than two scan splits per two cores: at the 128 MB default the
    sf0.001 lineitem file is, at 1 KB splits it is not. Both branches
    return the same rows."""
    prev = spark.conf.get(_SPLIT_CONF, None)
    try:
        spark.conf.unset(_SPLIT_CONF)
        spread = load_table(spark, sf_dir, "lineitem", spread=True)
        assert _round_robin(spread)
        rows = sorted(spread.collect())
        spark.conf.set(_SPLIT_CONF, "1k")
        split = load_table(spark, sf_dir, "lineitem", spread=True)
        assert not _round_robin(split)
        assert sorted(split.collect()) == rows
    finally:
        if prev is None:
            spark.conf.unset(_SPLIT_CONF)
        else:
            spark.conf.set(_SPLIT_CONF, prev)
    assert rows


def test_session_stage_eviction_frees_checkpoint_blocks(spark, monkeypatch, tmp_path):
    # ADVICE r04 #1 regression: inserting a stage for a new sf_dir must
    # evict same-app entries for other dirs AND release their
    # localCheckpoint storage (DataFrame.unpersist alone does NOT free
    # checkpoint blocks -- the eviction goes through the LogicalRDD's rdd).
    # The memo is swapped for a fresh dict so the test never evicts real
    # stages other tests in this session built (monkeypatch restores it).
    from sqldataintegrationfunctiontriggerapp_spark.plans import _util

    monkeypatch.setattr(_util, "_STAGE_CACHE", {})

    def stored_ids():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = stored_ids()
    _util.session_stage(
        spark, "/fake/dir_a", "evict_test",
        lambda: spark.range(1000).localCheckpoint(),
    )
    a_ids = stored_ids() - before
    assert a_ids, "stage build should have checkpointed storage"
    staged = tmp_path / "staged_dir"
    staged.mkdir()
    _util.session_stage(
        spark, "/fake/dir_b", "evict_test",
        lambda: (_util.StagedDir(str(staged)), spark.range(10).localCheckpoint()),
    )
    after = stored_ids()
    assert not (a_ids & after), "evicted stage's checkpoint blocks remain"
    # StagedDir values: eviction must remove the directory itself
    _util.session_stage(
        spark, "/fake/dir_c", "evict_test", lambda: spark.range(1)
    )
    assert not staged.exists(), "evicted StagedDir was not removed"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_memoised_schema_is_sparks_inferred_schema(
        spark, sf_dir, count_jobs, sf):
    """Every fixture table: the memo holds what ``spark.read.parquet``
    infers, and a repeated open runs no job and returns the same schema
    (``events.ts`` included, whichever type its branch sees)."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    app = spark.sparkContext.applicationId
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        first = load_table(spark, sf_dir, name)
        memo = catalog._SCHEMAS[(app, os.path.abspath(path))][1]
        assert memo == spark.read.parquet(path).schema, name
        again, jobs = count_jobs(load_table, spark, sf_dir, name)
        assert jobs == 0, name
        assert again.schema == first.schema, name


def test_table_rewritten_in_place_is_inferred_again(
        spark, count_jobs, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    _, jobs = count_jobs(load_table, spark, str(tmp_path), "t")
    assert jobs == 1
    spark.range(3).selectExpr("id", "id * 2 AS extra") \
        .write.mode("overwrite").parquet(path)
    df, jobs = count_jobs(load_table, spark, str(tmp_path), "t")
    assert jobs == 1
    assert df.columns == ["id", "extra"]
    assert sorted(df.collect()) == [(i, 2 * i) for i in range(3)]
    _, jobs = count_jobs(load_table, spark, str(tmp_path), "t")
    assert jobs == 0


def test_missing_local_table_raises_file_not_found(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="absent"):
        load_table(spark, str(tmp_path), "absent")


def test_new_session_infers_again(spark, sf_dir, count_jobs, monkeypatch):
    """The memo is per application: another application id (a new
    session) does not reuse this one's schema."""
    load_table(spark, sf_dir, "region")
    _, jobs = count_jobs(load_table, spark, sf_dir, "region")
    assert jobs == 0
    monkeypatch.setattr(catalog, "_SCHEMAS", dict(catalog._SCHEMAS))
    monkeypatch.setattr(type(spark.sparkContext), "applicationId",
                        property(lambda sc: "another-application"))
    _, jobs = count_jobs(load_table, spark, sf_dir, "region")
    assert jobs == 1
