"""Stage-ledger behavior (VERDICT r11 #1): shared-stage checkpoint
residency is bounded by LRU eviction at query boundaries, evicted stages
transparently rebuild, and the active-set window protects stages touched
since the last tick (a mid-query eviction would kill the consumer --
localCheckpoint blocks ARE the data)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.plans import _util as U
from sqldataintegrationfunctiontriggerapp_spark.plans._util import truthful_ckpt

_MB = 1024.0 * 1024.0


def _pin(monkeypatch, spill_mb=None, family_mb=None):
    """Force truthful_ckpt's branch: pin the per-stage spill threshold
    and/or the resident-storage bound (None keeps the heap-derived one)."""
    if spill_mb is not None:
        monkeypatch.setattr(U, "_spill_threshold_bytes",
                            lambda spark: spill_mb * _MB)
    if family_mb is not None:
        monkeypatch.setattr(U, "_family_admission_bytes",
                            lambda spark: family_mb * _MB)


def _mk_stage(spark, name: str, builds: dict):
    def build():
        builds[name] = builds.get(name, 0) + 1
        # ~64k rows of longs: enough resident bytes to attribute/evict
        return truthful_ckpt(
            spark.range(65536).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            )
        )

    return U.session_stage(spark, "/ledger-test", name, build)


def _drop_test_stages(sf_dir="/ledger-test", name=None):
    for key in [k for k in U._STAGE_CACHE
                if k[1] == sf_dir and name in (None, k[2])]:
        U._evict(key)


def test_ledger_attributes_and_evicts_lru(spark):
    _drop_test_stages()
    builds: dict = {}
    a = _mk_stage(spark, "stage_a", builds)
    b = _mk_stage(spark, "stage_b", builds)
    c = _mk_stage(spark, "stage_c", builds)
    assert a.count() == b.count() == c.count() == 65536

    sizes = U._stage_resident_bytes(spark)
    keyed = {k[2]: v for k, v in sizes.items() if k[1] == "/ledger-test"}
    assert all(keyed.get(n, 0) > 0 for n in ("stage_a", "stage_b", "stage_c"))

    # end of "query 1": all three were touched -> protected this tick even
    # under a zero budget
    summary = U.stage_ledger_tick(spark, budget_bytes=0)
    assert all(n not in summary["evicted"]
               for n in ("stage_a", "stage_b", "stage_c"))

    # "query 2" touches only stage_c (now MRU); the next tick under a
    # budget smaller than the three stages must evict the LRU ones
    # (a then b) and keep c
    _mk_stage(spark, "stage_c", builds)
    keep = keyed["stage_c"]
    summary = U.stage_ledger_tick(spark, budget_bytes=keep + 1)
    assert "stage_a" in summary["evicted"]
    assert "stage_b" in summary["evicted"]
    assert "stage_c" not in summary["evicted"]
    assert builds == {"stage_a": 1, "stage_b": 1, "stage_c": 1}

    # evicted stages rebuild on demand; survivors stay memoized
    _mk_stage(spark, "stage_a", builds)
    _mk_stage(spark, "stage_c", builds)
    assert builds["stage_a"] == 2
    assert builds["stage_c"] == 1
    _drop_test_stages()


def test_evicted_stage_storage_is_released(spark):
    _drop_test_stages()
    builds: dict = {}
    _mk_stage(spark, "stage_big", builds)
    before = U._stage_resident_bytes(spark)
    big = [v for k, v in before.items() if k[2] == "stage_big"][0]
    assert big > 0
    U.stage_ledger_tick(spark, budget_bytes=0)   # protected (active)
    summary = U.stage_ledger_tick(spark, budget_bytes=0)  # now evictable
    assert "stage_big" in summary["evicted"]
    after = {k[2]: v for k, v in U._stage_resident_bytes(spark).items()}
    assert "stage_big" not in after
    _drop_test_stages()


def test_truthful_ckpt_disk_branch_spills_and_releases(spark, monkeypatch):
    """Forced-disk truthful_ckpt: the stage lands on local parquet (no
    executor storage), reads back identically, is visible to the tick's
    disk_bytes column, and drop_stage removes the directory."""
    import os

    _drop_test_stages()
    _pin(monkeypatch, spill_mb=-1)

    def build():
        return truthful_ckpt(
            spark.range(1000).select(
                F.col("id"), (F.col("id") * 3).alias("v")
            )
        )

    df = U.session_stage(spark, "/ledger-test", "disk_stage", build)
    path = getattr(df, "_staged_dir", None)
    assert path is not None and os.path.isdir(path)
    assert df.count() == 1000
    assert df.agg(F.sum("v")).collect()[0][0] == 3 * 999 * 1000 // 2
    # no executor storage attributed: disk stages live outside the memory
    # budget, but the tick reports their bytes
    sizes = {k[2]: v for k, v in U._stage_resident_bytes(spark).items()}
    assert sizes.get("disk_stage", 0) == 0
    assert U._stage_disk_bytes() > 0
    U.drop_stage(spark, "/ledger-test", "disk_stage")
    assert not os.path.exists(path)
    _drop_test_stages()


def test_truthful_ckpt_threshold_picks_branch(spark, monkeypatch):
    """A tiny stage stays a localCheckpoint (no _staged_dir), a stage
    above a forced-low threshold goes to parquet."""
    _drop_test_stages()
    _pin(monkeypatch, spill_mb=100000)
    stage = spark.range(100).select("id")
    small = truthful_ckpt(stage)
    assert getattr(small, "_staged_dir", None) is None
    assert small.schema == stage.schema
    small.unpersist()
    _pin(monkeypatch, spill_mb=0)
    big = truthful_ckpt(spark.range(5000).select("id"))
    assert getattr(big, "_staged_dir", None) is not None
    # read back with the cached frame's schema: what inference returns
    assert big.schema == spark.read.parquet(big._staged_dir).schema
    U._release_stage(big)


def test_truthful_ckpt_family_aggregate_admission(spark, monkeypatch):
    """VERDICT r13 #4: the per-stage threshold judges stages one at a
    time; a 6-stage family each under the line can still starve the heap
    in aggregate. The structural bound: once RESIDENT stage storage plus
    the new stage's cache bytes cross the family bound, later members
    spill to parquet even though each is individually under the per-stage
    threshold."""
    _drop_test_stages()
    # per-stage threshold far above any member (the per-stage rule alone
    # keeps ALL of them memory-resident); family bound = whatever is
    # already resident (other tests in the shared session may hold
    # blocks) + ~2 MB of headroom: members are ~0.5-1.5 MB each, so the
    # first stage stays on the fast path and later ones must spill
    base_mb = U.storage_bytes(spark) // (1024 * 1024)
    _pin(monkeypatch, spill_mb=100000, family_mb=base_mb + 2)

    members = []
    try:
        for i in range(6):
            df = truthful_ckpt(
                spark.range(65536).select(
                    F.col("id"), (F.col("id") * (i + 1)).alias("v")
                )
            )
            members.append(df)
        spilled = [m for m in members
                   if getattr(m, "_staged_dir", None) is not None]
        resident = [m for m in members
                    if getattr(m, "_staged_dir", None) is None]
        # early members fit under the bound; later ones spill -- both
        # branches must be exercised by the same family
        assert resident and spilled, (
            f"{len(resident)} resident / {len(spilled)} spilled"
        )
        # the first member (empty ledger) is memory-resident, the last
        # (residency saturated) is on parquet
        assert getattr(members[0], "_staged_dir", None) is None
        assert getattr(members[-1], "_staged_dir", None) is not None
        # every member is still correct regardless of branch
        for i, m in enumerate(members):
            assert m.agg(F.sum("v")).first()[0] == (i + 1) * (
                65535 * 65536 // 2
            )
    finally:
        for m in members:
            U._release_stage(m)


def test_truthful_ckpt_family_bound_leaves_small_sessions_alone(
    spark, monkeypatch
):
    """The 512 MB family floor: with the heap-derived bound, a handful of
    small stages all stay on the localCheckpoint fast path (sf0.1's
    largest per-query resident peak is ~200 MB -- the bound must not
    reshape small-session plans)."""
    _drop_test_stages()
    _pin(monkeypatch, spill_mb=100000)
    assert U._family_admission_bytes(spark) >= 512 * _MB
    members = [
        truthful_ckpt(spark.range(10000).select("id")) for _ in range(3)
    ]
    try:
        assert all(
            getattr(m, "_staged_dir", None) is None for m in members
        )
    finally:
        for m in members:
            U._release_stage(m)


def test_frequent_term_l1_is_one_session_stage_per_entry(spark, sf_dir,
                                                         count_jobs):
    """ADVICE r16: each frequent-term entry memoizes its own L1 (the two
    frames differ), so a repeated build reuses the materialization instead
    of running the L1 jobs again; the ledger owns its cleanup."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    for entry, stage in (("frequent_term_pairs", "frequent_pairs_l1"),
                         ("frequent_term_triples", "frequent_triples_l1")):
        _drop_test_stages(sf_dir, stage)
        _, first_jobs = count_jobs(queries[entry], spark, sf_dir)
        key = (spark.sparkContext.applicationId, sf_dir, stage)
        l1 = U._STAGE_CACHE[key]
        _, again_jobs = count_jobs(queries[entry], spark, sf_dir)
        assert U._STAGE_CACHE[key] is l1
        assert again_jobs < first_jobs


def test_truthful_ckpt_small_stage_runs_two_jobs(spark, count_jobs):
    """Sizing the cache is one shuffle-free job over the persisted plan
    and the checkpoint is the second; an aggregate (e.g. count()) there
    costs two jobs more."""
    out, jobs = count_jobs(truthful_ckpt, spark.range(97).select("id"))
    try:
        assert getattr(out, "_staged_dir", None) is None
        assert out.count() == 97
        assert jobs <= 2, jobs
    finally:
        U._release_stage(out)


def test_ledger_default_budget_is_the_named_constant(spark, monkeypatch):
    """With no budget argument the tick evicts past _LEDGER_BUDGET_BYTES
    (2048 MB), not past the admission bound."""
    assert U._LEDGER_BUDGET_BYTES == 2048 * _MB
    _drop_test_stages()
    _mk_stage(spark, "stage_budget", {})
    U.stage_ledger_tick(spark)  # touched this query: protected
    _pin(monkeypatch, family_mb=0)  # admission bound plays no part
    assert "stage_budget" not in U.stage_ledger_tick(spark)["evicted"]
    monkeypatch.setattr(U, "_LEDGER_BUDGET_BYTES", 0)
    assert "stage_budget" in U.stage_ledger_tick(spark)["evicted"]
    _drop_test_stages()
