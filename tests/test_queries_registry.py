"""Registry contract sanity (the full oracle comparison runs via
tools/verify_oracle.py; these are fast structural checks kept in CI)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_every_oracle_has_a_query():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 50


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) == 10
    assert rows[0].revenue >= rows[-1].revenue


def test_declared_rows_only_set_is_intentional():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    rows_only = set(qs) - set(os_)
    # EVERY registered query now carries an exact oracle; growing this set
    # needs a written reason. (History: the deterministic-approximate ANN
    # entries gained exact oracles in r4 -- md5-derived planes/pivots are
    # SQL-expressible even though the search is approximate; the sketch
    # aggregates gained accuracy-contract oracles in r5 -- exact value plus
    # a within-tolerance boolean; and the last holdout,
    # multimodal_feature_extract, gained one in r5 because its stub
    # features are byte-deterministic and the pure-ASCII fixture lets
    # DuckDB mirror bytes through ascii().)
    assert rows_only == set()


def test_quantile_sketch_invariant_under_scan_partitioning(spark, sf_dir):
    """The mergeable-histogram claim (plans/advanced.py
    quantile_sketch_merge): per-partition sketches merged with commuting
    integer adds must yield the SAME result however the scan is split.
    Shrinking maxPartitionBytes multiplies the input partitions (different
    pid layout, different per-partition sketches), so equality here is the
    associativity/commutativity evidence for the merge."""
    from sqldataintegrationfunctiontriggerapp_spark.plans import QUERIES

    fn = QUERIES["quantile_sketch_merge"]
    base = fn(spark, sf_dir).collect()
    conf = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, str(64 * 1024))
        alt = fn(spark, sf_dir).collect()
    finally:
        spark.conf.set(conf, prev)
    assert base == alt


def test_quantile_sketch_matches_numpy_reference(spark, sf_dir):
    """Independent reference: replicate the fixed-domain histogram +
    cumulative read-off in numpy from the raw parquet and compare every
    output cell (the python-reference discipline of the minhash tests)."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from sqldataintegrationfunctiontriggerapp_spark.plans import QUERIES

    x = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_extendedprice"])[
        "l_extendedprice"
    ].to_numpy()
    lo, hi = float(x.min()), float(x.max())
    B = 128
    w = (hi - lo) / float(B)
    idx = np.clip(np.floor((x - lo) / w).astype("int64"), 0, B - 1)
    hist = np.bincount(idx, minlength=B)
    cum = hist.cumsum()
    n = int(cum[-1])
    exp = {"n_total": n}
    for p, tag in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        target = math.ceil(p * n)
        i = int(np.argmax(cum >= target))
        exp[f"est_{tag}"] = lo + (i + 1) * w
        exp[f"n_le_{tag}"] = int(cum[i])
    (row,) = QUERIES["quantile_sketch_merge"](spark, sf_dir).collect()
    assert row.asDict() == exp


def test_quantile_sketch_constant_column_degrades_to_nulls(spark):
    """Degenerate-domain guard (ADVICE r06 #4 + r07 #3): a constant value
    column (hi == lo, bucket width 0) must not divide by zero on EITHER
    engine -- every row routes to bucket 0, the counts stay exact, and the
    estimates come back NULL. Both sides are executed here: the Spark
    quantile_sketch() on a constant DataFrame AND the registered DuckDB
    oracle on a constant one-column `lineitem` view, asserting they produce
    the same degenerate row (so a guard regression on the oracle side fails
    this test, not a future fixture change)."""
    import duckdb

    from sqldataintegrationfunctiontriggerapp_spark.plans import ORACLES
    from sqldataintegrationfunctiontriggerapp_spark.plans.advanced import (
        quantile_sketch,
    )

    df = spark.createDataFrame([(7.5,)] * 10, "v double").repartition(3)
    (row,) = quantile_sketch(df, "v").collect()
    assert row.n_total == 10
    assert row.est_p50 is None and row.est_p90 is None and row.est_p99 is None
    assert row.n_le_p50 == 10 and row.n_le_p90 == 10 and row.n_le_p99 == 10

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS "
        "SELECT 7.5 AS l_extendedprice FROM range(10)"
    )
    (orow,) = con.execute(ORACLES["quantile_sketch_merge"]).fetchall()
    cols = [d[0] for d in con.description]
    assert dict(zip(cols, orow)) == row.asDict()


def test_quantile_refined_matches_numpy_and_tightens_bound(spark, sf_dir):
    """Independent numpy reference for quantile_sketch_refined: replicate
    both histogram passes from the raw parquet and compare every output
    cell; then assert the refinement CONTRACT -- the refined estimate's
    bucket is 128x narrower than the coarse one and the true p-th value
    lies within (est_refined - bound_width, est_refined]."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from sqldataintegrationfunctiontriggerapp_spark.plans import QUERIES

    x = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_extendedprice"])[
        "l_extendedprice"
    ].to_numpy()
    lo, hi = float(x.min()), float(x.max())
    B = 128
    w = (hi - lo) / B
    w2 = w / B
    idx = np.clip(np.floor((x - lo) / w).astype("int64"), 0, B - 1)
    hist = np.bincount(idx, minlength=B)
    cum = hist.cumsum()
    n = int(cum[-1])
    exp = {}
    xs = np.sort(x)
    for p, tag in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        target = math.ceil(p * n)
        b = int(np.argmax(cum >= target))
        cum_before = int(cum[b - 1]) if b else 0
        bstart = lo + b * w
        inb = x[idx == b]
        idx2 = np.clip(np.floor((inb - bstart) / w2).astype("int64"), 0, B - 1)
        h2 = np.bincount(idx2, minlength=B)
        c2 = h2.cumsum()
        j = int(np.argmax(c2 >= target - cum_before))
        exp[tag] = {
            "n_total": n,
            "est_coarse": lo + (b + 1) * w,
            "est_refined": bstart + (j + 1) * w2,
            "n_le": cum_before + int(c2[j]),
            "bound_width": w2,
        }
        # contract: the true p-th smallest value sits in the refined bucket
        true_p = xs[target - 1]
        assert true_p <= exp[tag]["est_refined"]
        assert true_p > exp[tag]["est_refined"] - w2 - 1e-9
    got = {
        r.quantile: r
        for r in QUERIES["quantile_sketch_refined"](spark, sf_dir).collect()
    }
    for tag, e in exp.items():
        r = got[tag]
        assert (r.n_total, r.est_coarse, r.est_refined, r.n_le, r.bound_width) == (
            e["n_total"], e["est_coarse"], e["est_refined"], e["n_le"],
            e["bound_width"],
        )


def test_quantile_refined_constant_column_degrades_to_nulls(spark):
    """Degenerate-domain guard for the two-pass sketch, BOTH engines: a
    constant column yields exact counts, NULL estimates and NULL bound on
    the Spark side and the identical rows from the DuckDB oracle."""
    import duckdb

    from sqldataintegrationfunctiontriggerapp_spark.plans import ORACLES
    from sqldataintegrationfunctiontriggerapp_spark.plans.advanced import (
        quantile_refine,
    )

    df = spark.createDataFrame([(7.5,)] * 10, "v double").repartition(3)
    rows = {r.quantile: r for r in quantile_refine(df, "v").collect()}
    assert set(rows) == {"p50", "p90", "p99"}
    for r in rows.values():
        assert r.n_total == 10 and r.n_le == 10
        assert r.est_coarse is None and r.est_refined is None
        assert r.bound_width is None

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT 7.5 AS l_extendedprice FROM range(10)"
    )
    orows = con.execute(ORACLES["quantile_sketch_refined"]).fetchall()
    cols = [d[0] for d in con.description]
    for orow in orows:
        d = dict(zip(cols, orow))
        r = rows[d["quantile"]]
        assert d == {
            "quantile": r.quantile, "n_total": r.n_total,
            "est_coarse": r.est_coarse, "est_refined": r.est_refined,
            "n_le": r.n_le, "bound_width": r.bound_width,
        }


def test_generated_sweep_order_covers_registry_exactly():
    """_sweep_order.py is machine-produced (tools/gen_sweep.py); if a query
    is added or renamed without regenerating it, the driver would sweep a
    stale order. The generated list must be a permutation of the registry."""
    import _sweep_order

    from sqldataintegrationfunctiontriggerapp_spark import plans

    assert sorted(_sweep_order.SWEEP_PRIORITY) == sorted(plans.QUERIES)
    assert len(_sweep_order.SWEEP_PRIORITY) == len(set(_sweep_order.SWEEP_PRIORITY))


def test_dataset_shuffle_plan_and_determinism(spark, sf_dir):
    """The seeded shuffle must (a) compile to TakeOrderedAndProject -- a
    bounded per-task heap, never a global single-partition sort -- and
    (b) reproduce the identical permutation prefix across plans/sessions
    (the property that makes training-data shuffles resumable)."""
    import __spark_entry__ as entrymod

    fn = entrymod.queries()["dataset_shuffle_deterministic"]
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    a = [(r.position, r.doc_id) for r in df.collect()]
    b = [(r.position, r.doc_id) for r in fn(spark, sf_dir).collect()]
    assert a == b and len(a) == 100
    assert [p for p, _ in sorted(a)] == list(range(1, 101))


def test_quantile_interpolated_within_one_bucket_of_exact(spark, sf_dir):
    """The interpolated estimate must stay within one bucket width of the
    EXACT quantile (the histogram read-off's structural guarantee; the
    interpolation refines within the bucket, it cannot leave it), and must
    lie at or below the edge read-off that quantile_sketch_merge returns."""
    import duckdb

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    (irow,) = qs["quantile_interpolated"](spark, sf_dir).collect()
    (erow,) = qs["quantile_sketch_merge"](spark, sf_dir).collect()

    lo, hi = duckdb.sql(
        f"SELECT MIN(l_extendedprice), MAX(l_extendedprice) "
        f"FROM '{sf_dir}/lineitem.parquet'"
    ).fetchone()
    width = (hi - lo) / 128.0
    for p, icol, ecol in [
        (0.5, "est_p50_interp", "est_p50"),
        (0.9, "est_p90_interp", "est_p90"),
        (0.99, "est_p99_interp", "est_p99"),
    ]:
        (exact,) = duckdb.sql(
            f"SELECT quantile_disc(l_extendedprice, {p}) "
            f"FROM '{sf_dir}/lineitem.parquet'"
        ).fetchone()
        est = getattr(irow, icol)
        edge = getattr(erow, ecol)
        assert abs(est - exact) <= width, (p, est, exact, width)
        assert est <= edge + 1e-9, (p, est, edge)


def test_incremental_agg_merge_covers_all_actions(spark):
    """The fixture exercises only 'unchanged'/'updated' (every sf0.01 key
    exists pre-cutoff), so the 'inserted' null-combine path -- base-side
    nulls flowing through coalesce/least/greatest -- is pinned here against
    a direct recompute over the unioned events."""
    from sqldataintegrationfunctiontriggerapp_spark.plans.cdc import (
        incremental_agg_merge,
    )

    from datetime import datetime as DT

    schema = "user_id long, event_type string, value double, ts timestamp"
    base = spark.createDataFrame(
        [
            (1, "click", 2.0, DT.fromisoformat("2024-01-01")),   # updated
            (1, "click", 4.0, DT.fromisoformat("2024-01-02")),
            (2, "error", 9.0, DT.fromisoformat("2024-01-03")),   # unchanged
        ],
        schema,
    )
    delta = spark.createDataFrame(
        [
            (1, "click", 1.0, DT.fromisoformat("2024-02-01")),
            (3, "view", 7.5, DT.fromisoformat("2024-02-02")),    # inserted
            (3, "view", 0.5, DT.fromisoformat("2024-02-03")),
        ],
        schema,
    )
    got = {
        (r.user_id, r.event_type): r.asDict()
        for r in incremental_agg_merge(base, delta).collect()
    }
    direct = {
        (r.user_id, r.event_type): r.asDict()
        for r in incremental_agg_merge(
            base.unionAll(delta), base.limit(0)
        ).collect()
    }
    assert set(got) == {(1, "click"), (2, "error"), (3, "view")}
    assert got[(1, "click")]["refresh_action"] == "updated"
    assert got[(2, "error")]["refresh_action"] == "unchanged"
    assert got[(3, "view")]["refresh_action"] == "inserted"
    assert got[(3, "view")]["n_events"] == 2
    assert got[(3, "view")]["sum_value"] == 8.0
    assert got[(3, "view")]["min_value"] == 0.5
    assert got[(3, "view")]["max_value"] == 7.5
    for k in got:
        for c in ("n_events", "sum_value", "min_value", "max_value", "last_ts"):
            assert got[k][c] == direct[k][c], (k, c, got[k][c], direct[k][c])


def test_incremental_retract_merge_edges(spark):
    """Pins the two retract-IVM behaviors the fixture cannot provoke:
    (a) a group emptied by retractions disappears (count reaches zero),
    (b) a key moving ACROSS groups subtracts from the old group and adds
    to the new one with decimal-exact sums -- both checked against a
    direct recompute (the merge run with an empty delta over the union)."""
    from datetime import datetime as DT

    from sqldataintegrationfunctiontriggerapp_spark.plans.cdc import (
        incremental_retract_merge,
    )

    schema = (
        "event_id long, user_id long, event_type string,"
        " value double, ts timestamp"
    )
    base = spark.createDataFrame(
        [
            (1, 10, "click", 1.25, DT(2024, 1, 1)),  # will move to 'view'
            (2, 20, "click", 2.50, DT(2024, 1, 2)),  # stays
            (3, 30, "error", 9.00, DT(2024, 1, 3)),  # 'error' will empty
        ],
        schema,
    )
    delta = spark.createDataFrame(
        [
            (4, 10, "view", 4.00, DT(2024, 2, 1)),   # cross-group move
            (5, 30, "click", 0.75, DT(2024, 2, 2)),  # empties 'error'
        ],
        schema,
    )
    got = {
        r.event_type: (r.n_users, r.sum_value)
        for r in incremental_retract_merge(base, delta).collect()
    }
    assert got == {"click": (2, 3.25), "view": (1, 4.0)}  # no 'error' row
    direct = {
        r.event_type: (r.n_users, r.sum_value)
        for r in incremental_retract_merge(
            base.unionAll(delta), base.limit(0)
        ).collect()
    }
    assert got == direct


def test_shuffle_key_seed_independence(spark, sf_dir):
    """Different seeds must induce genuinely different permutations (the
    property that lets epoch N and epoch N+1 reshuffle the corpus), while
    each seed's order stays total and reproducible."""
    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
    from sqldataintegrationfunctiontriggerapp_spark.plans.sampling import (
        shuffle_key,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    orders = []
    for seed in (42, 43):
        rows = (
            d.withColumn("k", shuffle_key(seed=seed))
            .orderBy("k", "doc_id")
            .limit(50)
            .collect()
        )
        assert len({r.k for r in rows}) == 50  # total order, no collisions
        orders.append([r.doc_id for r in rows])
    assert orders[0] != orders[1]


def test_quantile_sketch_grouped_within_one_bucket_of_exact(spark, sf_dir):
    """Per-group estimates must stay within one GROUP-domain bucket width
    of that group's exact quantile -- the same structural bound the global
    sketch carries, now per group."""
    import duckdb

    import __spark_entry__ as entrymod

    rows = {
        r.l_returnflag: r
        for r in entrymod.queries()["quantile_sketch_grouped"](
            spark, sf_dir
        ).collect()
    }
    for flag, r in rows.items():
        lo, hi = duckdb.sql(
            f"SELECT MIN(l_extendedprice), MAX(l_extendedprice) FROM "
            f"'{sf_dir}/lineitem.parquet' WHERE l_returnflag = '{flag}'"
        ).fetchone()
        width = (hi - lo) / 128.0
        for p, col in [(0.5, "est_p50"), (0.9, "est_p90"), (0.99, "est_p99")]:
            (exact,) = duckdb.sql(
                f"SELECT quantile_disc(l_extendedprice, {p}) FROM "
                f"'{sf_dir}/lineitem.parquet' WHERE l_returnflag = '{flag}'"
            ).fetchone()
            assert abs(getattr(r, col) - exact) <= width, (flag, p)


def test_grouped_sketch_constant_group_degrades_to_nulls(spark):
    """Per-group degenerate-domain guard: a group whose value column is
    constant (hi == lo) must get NULL estimates with exact counts, WITHOUT
    disturbing a live group in the same frame -- the per-group analog of
    the global sketch's pinned guard."""
    from sqldataintegrationfunctiontriggerapp_spark.plans.advanced import (
        grouped_quantile_sketch,
    )

    rows = [("const", 7.5)] * 10 + [("live", float(v)) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(4)
    got = {r.g: r for r in grouped_quantile_sketch(df, "g", "v").collect()}
    c = got["const"]
    assert c.n_total == 10
    assert c.est_p50 is None and c.est_p90 is None and c.est_p99 is None
    assert c.n_le_p50 == 10 and c.n_le_p99 == 10
    lv = got["live"]
    assert lv.n_total == 100
    width = (100.0 - 1.0) / 128.0
    for p, col in [(0.5, "est_p50"), (0.9, "est_p90"), (0.99, "est_p99")]:
        exact = float(int(p * 100))
        assert abs(getattr(lv, col) - exact) <= width + 1e-9, (p, col)


def test_retract_minmax_scoped_rescan(spark):
    """Pins the r10 min/max retraction: (a) the rescan scope contains
    EXACTLY the groups whose retracted rows held the standing extremum,
    (b) the merged result -- rescanned and incrementally-combined groups
    alike -- equals the full recompute, including a duplicate-extremum
    group where the conservative rescan rediscovers the same value."""
    from datetime import datetime as DT

    from sqldataintegrationfunctiontriggerapp_spark.plans.cdc import (
        incremental_retract_minmax_merge,
        retract_rescan_scope,
    )

    schema = (
        "event_id long, user_id long, event_type string,"
        " value double, ts timestamp"
    )
    base = spark.createDataFrame(
        [
            # 'click': min 5.0 held by user 10 -> retracting it flags click
            (1, 10, "click", 5.0, DT(2024, 1, 1)),
            (2, 20, "click", 10.0, DT(2024, 1, 2)),
            (3, 21, "click", 8.0, DT(2024, 1, 3)),
            # 'view': user 31 holds neither min (1.0) nor max (9.0)
            (4, 30, "view", 1.0, DT(2024, 1, 4)),
            (5, 31, "view", 5.0, DT(2024, 1, 5)),
            (6, 32, "view", 9.0, DT(2024, 1, 6)),
            # 'dup': min 2.0 held TWICE (users 40, 41); retracting one
            # flags the group and the rescan rediscovers 2.0
            (7, 40, "dup", 2.0, DT(2024, 1, 7)),
            (8, 41, "dup", 2.0, DT(2024, 1, 8)),
            (9, 42, "dup", 6.0, DT(2024, 1, 9)),
        ],
        schema,
    )
    delta = spark.createDataFrame(
        [
            (10, 10, "click", 7.0, DT(2024, 2, 1)),  # dethrones click min
            (11, 31, "view", 6.0, DT(2024, 2, 2)),   # interior update
            (12, 40, "dup", 3.0, DT(2024, 2, 3)),    # duplicate extremum
        ],
        schema,
    )
    scope = {r.event_type for r in retract_rescan_scope(base, delta).collect()}
    assert scope == {"click", "dup"}  # 'view' combines incrementally

    got = {
        r.event_type: (r.n_users, r.sum_value, r.min_value, r.max_value)
        for r in incremental_retract_minmax_merge(base, delta).collect()
    }
    direct = {
        r.event_type: (r.n_users, r.sum_value, r.min_value, r.max_value)
        for r in incremental_retract_minmax_merge(
            base.unionAll(delta), base.limit(0)
        ).collect()
    }
    assert got == direct
    assert got["click"] == (3, 25.0, 7.0, 10.0)  # new min via rescan
    assert got["view"] == (3, 16.0, 1.0, 9.0)    # extrema survive
    assert got["dup"] == (3, 11.0, 2.0, 6.0)     # duplicate min survives


def test_ivm_retract_refresh_chained_and_out_of_order(spark):
    """Pins the chainable retraction refresh (r10): (a) chaining two
    batches equals the one-shot recompute, including a cross-group move
    and a group emptied to zero; (b) an OUT-OF-ORDER batch (older row for
    a known user) must not regress the standing winner -- the generic
    (ts, event_id) winner rule, which the time-split replay never
    exercises."""
    from datetime import datetime as DT

    from sqldataintegrationfunctiontriggerapp_spark.plans.cdc import (
        ivm_retract_refresh,
    )

    schema = (
        "event_id long, user_id long, event_type string,"
        " value double, ts timestamp"
    )
    b1 = spark.createDataFrame(
        [
            (1, 10, "click", 5.0, DT(2024, 1, 1)),
            (2, 20, "click", 2.0, DT(2024, 1, 2)),
            (3, 30, "error", 9.0, DT(2024, 1, 3)),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            (4, 10, "view", 4.0, DT(2024, 2, 1)),   # cross-group move
            (5, 30, "click", 1.0, DT(2024, 2, 2)),  # empties 'error'
            (6, 20, "click", 99.0, DT(2023, 12, 1)),  # OLDER: must lose
        ],
        schema,
    )
    users, aggs = ivm_retract_refresh(None, None, b1)
    users, aggs = (
        users.localCheckpoint(),
        aggs.localCheckpoint(),
    )
    users, aggs = ivm_retract_refresh(users, aggs, b2)
    got = {
        r.event_type: (r.n_users, float(r.sum_dec))
        for r in aggs.collect()
    }
    # recompute: latest per user over b1+b2 -> 10:view/4, 20:click/2
    # (2024 beats 2023), 30:click/1
    assert got == {"click": (2, 3.0), "view": (1, 4.0)}
    standing = {r.user_id: (r.event_type, r.value) for r in users.collect()}
    assert standing == {
        10: ("view", 4.0),
        20: ("click", 2.0),
        30: ("click", 1.0),
    }


def _funnel_reference(events):
    """Per user: first view, first click strictly after it, first purchase
    strictly after that click; counts of users reaching each stage."""
    by_user = {}
    for user, ts, kind in events:
        by_user.setdefault(user, []).append((ts, kind))
    counts = [0, 0, 0]
    for rows in by_user.values():
        cut = None
        for stage, kind in enumerate(("view", "click", "purchase")):
            hits = [ts for ts, k in rows if k == kind and (cut is None or ts > cut)]
            if not hits:
                break
            cut = min(hits)
            counts[stage] += 1
    return tuple(counts)


def test_funnel_analysis_matches_per_user_reference(spark, tmp_path):
    """The chained-MIN-window funnel (OPTIMIZATION r16) against a plain
    per-user walk, over events built to hit each boundary."""
    from datetime import datetime as DT, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = DT(2024, 1, 1)

    def at(minutes):
        return t0 + timedelta(minutes=minutes)

    events = [
        # 1: full funnel, with a second view after the first
        (1, at(0), "view"), (1, at(5), "view"), (1, at(1), "click"),
        (1, at(2), "purchase"),
        # 2: no view at all -- counted nowhere
        (2, at(1), "click"), (2, at(2), "purchase"),
        # 3: click only before the first view -- viewed, not clicked
        (3, at(0), "click"), (3, at(1), "view"), (3, at(3), "purchase"),
        # 4: click before and after the view -- the later one counts
        (4, at(0), "click"), (4, at(2), "view"), (4, at(3), "click"),
        (4, at(4), "purchase"),
        # 5: click at the view's timestamp is not after it
        (5, at(7), "view"), (5, at(7), "click"), (5, at(8), "purchase"),
        # 6: purchase at the click's timestamp is not after it
        (6, at(0), "view"), (6, at(1), "click"), (6, at(1), "purchase"),
        # 7: repeated purchases count the user once
        (7, at(0), "view"), (7, at(1), "click"), (7, at(2), "purchase"),
        (7, at(3), "purchase"), (7, at(3), "purchase"),
        # 8: purchase before the click only -- clicked, not purchased
        (8, at(0), "view"), (8, at(1), "purchase"), (8, at(2), "click"),
        # 9: off-funnel event types are ignored
        (9, at(0), "view"), (9, at(1), "cart"), (9, at(2), "click"),
    ]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(events)), pa.int64()),
            "ts": pa.array([e[1] for e in events], pa.timestamp("us")),
            "user_id": pa.array([e[0] for e in events], pa.int64()),
            "event_type": [e[2] for e in events],
            "value": pa.array([1.0] * len(events)),
            "props": pa.array(["{}"] * len(events)),
        }),
        tmp_path / "events.parquet",
    )
    expected = _funnel_reference(events)
    assert expected == (8, 6, 3)  # the cases above, counted by hand
    row = entrymod.queries()["funnel_analysis"](spark, str(tmp_path)).collect()
    assert [tuple(r) for r in row] == [expected]


def test_shared_pair_counts_matches_combinations_reference(spark):
    """The sorted-set a<b pair expansion behind source_overlap_matrix and
    kmv_jaccard_sources against an itertools.combinations count."""
    from collections import Counter
    from itertools import combinations

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        shared_pair_counts,
    )

    rows = [
        ("s1", "a"),                                        # 1 source
        ("s1", "b"), ("s2", "b"),                           # 2 sources
        ("s3", "c"), ("s1", "c"), ("s2", "c"),              # 3, unsorted
        ("s4", "d"), ("s2", "d"), ("s3", "d"), ("s1", "d"),  # 4 sources
        ("s2", "e"), ("s2", "e"), ("s3", "e"),              # repeated source
        ("s4", "f"), ("s4", "f"),                           # 1 source, twice
    ]
    carriers: dict[str, set[str]] = {}
    for source, shingle in rows:
        carriers.setdefault(shingle, set()).add(source)
    expected = Counter(
        pair
        for sources in carriers.values()
        for pair in combinations(sorted(sources), 2)
    )
    # by hand: b:(1,2) c:(1,2)(1,3)(2,3) d:all six e:(2,3)
    assert expected == {
        ("s1", "s2"): 3, ("s1", "s3"): 2, ("s2", "s3"): 3,
        ("s1", "s4"): 1, ("s2", "s4"): 1, ("s3", "s4"): 1,
    }
    df = spark.createDataFrame(rows, "source string, shingle string")
    got = shared_pair_counts(df, "shingle", "source", "a", "b", "n").collect()
    assert {(r["a"], r["b"]): r["n"] for r in got} == expected
    assert len(got) == len(expected)
