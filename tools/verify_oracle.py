"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
width, and order-insensitive values (exact; floats must be bit-identical --
that is the bar the registry's decimal-accumulator convention targets).

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
       python tools/verify_oracle.py --json OUT.json [sf_dir] [query ...]

--json additionally writes the per-query results in the driver's
CORRECTNESS_r*.json schema ({name: {rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}}), so the round's correctness artifact can be
produced and committed in-round (VERDICT r08 #1).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from sqldataintegrationfunctiontriggerapp_spark.catalog import TABLES
from sqldataintegrationfunctiontriggerapp_spark.session import get_session
import __spark_entry__ as entrymod


def canon(rows, ndigits=None):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(repr(v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}
    spark = get_session()
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single files; local gen_sf1.py fixtures are
        # directories of per-replica files -- glob those for DuckDB
        pat = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(pat):
            pat += "/*.parquet"
        elif not os.path.exists(pat):
            # partial fixtures (e.g. the boilerplate sfb* dirs carry only
            # documents/nation/region): register what exists so the
            # document-family queries can be oracle-checked there; a query
            # touching a missing table fails loudly at its own row
            continue
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{pat}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    n_checked = 0
    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        stage_ledger_tick,
    )

    for name, fn in queries.items():
        if only and name not in only:
            continue
        # query boundary: bound shared-stage checkpoint residency the same
        # way bench.py does (LRU past the ledger's 2048 MB budget)
        stage_ledger_tick(spark)
        n_checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = [[row[c] for c in scols] for row in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": 0, "oracle_rows": 0,
                "err": f"spark error: {e}"[:500],
            }
            print(f"FAIL  {name}: spark error: {e}")
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            results[name] = {
                "rows_match": len(srows) >= 0, "schema_match": True,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": 0, "err": "rows-only (no oracle)",
            }
            print(f"ok?   {name}: rows-only ({len(srows)} rows, spark {t_spark:.1f}s)")
            continue
        t0 = time.time()
        try:
            orel = con.sql(oracles[name])
            ocols_raw = orel.columns
            order = sorted(range(len(ocols_raw)), key=lambda i: ocols_raw[i])
            ocols = [ocols_raw[i] for i in order]
            orows = [[r[i] for i in order] for r in orel.fetchall()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": 0, "err": f"duckdb error: {e}"[:500],
            }
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = []
        schema_ok = [c.lower() for c in scols] == [c.lower() for c in ocols]
        rows_ok = len(srows) == len(orows)
        hash_ok = False
        if not schema_ok:
            problems.append(f"schema: spark={scols} duck={ocols}")
        if not rows_ok:
            problems.append(f"rowcount: spark={len(srows)} duck={len(orows)}")
        if not problems:
            cs, co = canon(srows), canon(orows)
            hash_ok = cs == co
            if not hash_ok:
                for i, (a, b) in enumerate(zip(cs, co)):
                    if a != b:
                        problems.append(f"first value diff at sorted row {i}:\n  spark={a}\n  duck ={b}")
                        break
                else:
                    problems.append("value diff in trailing rows")
        results[name] = {
            "rows_match": rows_ok, "schema_match": schema_ok,
            "hash_match": hash_ok, "spark_rows": len(srows),
            "oracle_rows": len(orows), "err": None,
        }
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(
                f"PASS  {name} ({len(srows)} rows, spark {t_spark:.1f}s,"
                f" duck {time.time()-t0:.1f}s)"
            )
    print(
        f"\n{n_checked - len(failures)}/{n_checked} checked ok"
        f" ({len(queries)} registered); failures: {failures}"
    )
    if json_out:
        import json as jsonmod

        with open(json_out, "w") as f:
            jsonmod.dump(results, f, indent=2)
        print(f"wrote {json_out} ({len(results)} records)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
