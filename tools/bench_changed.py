"""sf1 regression hook (VERDICT r08 #6): bench every query whose plan code
changed this round at BOTH sf0.1 (driver fixture) and sf1 (the local 10x
fixture from tools/gen_sf1.py), and emit the COVERAGE.md scaling-table rows.

The changed set is the same one the sweep generator computes
(tools/gen_sweep.py changed_query_set -- git diff vs the round-boundary
commit resolved through the import graph), so "what gets re-benched"
and "what jumps the correctness sweep" cannot drift apart.

Method matches the r08 sf1 spot-bench: bench.py suite-style (noop sink,
clearCache between queries, registry-natural order), a 4g driver heap
(SPARK_GRAFT_EXTRA_CONF=spark.driver.memory=4g) on both sides; a
SPARK_GRAFT_EXTRA_CONF already set is appended and wins. Linear scaling
would be ~10x; the table records the measured ratio per query.

Usage: python tools/bench_changed.py [--queries a,b,c] [--sf1 DIR] [--base C]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def run_bench(sf_dir: str, queries: list[str],
              driver_mem: str = "4g") -> dict[str, float]:
    extra = [f"spark.driver.memory={driver_mem}",
             os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")]
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_QUERIES=",".join(queries),
        SPARK_GRAFT_EXTRA_CONF=";".join(c for c in extra if c),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, cwd=REPO, check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()[-1]
    return json.loads(out)["queries"]


def main() -> int:
    args = sys.argv[1:]

    def opt(name, default):
        return args[args.index(name) + 1] if name in args else default

    sf1_dir = opt("--sf1", os.path.join(REPO, ".localdata", "sf1"))
    if "--queries" in args:
        queries = [q.strip() for q in opt("--queries", "").split(",") if q.strip()]
    else:
        from gen_sweep import changed_query_set, round_base_commit

        base = opt("--base", None) or round_base_commit()
        queries = sorted(changed_query_set(base))
        print(f"changed vs {base[:12]}: {len(queries)} queries", file=sys.stderr)
    if not queries:
        print("no changed queries; nothing to bench", file=sys.stderr)
        return 0
    if not os.path.isdir(sf1_dir):
        raise SystemExit(f"sf1 fixture missing: {sf1_dir} (run tools/gen_sf1.py)")

    t01 = run_bench("/root/testdata/sf0.1", queries)
    t1 = run_bench(sf1_dir, queries)
    # optional third column: --sf10 DIR benches the 100x fixture with the
    # sf10 method from COVERAGE.md (8g driver; shuffle partitions are
    # bytes-derived by catalog.derive_shuffle_partitions)
    sf10_dir = opt("--sf10", None)
    t10 = None
    if sf10_dir:
        if not os.path.isdir(sf10_dir):
            raise SystemExit(f"sf10 fixture missing: {sf10_dir}")
        t10 = run_bench(sf10_dir, queries, driver_mem="8g")
    hdr10 = " sf10 s | ratio10 |" if t10 else ""
    print(f"| query | sf0.1 s | sf1 s | ratio |{hdr10}")
    print("|---|---|---|---|" + ("---|---|" if t10 else ""))
    tot01 = tot1 = tot10 = 0.0
    # the sf10 ratio must compare MATCHED query sets: summing 7 sf10 times
    # against 10 sf1 times biases the printed ratio low, so the sf10 total
    # carries its own sf1 denominator restricted to queries that ran there
    tot1_of_t10 = 0.0
    for q in queries:
        a, b = t01.get(q), t1.get(q)
        if a is None or b is None:
            continue
        tot01 += a
        tot1 += b
        row = f"| `{q}` | {a:.2f} | {b:.2f} | {b / a:.1f}× |"
        if t10:
            # keep the table rectangular when a query has no sf10 time
            # (e.g. it failed there) -- placeholder cells, and the total
            # row names the exclusions so the subset total is honest
            if q in t10:
                c = t10[q]
                tot10 += c
                tot1_of_t10 += b
                row += f" {c:.2f} | {c / b:.1f}× |"
            else:
                row += " — | — |"
        print(row)
    total = (f"| **changed-set total** | **{tot01:.1f}** | **{tot1:.1f}** "
             f"| **{tot1 / tot01:.1f}×** |")
    if t10:
        total += (f" **{tot10:.1f}** | "
                  f"**{tot10 / max(tot1_of_t10, 1e-9):.1f}×** |")
    print(total)
    if t10:
        missing = [q for q in queries
                   if q in t01 and q in t1 and q not in t10]
        if missing:
            print(f"\nsf10 total excludes {len(missing)} "
                  f"quer{'y' if len(missing) == 1 else 'ies'} with no sf10 "
                  f"time: {', '.join(missing)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
