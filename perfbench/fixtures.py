"""Seeded synthetic fixtures for the benchmark.

Writes the engine's fixture tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the schemas and value domains the registry's plans and oracles
expect (FIXTURES.md). Row counts scale with ``sf`` the way TPC-H does. The
same (sf, seed) always gives byte-identical tables.

Differences from the engine's reference fixtures: events are numbered in
(ts, event_id) order, so the change backlog the CDC workload stages in that
order is keyed by a unique, increasing event_id.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "new", "hot", "cold", "large", "old", "blue"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark sort window line order data column join small customer query "
    "filter group stream big"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_US_PER_DAY = 86_400_000_000


def _rows(base: int, sf: float, floor: int = 1) -> int:
    return max(floor, int(round(base * sf)))


def _days(rng, n: int, lo_day: int, hi_day: int) -> np.ndarray:
    d = rng.integers(lo_day, hi_day + 1, n)
    return _EPOCH_1995 + d.astype("int64") * _US_PER_DAY


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(
    sf: float, seed: int, only: list[str] | None = None
) -> dict[str, pa.Table]:
    """Fixture tables for scale factor ``sf`` from ``seed`` (all of them,
    or those named in ``only``; either way from the same random stream)."""
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_supp = _rows(10_000, sf, 10)
    n_cust = _rows(150_000, sf, 150)
    n_part = _rows(200_000, sf, 200)
    n_ord = _rows(1_500_000, sf, 1_500)
    n_li = _rows(6_000_000, sf, 6_000)
    n_ev = _rows(1_000_000, sf, 1_000)
    n_doc = _rows(50_000, sf, 500)
    n_emb = _rows(20_000, sf, 500)
    n_users = _rows(15_000, sf, 150)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": pa.array(_days(rng, n_ord, 0, 2404), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    # 1-7 lines per order until n_li rows; (orderkey, linenumber) unique
    lines = rng.integers(1, 8, n_ord)
    total = np.cumsum(lines)
    n_li = min(n_li, int(total[-1]))
    cut = int(np.searchsorted(total, n_li))
    lines = lines[: cut + 1]
    li_order = np.repeat(np.arange(len(lines), dtype="int64"), lines)[:n_li]
    starts = np.repeat(total[: len(lines)] - lines, lines)[:n_li]
    li_num = (np.arange(n_li) - starts + 1).astype("int32")
    perm = rng.permutation(n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": li_order[perm],
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": li_num[perm],
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, 1, 2499), pa.timestamp("us")),
    })

    # events: a change log numbered in (ts, event_id) order over 30 days
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(_EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(60.0, n_ev), 560.0), 2),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
        ),
    })

    n_words = rng.integers(8, 96, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_doc)]
    # a few exact duplicates, as a crawled corpus has
    for i in rng.choice(n_doc, max(1, n_doc // 500), replace=False):
        texts[i] = texts[(i + 1) % n_doc]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    })
    return {k: v for k, v in t.items() if only is None or k in only}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def stage_change_files(
    table: pa.Table, out_dir: str, rows_per_file: int
) -> list[str]:
    """Split a change backlog into numbered parquet files of
    ``rows_per_file`` rows, in table order. Files are written in name
    order, so a file source replays them in that order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, off in enumerate(range(0, table.num_rows, rows_per_file)):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(off, rows_per_file), p)
        paths.append(p)
    return paths
