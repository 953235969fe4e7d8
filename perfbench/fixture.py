"""Seeded input tables for the benchmark.

The engine's catalog reads ten parquet tables from one directory
(``catalog.TABLE_NAMES``); FIXTURES.md group A gives their schemas. This
module writes such a directory in two steps:

1. ``base_tables`` draws every table at a fixed scale from a fixed seed, so
   the workload's shape (dup clusters, co-order graph, origins per area)
   is the same on every run;
2. ``derive`` removes a small seeded fraction of the entity keys, so each
   ``--seed`` is a distinct input of nearly the same size.

Nations are never removed: with 25 of them, one removal alone would move a
``ram_job`` pass's work by 4%.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42
# sf0.01 row counts (customer 1,500, orders 15,000, lineitem ~60,000,
# documents 500). At this scale each workload query runs the same jobs,
# stages and tasks as on the seed-42 fixture tables of the same scale
# (README.md, "Input scale"); at sf0.1 connected components would not
SCALE = 0.01
DROP_FRACTION = 0.01

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("view", "click", "purchase", "error")
DUP_SHARE = 0.05

_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _dates(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    d = _EPOCH_1995 + rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(WORDS, rng.integers(10, 101)))
        for _ in range(n)
    ]
    # near-duplicates: a copy of another document plus one marker token
    for i in rng.choice(n, int(n * DUP_SHARE), replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def base_tables(scale: float = SCALE, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """Every catalog table at ``scale`` (sf1 row counts × scale)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = 4 * n_ord
    n_doc = int(50_000 * scale)
    n_ev = int(1_000_000 * scale)
    i32 = pa.int32()

    def keys(n: int) -> np.ndarray:
        return np.arange(n, dtype=np.int64)

    t = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": keys(n_cust),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": keys(n_supp),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": keys(n_part),
            "p_name": rng.choice(["small ring", "red widget", "blue gear"], n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": 900.0 + np.arange(n_part) % 1000 / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": keys(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _dates(rng, n_ord, 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _dates(rng, n_line, 2500),
        }),
        "events": pa.table({
            "event_id": keys(n_ev),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us")
                + np.cumsum(rng.integers(0, 400_000_000, n_ev)).astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, 100, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": _money(rng, n_ev, 0.0, 100.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": pa.table({
            "vec_id": keys(n_doc),
            "embedding": pa.array(
                list(rng.standard_normal((n_doc, 64)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 10, n_doc), i32),
        }),
    }
    return t


def derive(tables: dict[str, pa.Table], seed: int,
           fraction: float = DROP_FRACTION) -> dict[str, pa.Table]:
    """Drop a seeded ``fraction`` of customer, supplier, order and document
    keys; line items of dropped orders go with them."""
    rng = np.random.default_rng(seed)
    out = dict(tables)

    def drop(name: str, key: str) -> pa.Array:
        keys = tables[name][key]
        gone = pa.array(
            rng.choice(keys.to_numpy(), int(len(keys) * fraction), replace=False)
        )
        out[name] = tables[name].filter(pc.invert(pc.is_in(keys, gone)))
        return gone

    drop("customer", "c_custkey")
    drop("supplier", "s_suppkey")
    drop("documents", "doc_id")
    gone = drop("orders", "o_orderkey")
    li = tables["lineitem"]
    out["lineitem"] = li.filter(pc.invert(pc.is_in(li["l_orderkey"], gone)))
    return out


def write_fixture(out_dir: str, seed: int) -> dict[str, int]:
    """Write the derived tables for ``seed`` as ``<out_dir>/<name>.parquet``;
    return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in derive(base_tables(), seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
