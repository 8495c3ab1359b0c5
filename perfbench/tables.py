"""Seeded stand-ins for the registered queries' input tables.

The registered queries read ten parquet tables from one directory
(``sources/catalog.TABLES``): a TPC-H-like star schema, an ``events``
stream, and a ``documents``/``embeddings`` corpus. A checkout does not
hold them, so the query_suite workload writes them from its seed, with
the same column names, physical types and value shapes (key ranges,
category sets, one row group per file). Sizes default to the
0.01-scale the oracle checks use.

A pure function of (seed, scale): the same seed gives byte-identical
files. Nothing here touches Spark.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "hot", "big", "green", "cold", "shiny")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "anvil", "nut", "spring")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window",
)

# rows at scale 1.0 (the oracle-check scale is 0.01)
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000,
        "lineitem": 6_000_000, "events": 1_000_000, "documents": 50_000}


def _n(table: str, scale: float) -> int:
    return max(1, int(round(ROWS[table] * scale)))


def _days(rng, start: str, n_days: int, size: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, n_days, size).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng, values, size: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size)], pa.string())


def make_tables(seed: int, scale: float = 0.01) -> "dict[str, pa.Table]":
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    i32, i64 = pa.int32(), pa.int64()

    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    n = _n("customer", scale)
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = _n("supplier", scale)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = _n("part", scale)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), i64),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
    })
    n_orders = _n("orders", scale)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, t["customer"].num_rows, n_orders), i64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    n = _n("lineitem", scale)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), i64),
        "l_partkey": pa.array(rng.integers(0, t["part"].num_rows, n), i64),
        "l_suppkey": pa.array(rng.integers(0, t["supplier"].num_rows, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n),
    })
    n = _n("events", scale)
    # strictly increasing timestamps over January 2024, microsecond grain
    span_us = 30 * 86400 * 10**6
    steps = rng.uniform(0.2, 1.8, n)
    offsets = np.cumsum(steps) / steps.sum() * (span_us - 10**6)
    t["events"] = pa.table({
        "event_id": pa.array(range(n), i64),
        "ts": pa.array(np.datetime64(datetime(2024, 1, 1), "us") + offsets.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, n // 66), n), i64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(np.clip(rng.exponential(50.0, n), 0.01, None), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    t["documents"], t["embeddings"] = _corpus(rng, _n("documents", scale))
    return t


def _corpus(rng, n: int) -> "tuple[pa.Table, pa.Table]":
    """Texts of 8-90 words from a 30-word vocabulary; about 1 in 20 is an
    earlier text plus the token ``dup`` (a near-duplicate). Embeddings
    are unit vectors of 64 float32s with a 0-9 label."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(8, 91)))]))
    vecs = rng.normal(size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    ids = pa.array(range(n), pa.int64())
    docs = pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return docs, emb


def write_tables(tables: "dict[str, pa.Table]", out_dir: str) -> None:
    """``<out_dir>/<table>.parquet``, one row group each."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
