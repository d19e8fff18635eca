"""Seeded tables for the catalog sweep, in the shape the catalog reads.

Ten parquet files (one per table of ``schemas.TESTDATA_TABLES``), with the
column types, value domains and key relationships of the engine's test
tables at their smallest scale: TPC-H-like orders and line items, a
30-day event stream, 500 documents over a 31-word vocabulary of which a
fifth are near-duplicates (one or two words edited) of an earlier one, and
500 random unit vectors of 64 floats.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "bolt", "gear", "gizmo", "ring", "plate", "anvil", "spring")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
         "table", "the", "value", "vector", "window")

# Row counts (the engine's smallest test scale).
SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "events": 1000, "documents": 500, "embeddings": 500}


def _day(start: datetime, days: np.ndarray) -> pa.Array:
    return pa.array([start + timedelta(days=int(d)) for d in days], pa.timestamp("us"))


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p, n_o = (SIZES[k] for k in ("customer", "supplier", "part", "orders"))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda vals, n: [vals[i] for i in rng.integers(0, len(vals), n)]  # noqa: E731

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_c),
        "c_mktsegment": pick(SEGMENTS, n_c)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_s)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pick(PART_ADJ, n_p), pick(PART_NOUN, n_p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": pick(PART_TYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 1)})

    order_day = rng.integers(0, 2403, n_o)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": pick(("F", "O", "P"), n_o),
        "o_totalprice": money(1000.0, 500000.0, n_o),
        "o_orderdate": _day(datetime(1995, 1, 1), order_day),
        "o_orderpriority": pick(PRIORITIES, n_o)})

    lines = rng.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_l = len(okey)
    qty = rng.integers(1, 51, n_l).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) * 0.01, 2),
        "l_returnflag": pick(("A", "N", "R"), n_l),
        "l_linestatus": pick(("F", "O"), n_l),
        "l_shipdate": _day(datetime(1995, 1, 2), order_day[okey] + rng.integers(0, 122, n_l))})

    n_e = SIZES["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_e), pa.int64()),
        "ts": pa.array([datetime(2024, 1, 1) + timedelta(microseconds=int(o)) for o in offs],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_e), pa.int64()),
        "event_type": pick(EVENT_TYPES, n_e),
        "value": money(0.01, 490.0, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})

    n_d = SIZES["documents"]
    texts: list[str] = []
    for i in range(n_d):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = pick(VOCAB, int(rng.integers(8, 90)))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_d), pa.int64()),
        "text": texts,
        "lang": pick(LANGS, n_d),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    n_v = SIZES["embeddings"]
    vecs = rng.standard_normal((n_v, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_v), pa.int32())})
    return t


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
