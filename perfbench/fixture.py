"""Deterministic generator for the benchmark fixture.

Writes the ten tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
single-row-group parquet file each, with the schemas, value domains and
row counts of the sf0.1 test fixture (17 MB): uniform keys and payloads,
naive timestamps, a 30-word text vocabulary with 5% "<earlier text> dup"
near-duplicates, and unit-norm 64-dim float embeddings with random labels.

Usage: python3 perfbench/fixture.py <outDir> [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at sf0.1
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "users": 1_500, "documents": 5_000, "embeddings": 2_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "zh", "fr", "es"]
DIM = 64


def _strs(values):
    return pa.array(np.asarray(values, dtype=object).tolist(), type=pa.string())


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    langs = rng.choice(LANGS, n, p=[2 / 6, 1 / 6, 1 / 6, 1 / 6, 1 / 6])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": _strs(texts),
        "lang": _strs(langs),
        "source": _strs([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)),
            pa.array(v.reshape(-1))),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def tables(seed):
    """Yield (name, pyarrow.Table) for every fixture table, in a fixed order."""
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    yield "region", pa.table({"r_regionkey": i32(range(5)), "r_name": _strs(REGIONS)})
    yield "nation", pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": _strs([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)])})
    n = ROWS["customer"]
    yield "customer", pa.table({
        "c_custkey": i64(range(n)),
        "c_name": _strs([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _strs(rng.choice(SEGMENTS, n))})
    n = ROWS["supplier"]
    yield "supplier", pa.table({
        "s_suppkey": i64(range(n)),
        "s_name": _strs([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n))})
    n = ROWS["part"]
    yield "part", pa.table({
        "p_partkey": i64(range(n)),
        "p_name": _strs([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                         zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": _strs([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _strs(rng.choice(PART_TYPES, n)),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 1))})
    n = ROWS["orders"]
    yield "orders", pa.table({
        "o_orderkey": i64(range(n)),
        "o_custkey": i64(rng.integers(0, ROWS["customer"], n)),
        "o_orderstatus": _strs(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n)),
        "o_orderpriority": _strs(rng.choice(PRIORITIES, n))})
    n = ROWS["lineitem"]
    yield "lineitem", pa.table({
        "l_orderkey": i64(rng.integers(0, ROWS["orders"], n)),
        "l_partkey": i64(rng.integers(0, ROWS["part"], n)),
        "l_suppkey": i64(rng.integers(0, ROWS["supplier"], n)),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": _strs(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": _strs(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n))})
    n = ROWS["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, month_us, n)).astype("timedelta64[us]")
    yield "events", pa.table({
        "event_id": i64(range(n)),
        "ts": pa.array(ts),
        "user_id": i64(rng.integers(0, ROWS["users"], n)),
        "event_type": _strs(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": _strs([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    yield "documents", _documents(rng, ROWS["documents"])
    yield "embeddings", _embeddings(rng, ROWS["embeddings"])


def write(out_dir, seed=42):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed):
        pq.write_table(table, f"{out_dir}/{name}.parquet")


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 42)
