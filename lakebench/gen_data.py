"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query packs read (`Tables.names`), one parquet
file each, with the column names, types and value domains of the
project's star schema: TPC-H-like region/nation/customer/supplier/part/
orders/lineitem plus events, documents and embeddings. Row counts scale
with `sf` the way the shipped test data does (orders = 1.5M x sf).
The same (sf, seed) always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "spring", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _days(rng, n, lo_day, hi_day):
    d = rng.integers(lo_day, hi_day + 1, n)
    return pa.array(EPOCH_1995 + d * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(),
                    pa.string())


def _orders(sf, seed):
    rng = np.random.default_rng([seed, 6])
    n, ncust = int(1_500_000 * sf), int(150_000 * sf)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, ncust, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, STATUSES, n),
        "o_totalprice": pa.array(_money(rng, n, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, n, 0, 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def tables(sf, seed):
    """Yield (name, pyarrow.Table) for every input table."""
    rng = lambda k: np.random.default_rng([seed, k])  # noqa: E731
    ncust, nsupp, npart = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    norders = int(1_500_000 * sf)
    yield "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    yield "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    r = rng(1)
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(ncust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(ncust)]),
        "c_nationkey": pa.array(r.integers(0, 25, ncust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(r, ncust, -999.99, 9999.99)),
        "c_mktsegment": _pick(r, SEGMENTS, ncust)})
    r = rng(2)
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(nsupp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(nsupp)]),
        "s_nationkey": pa.array(r.integers(0, 25, nsupp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(r, nsupp, -999.99, 9999.99))})
    r = rng(3)
    keys = np.arange(npart, dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            np.asarray(ADJ)[r.integers(0, 8, npart)], np.asarray(NOUN)[r.integers(0, 8, npart)])]),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, npart)]),
        "p_type": _pick(r, PART_TYPES, npart),
        "p_size": pa.array(r.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1))})
    yield "orders", _orders(sf, seed)
    r = rng(7)
    n = int(6_000_000 * sf)
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, norders, n, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, npart, n, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, nsupp, n, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, n, 900.0, 105000.0)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _days(r, n, 1, 2499)})
    r = rng(8)
    n, nusers = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    ts = np.sort(r.integers(0, 30 * DAY_US, n)) + EPOCH_2024
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, nusers, n, dtype=np.int64)),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])})
    yield "documents", _documents(rng(9), max(500, int(50_000 * sf)))
    r = rng(10)
    n = max(500, int(20_000 * sf))
    labels = r.integers(0, 10, n, dtype=np.int32)
    centroids = r.normal(0.0, 0.08, (10, 64))
    v = centroids[labels] + r.normal(0.0, 1.0, (n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels)})


def _documents(r, n):
    texts = [" ".join(np.asarray(WORDS)[r.integers(0, len(WORDS), r.integers(8, 100))])
             for _ in range(n)]
    # a few exact copies and a few near-duplicates (copy + one token), so
    # the dedup packs have something to find
    for i in r.choice(np.arange(n // 2, n), max(n // 200, 2), replace=False):
        texts[i] = texts[int(r.integers(0, n // 2))]
    for i in r.choice(np.arange(n // 2, n), max(n // 200, 2), replace=False):
        texts[i] = texts[int(r.integers(0, n // 2))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_tables(out_dir, sf, seed, names=TABLES):
    """Write the tables in `names` to `out_dir/<name>.parquet` unless a
    completed set is already there."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed):
        if name in names:
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
