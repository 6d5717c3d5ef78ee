"""Seeded generator for the sf0.1-shaped star schema the queries read.

Writes region, nation, supplier, customer, part, orders, lineitem,
events, documents and embeddings as parquet into one directory. The
shapes and value domains follow the schema `SparkEntry.queries`
expects at scale factor 0.1 (600k lineitems, 5,000 documents, 2,000
64-d embeddings, 100k events); the values come only from the seed.

Usage: python3 gen_tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
N_ORDERS = int(1_500_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
N_CUSTOMER = int(150_000 * SF)
N_PART = int(200_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_EVENTS = 100_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow "
         "agg key window table merge vector join").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, lo, hi):
    """Midnight timestamps (microseconds) uniformly between two dates."""
    d0 = np.datetime64(lo, "D").astype(np.int64)
    d1 = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(d0, d1 + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng):
    """Word-salad documents; ~15% are near-duplicates of an earlier
    document (a few words replaced, sometimes a `dup` marker) and a few
    are exact copies, so the dedup tiers have real clusters to find."""
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.15:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = \
                    WORDS[int(rng.integers(0, len(WORDS)))]
            if rng.random() < 0.5:
                words.append("dup")
            texts.append(" ".join(words))
        elif i > 10 and r < 0.152:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P).tolist()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng):
    """Unit vectors around ten label centres."""
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    centres = rng.normal(0, 1, (10, DIM))
    v = centres[labels] + rng.normal(0, 0.8, (N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def _events(rng):
    gaps = rng.exponential(30 * 86_400 / N_EVENTS, N_EVENTS)
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = t0 + np.cumsum(gaps * 1e6).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS).tolist()),
        "value": pa.array(np.round(rng.exponential(60, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, N_EVENTS)]),
    })


def generate(out_dir, seed):
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": i32(range(25)),
                            "n_name": pa.array([f"NATION_{k}"
                                                for k in range(25)]),
                            "n_regionkey": i32([k % 5 for k in range(25)])}),
        "supplier": pa.table({
            "s_suppkey": i64(range(N_SUPPLIER)),
            "s_name": pa.array([f"Supplier#{k:09d}"
                                for k in range(N_SUPPLIER)]),
            "s_nationkey": i32(rng.integers(0, 25, N_SUPPLIER)),
            "s_acctbal": pa.array(_money(rng, N_SUPPLIER, -999.99, 9999.99))}),
        "customer": pa.table({
            "c_custkey": i64(range(N_CUSTOMER)),
            "c_name": pa.array([f"Customer#{k:09d}"
                                for k in range(N_CUSTOMER)]),
            "c_nationkey": i32(rng.integers(0, 25, N_CUSTOMER)),
            "c_acctbal": pa.array(_money(rng, N_CUSTOMER, -999.99, 9999.99)),
            "c_mktsegment": pa.array(
                rng.choice(SEGMENTS, N_CUSTOMER).tolist())}),
        "part": pa.table({
            "p_partkey": i64(range(N_PART)),
            "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))]),
            "p_brand": pa.array([f"Brand#{k}" for k in
                                 rng.integers(1, 26, N_PART)]),
            "p_type": pa.array(rng.choice(PTYPES, N_PART).tolist()),
            "p_size": i32(rng.integers(1, 51, N_PART)),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 2))}),
        "orders": pa.table({
            "o_orderkey": i64(range(N_ORDERS)),
            "o_custkey": i64(rng.integers(0, N_CUSTOMER, N_ORDERS)),
            "o_orderstatus": pa.array(
                rng.choice(["O", "F", "P"], N_ORDERS).tolist()),
            "o_totalprice": pa.array(_money(rng, N_ORDERS, 1000, 500000)),
            "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(
                rng.choice(PRIORITIES, N_ORDERS).tolist())}),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, N_ORDERS, N_LINEITEM)),
            "l_partkey": i64(rng.integers(0, N_PART, N_LINEITEM)),
            "l_suppkey": i64(rng.integers(0, N_SUPPLIER, N_LINEITEM)),
            "l_linenumber": i32(rng.integers(1, 8, N_LINEITEM)),
            "l_quantity": pa.array(
                rng.integers(1, 51, N_LINEITEM).astype(np.float64)),
            "l_extendedprice": pa.array(
                _money(rng, N_LINEITEM, 900, 105000)),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
            "l_returnflag": pa.array(
                rng.choice(["A", "N", "R"], N_LINEITEM).tolist()),
            "l_linestatus": pa.array(
                rng.choice(["O", "F"], N_LINEITEM).tolist()),
            "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", "2001-11-04")}),
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
