#!/usr/bin/env python3
"""Seeded generator for the sf-scaled star schema graft's registry reads.

Writes the ten tables every `SparkEntry.queries` builder resolves
(`region nation customer supplier part orders lineitem events documents
embeddings`, one parquet file each) with the column names, physical
types and value domains of the reference testdata, so the registry
queries and their DuckDB twins run unchanged. Row counts scale with the
scale factor like the reference (lineitem = 6M x sf; documents and
embeddings floor at 500 rows). The same seed gives byte-identical
tables.

Usage: python3 gen_tables.py <out_dir> <scale_factor> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DAY_US = 86_400_000_000


def ts_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def timestamps(us):
    return pa.array(us, pa.timestamp("us"))


def documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # near duplicates: 5% of docs repeat an earlier doc's text plus a
    # marker token; 0.2% are exact copies
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif r < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dims=64, labels=10):
    centroids = rng.normal(0, 1, (labels, dims))
    label = rng.integers(0, labels, n)
    v = 0.6 * centroids[label] + rng.normal(0, 1, (n, dims))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dims + 1, dims, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": label.astype(np.int32),
    })


def generate(out, sf, seed):
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 15)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 150)
    n_line = max(int(6_000_000 * sf), 600)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)
    t95, t01 = ts_us(1995, 1, 1), ts_us(2001, 8, 1)
    t24 = ts_us(2024, 1, 1)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(rng, SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                               pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pick(rng, PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": money(rng, 1000, 500000, n_ord),
            "o_orderdate": timestamps(t95 + rng.integers(0, (t01 - t95) // DAY_US + 1, n_ord) * DAY_US),
            "o_orderpriority": pick(rng, PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": pick(rng, ["F", "O"], n_line),
            "l_shipdate": timestamps(t95 + DAY_US + rng.integers(0, 2499, n_line) * DAY_US)}),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": timestamps(np.sort(t24 + rng.integers(0, 30 * DAY_US, n_ev))),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())}),
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs),
    }
    os.makedirs(out, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"), compression="snappy")


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
