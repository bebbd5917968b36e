"""Seeded tables for the query_mix workload.

Writes the ten tables the query registry reads (region nation customer
supplier part orders lineitem events documents embeddings), one parquet
file each, with the schemas, value domains and distributions of the
repository's TPC-H-ish test data (TESTDATA.md): uniform keys and
categories, exponential event values, 64-dim unit embeddings with a weak
per-label mean, and documents drawn from a 30-word vocabulary of which 5%
are near-duplicates (a copied text with " dup" appended).

Usage: python3 gen_tables.py <out_dir> <seed> <sf>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("merge window customer spark part group stream filter the sort scan vector "
         "join query big hash data column agg table line small slow key fast order "
         "row value a batch").split()
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes(sf):
    return {"customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
            "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
            "documents": int(50_000 * sf), "embeddings": max(500, int(20_000 * sf))}


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def cents(x):
    return np.round(x, 2)


def main(out, seed, sf):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def pick(values, k, p=None):
        return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), k, p=p)].tolist())

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    k = n["customer"]
    write("customer", {
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": cents(rng.uniform(-999.99, 9999.99, k)),
        "c_mktsegment": pick(SEGMENTS, k)})
    k = n["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": cents(rng.uniform(-999.99, 9999.99, k))})
    k = n["part"]
    write("part", {
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, k), rng.integers(0, 8, k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": pick(PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1)})
    k = n["orders"]
    order_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    write("orders", {
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": pick(STATUS, k),
        "o_totalprice": cents(rng.uniform(1000.0, 500000.0, k)),
        "o_orderdate": ts(EPOCH_1995 + rng.integers(0, order_days + 1, k) * US_PER_DAY),
        "o_orderpriority": pick(PRIORITY, k)})
    k = n["lineitem"]
    ship_days = (np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": cents(rng.uniform(900.0, 105000.0, k)),
        "l_discount": np.round(rng.integers(0, 11, k) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, k) / 100.0, 2),
        "l_returnflag": pick(["A", "N", "R"], k),
        "l_linestatus": pick(["F", "O"], k),
        "l_shipdate": ts(EPOCH_1995 + (1 + rng.integers(0, ship_days + 1, k)) * US_PER_DAY)})
    k = n["events"]
    offsets = np.sort(rng.integers(0, 30 * US_PER_DAY, k))
    write("events", {
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": ts(EPOCH_2024 + offsets),
        "user_id": pa.array(rng.integers(0, max(10, k // 66), k), pa.int64()),
        "event_type": pick(EVENT_TYPES, k),
        "value": cents(rng.exponential(50.0, k)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    k = n["documents"]
    texts = []
    for i in range(k):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))]))
    write("documents", {
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": pick(LANGS, k, p=LANG_P),
        "source": [f"src{i * 20 // k}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centers = rng.normal(0, 0.05, (10, 64))
    vecs = rng.normal(0, 1, (k, 64)) / 8.0 + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "sf": sf, "rows": n}, f)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
