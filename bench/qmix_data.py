"""Seeded generator of the query-mix input tables.

Writes the ten TPC-H-ish tables the `SparkEntry.queries` read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file each, with the schemas and value domains of
the engine's standard test data. `sf` scales the row counts (sf 0.01 =
60k lineitems). The same seed and sf give byte-identical files.

    python3 qmix_data.py <out_dir> <seed> [sf]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
SEGMENTS = ["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"]
PART_WORDS = ["small", "red", "blue", "green", "large", "steel", "brass"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "valve", "pipe"]
PART_TYPES = ["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en"] * 9 + ["fr", "zh", "de", "es"] * 3


def _ts(days_from, rng_days, rnd, n, with_time):
    base = np.datetime64(days_from, "us")
    offs = rnd.randint(0, rng_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    if with_time:
        offs = offs + rnd.randint(0, 86_400_000_000, n).astype("timedelta64[us]")
    return base + offs


def generate(out, seed, sf=0.01):
    rnd = np.random.RandomState(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_events, n_docs, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), 500, 500
    n_users = max(10, int(15_000 * sf))

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                       compression="snappy")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rnd.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rnd.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rnd.randint(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rnd.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rnd.uniform(-999.99, 9999.99, n_supp), 2)})
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in
                   zip(rnd.randint(0, len(PART_WORDS), n_part), rnd.randint(0, len(PART_NOUNS), n_part))],
        "p_brand": [f"Brand#{i}" for i in rnd.randint(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rnd.randint(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rnd.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rnd.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rnd.randint(0, 3, n_ord)],
        "o_totalprice": np.round(rnd.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_ts("1995-01-01", 2404, rnd, n_ord, False), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rnd.randint(0, 5, n_ord)]})
    n_li = n_ord * 4
    qty = rnd.randint(1, 51, n_li).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(rnd.randint(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rnd.randint(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rnd.randint(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rnd.randint(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rnd.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": np.round(rnd.randint(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rnd.randint(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rnd.randint(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rnd.randint(0, 2, n_li)],
        "l_shipdate": pa.array(_ts("1995-01-02", 2498, rnd, n_li, False), pa.timestamp("us"))})
    ts = np.sort(_ts("2024-01-01", 30, rnd, n_events, True))
    write("events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rnd.randint(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rnd.randint(0, 5, n_events)],
        "value": np.round(rnd.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rnd.randint(0, 100, n_events)]})
    texts = []
    for _ in range(n_docs):
        words = [WORDS[i] for i in rnd.randint(0, len(WORDS), rnd.randint(8, 90))]
        if rnd.rand() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rnd.randint(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rnd.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array([v.astype(np.float32) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(rnd.randint(0, 10, n_emb), pa.int32())})
    return n_cust + n_supp + n_part + n_ord + n_li + n_events + n_docs + n_emb + 30


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01))
