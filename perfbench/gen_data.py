#!/usr/bin/env python3
"""Seeded sf0.1-sized tables for the benchmark.

Writes one parquet file per table into an output directory, with the same
names, column names and physical types as the project's sf0.1 test data
(TESTDATA.md): region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings.  Row counts are fixed; only the values depend
on the seed, so every seed gives the same amount of work.

Usage: python3 perfbench/gen_data.py <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"]
STATUSES = ["O", "P", "F"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def micros(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def cents(rng, lo, hi, n):
    """Doubles with exactly two decimals, like the test data's prices."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def ts(values):
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    n = ROWS["customer"]
    write(out, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})

    n = ROWS["supplier"]
    write(out, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": cents(rng, -999.99, 9999.99, n)})

    n = ROWS["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n)]
    write(out, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)})

    n = ROWS["orders"]
    d0, d1 = micros("1995-01-01"), micros("2001-08-01")
    write(out, "orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n)],
        "o_totalprice": cents(rng, 1000.0, 500000.0, n),
        "o_orderdate": ts(rng.integers(0, (d1 - d0) // DAY_US + 1, n) * DAY_US + d0),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})

    # Line items: unique (l_orderkey, l_linenumber), numbered from 1 per order.
    n = ROWS["lineitem"]
    okey = np.sort(rng.integers(0, ROWS["orders"], n))
    first = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    starts = np.repeat(first, np.diff(np.r_[first, n]))
    lineno = np.arange(n) - starts + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    s0, s1 = micros("1995-01-02"), micros("2001-11-04")
    flag = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    write(out, "lineitem", {
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": rng.integers(0, ROWS["part"], n),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * cents(rng, 900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flag,
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": ts(rng.integers(0, (s1 - s0) // DAY_US + 1, n) * DAY_US + s0)})

    n = ROWS["events"]
    e0 = micros("2024-01-01")
    write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts(np.sort(rng.integers(0, 30 * DAY_US, n)) + e0),
        "user_id": rng.integers(0, 1500, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": cents(rng, 0.0, 560.0, n),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")})

    # Documents: word salad over a small vocabulary; a few exact
    # duplicates and near-duplicates so dedup work has something to find.
    n = ROWS["documents"]
    words = np.array(WORDS)
    texts = []
    for _ in range(n):
        texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(8, 80)))]))
    for i in rng.choice(n, 40, replace=False):
        j = int(rng.integers(0, n))
        texts[i] = texts[j] if i % 2 else texts[j] + " " + WORDS[int(rng.integers(0, len(WORDS)))]
    write(out, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # Embeddings: 64-d unit vectors around ten label centroids.
    n = ROWS["embeddings"]
    label = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] + rng.normal(0, 0.6, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
