"""Seeded generator for the benchmark's batch input tables.

Writes the ten parquet tables the engine's queries read (the star schema,
`events`, `documents`, `embeddings`) with the column names, physical types
and value distributions of the project's fixture tables (FIXTURES.md §4):
uniform keys and categories, a 30-word vocabulary with 5% planted
near-duplicate documents, 64-dimensional unit embeddings, microsecond
timestamps. The same (seed, scale factor) always gives byte-identical
values; different seeds give different tables of the same shape.

Usage: python3 datagen.py <out_dir> <scale_factor> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "value", "vector", "window"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.42, 0.15, 0.14, 0.14, 0.15]


def _days(start, end, n, rng):
    """n uniform midnight timestamps in [start, end] as datetime64[us]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return (np.datetime64(start, "D") + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(int(150000 * sf), 10)
    n_supp = max(int(10000 * sf), 10)
    n_part = max(int(200000 * sf), 20)
    n_ord = max(int(1500000 * sf), 100)
    n_line = max(int(6000000 * sf), 400)
    n_ev = max(int(1000000 * sf), 100)
    n_docs = max(int(50000 * sf), 500)
    n_emb = max(int(20000 * sf), 500)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(rng.choice(names, n_part), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2), f64),
        "o_orderdate": pa.array(_days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2), f64),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, n_line), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2), f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(_days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line, rng), ts)})
    # events: ids in time order over 30 days, ~67 events per user
    month_us = 30 * 86400 * 10**6
    ev_ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts.astype("datetime64[us]"), ts),
        "user_id": pa.array(rng.integers(0, max(n_ev * 3 // 200, 2), n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # documents: 10-100 vocabulary words; 5% re-emit an earlier document
    # with a trailing " dup" token (planted near-duplicates)
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
