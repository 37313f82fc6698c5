#!/usr/bin/env python3
"""Generate the analytics workload's input tables.

Writes one Parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the column names and
types the query catalog (`graft.Queries`) reads: a TPC-H-like star schema,
an event stream, a text corpus and an embedding table. Row counts scale
with --scale (1.0 would be 6M lineitem rows). The data depends only on
--data-seed, so outputs recorded once stay valid.

Usage: python3 perfbench/gen_tables.py --out DIR [--scale 0.02]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query stream row the group fast spark line customer small data big "
         "hash value sort batch filter dup merge agg column a vector window "
         "join table scan order slow part key").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
NOUN = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def days(rng, n, start, end):
    """n midnight timestamps uniform in [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, scale, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(100, int(150000 * scale))
    n_supp = max(10, int(10000 * scale))
    n_part = max(100, int(200000 * scale))
    n_ord = max(1000, int(1500000 * scale))
    n_line = max(4000, int(6000000 * scale))
    n_ev = max(1000, int(1000000 * scale))
    n_users = max(10, int(15000 * scale))
    n_docs = max(100, int(50000 * scale))
    n_emb = max(200, int(20000 * scale))

    i32 = lambda xs: pa.array(xs, pa.int32())
    i64 = lambda xs: pa.array(xs, pa.int64())
    s = lambda xs: pa.array(xs, pa.string())

    write(out, "region", {"r_regionkey": i32(range(5)), "r_name": s(REGIONS)})
    write(out, "nation", {"n_nationkey": i32(range(25)),
                          "n_name": s([f"NATION_{i}" for i in range(25)]),
                          "n_regionkey": i32([i % 5 for i in range(25)])})
    write(out, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": s([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": s(rng.choice(SEGMENTS, n_cust))})
    write(out, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": s([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    write(out, "part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": s([f"{ADJ[a]} {NOUN[b]}" for a, b in
                     zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": s([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": s(rng.choice(PTYPES, n_part)),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    write(out, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": s(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": money(rng, n_ord, 1000, 500000),
        "o_orderdate": days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": s(rng.choice(PRIORITIES, n_ord))})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": s(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": s(rng.choice(["F", "O"], n_line)),
        "l_shipdate": days(rng, n_line, "1995-01-02", "2001-11-04")})

    # events: increasing timestamps over 30 days, microsecond precision
    span_us = 30 * 24 * 3600 * 10**6
    gaps = rng.exponential(1.0, n_ev)
    offs = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - 10**6)).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    write(out, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": s(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": s([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    vocab = np.array(VOCAB)
    lens = rng.integers(8, 90, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    write(out, "documents", {
        "doc_id": i64(np.arange(n_docs)),
        "text": s(texts),
        "lang": s(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": s([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": i64([len(t) for t in texts])})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": i32(labels)})


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=0.02)
    ap.add_argument("--data-seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.out, a.scale, a.data_seed)


if __name__ == "__main__":
    main()
