"""Deterministic input tables for the benchmark.

Writes the ten snapshot tables the engine's loaders read
(`<table>.parquet`, one file each) with the schemas `graft.Tables`
validates and the value shapes of the engine's own scale generator:
a TPC-H-ish star (4 lines per order), a 5-type event stream over a
30-day window, vocab-31 word-salad documents with ~4% planted
duplicates (half verbatim, half with one appended token) and 10-label
64-dim embeddings drawn around 100 latent clusters (label = cluster
mod 10) with ~2.5% planted near-identical copies.

The tables depend only on DATA_SEED and the row counts below, never on
the benchmark's `--seed` (which picks op order and maintenance batches),
so every run of every workload reads the same bytes.

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
ROWS = {"customer": 300, "supplier": 20, "part": 400, "orders": 3000,
        "events": 2000, "documents": 1200, "embeddings": 1000}
USERS = 40
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def money(rng, lo, span, n):
    return np.round(lo + rng.random(n) * span, 2)


def pick(rng, choices, n):
    return [choices[i] for i in rng.integers(0, len(choices), n)]


def days(base, offsets):
    return (np.datetime64(base, "us")
            + offsets.astype("timedelta64[D]").astype("timedelta64[us]"))


def tables(rng):
    n = ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(rng, -1000.0, 11000.0, c),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(rng, -1000.0, 11000.0, s)})
    p = n["part"]
    adj = pick(rng, ["large", "hot", "blue", "red", "small", "green", "cold",
                     "dark"], p)
    noun = pick(rng, ["ring", "bolt", "screw", "nut", "washer", "gear"], p)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": money(rng, 900.0, 100.0, p)})
    o = n["orders"]
    odays = rng.integers(0, 2405, o)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pick(rng, ["O", "F", "P"], o),
        "o_totalprice": money(rng, 1000.0, 499000.0, o),
        "o_orderdate": pa.array(days("1995-01-01", odays), pa.timestamp("us")),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], o)})
    li = 4 * o
    okey = np.arange(li) // 4
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(np.arange(li) % 4 + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 104100.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], li),
        "l_linestatus": pick(rng, ["O", "F"], li),
        "l_shipdate": pa.array(
            days("1995-01-01", odays[okey] + rng.integers(1, 121, li)),
            pa.timestamp("us"))})
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    out["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, e), pa.int64()),
        "event_type": pick(rng, ["view", "click", "purchase", "signup",
                                 "error"], e),
        "value": np.round(rng.random(e) * 560.0, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 0 and rng.random() < 0.04:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" if rng.random() < 0.5 else base)
        else:
            toks = rng.integers(0, len(VOCAB), int(rng.integers(30, 90)))
            texts.append(" ".join(VOCAB[t] for t in toks))
    lb = rng.integers(0, 20, d)
    langs = np.select([lb < 9, lb < 12, lb < 15, lb < 18],
                      ["en", "de", "es", "fr"], "zh")
    out["documents"] = pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    centers = rng.uniform(-1.0, 1.0, (100, 64))
    cluster = rng.integers(0, 100, m)
    labels = cluster % 10
    vecs = centers[cluster] + rng.uniform(-1.0, 1.0, (m, 64)) * 0.35
    near = (np.arange(m) > 0) & (rng.random(m) < 0.025)
    for i in np.nonzero(near)[0]:
        labels[i] = labels[i - 1]
        vecs[i] = vecs[i - 1] + rng.uniform(-1.0, 1.0, 64) * 0.01
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, t in tables(rng).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1])
