#!/usr/bin/env python3
"""Deterministic synthetic input tables for the benchmark.

Writes the ten parquet tables graft's query registry reads (a TPC-H-like
star schema plus `events`, `documents` and `embeddings`) with the same
schemas, value domains and row-count ratios as the project's test
fixtures. `sf` scales the row counts the way the fixtures do (lineitem is
6M * sf rows); `documents` and `embeddings` keep a 500-row floor.

The data seed is fixed, so the same `sf` always gives byte-identical
files: the pinned output fingerprints in `pins.json` depend on it.

Usage: python3 perfbench/gendata.py <out_dir> <sf>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]


def days(rng, n, start, end):
    """`n` midnight timestamps drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    d = lo + rng.randint(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    rng = np.random.RandomState(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, n_cust, -1000, 10000),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, n_supp, -1000, 10000)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.randint(0, 6, n_part)],
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_ord)],
        "o_totalprice": money(rng, n_ord, 1000, 500000),
        "o_orderdate": days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.randint(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.randint(1, 8, n_line), pa.int32()),
        "l_quantity": rng.randint(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, n_line, 900, 105000),
        "l_discount": np.round(rng.randint(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.randint(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n_line)],
        "l_shipdate": days(rng, n_line, "1995-01-02", "2001-11-04")})

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.randint(0, 30 * 86400 * 10**6, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.randint(0, 100, n_ev)]})

    texts = []
    for i in range(n_docs):
        if i > 0 and rng.rand() < 0.05:
            texts.append(texts[rng.randint(0, i)] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.randint(0, len(VOCAB), rng.randint(10, 101))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n_emb), pa.int32())})
    return out


def main():
    out_dir, sf = sys.argv[1], float(sys.argv[2])
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, tab in tables(sf).items():
        pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    main()
