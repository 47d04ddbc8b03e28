#!/usr/bin/env python3
"""Seeded generator of the registry fixture: the ten parquet tables the
query registry reads (region, nation, supplier, customer, part, orders,
lineitem, documents, embeddings, events), with the column names, types and
value ranges of the engine's reference fixtures at their smallest scale.

Usage: python3 enginebench/fixture.py <out_dir> <seed>

The same seed writes byte-identical files.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the reference fixture at scale factor 0.001
ROWS = {"supplier": 10, "customer": 150, "part": 200, "orders": 1500,
        "lineitem": 6000, "documents": 500, "embeddings": 500, "events": 1000}
DIM = 64
WORDS = ["fast", "small", "spark", "group", "customer", "line", "sort", "hash",
         "batch", "dup", "data", "filter", "value", "big", "key", "order",
         "table", "scan", "merge", "part", "window", "join", "slow", "agg",
         "column", "a", "vector", "the", "stream", "query", "row"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "large", "cold", "hot", "old", "new", "red", "blue"]
NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENTS = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
DAY_US = 86_400_000_000


def days(rng, n, start, end):
    """Midnight timestamps (microseconds) uniform over [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * DAY_US


def cents(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n = ROWS
    ts = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": cents(rng, n["supplier"], -999.99, 9999.99)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": cents(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])]})
    np_ = n["part"]
    retail = np.round(900.0 + (np.arange(np_) % 200) * 0.1, 1)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), np_), rng.integers(0, len(NOUN), np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": [PTYPES[i] for i in rng.integers(0, len(PTYPES), np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": retail})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": cents(rng, no, 1000.0, 500000.0),
        "o_orderdate": pa.array(days(rng, no, "1995-01-01", "2001-08-01"), ts),
        "o_orderpriority": [PRIOS[i] for i in rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    partkey = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    price = np.round(qty * retail[partkey] * rng.uniform(0.99, 6.0, nl), 2)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(days(rng, nl, "1995-01-02", "2001-11-04"), ts)})
    nd = n["documents"]
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100)))
             for _ in range(nd)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    ne = n["embeddings"]
    emb = rng.standard_normal((ne, DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(ne), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32())})
    nv = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, nv))
    out["events"] = pa.table({
        "event_id": pa.array(range(nv), pa.int64()),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, 15, nv), pa.int64()),
        "event_type": [EVENTS[i] for i in rng.integers(0, 5, nv)],
        "value": cents(rng, nv, 0.01, 330.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nv)]})
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
