#!/usr/bin/env python3
"""Write the driver-query tables (TPC-H-style star schema, an event stream,
documents and embeddings) as one parquet file per table, from a seed.

    python3 hepbench/gen_tables.py <out dir> <seed>

Sizes and value shapes follow the sf0.01 scale of the driver queries in
graft.SparkEntry (10,000 events, 60,000 line items, 500 embeddings), except
that there are 250 documents, not 500: the DuckDB oracle checks document
pairs by brute force, and that check must fit in one benchmark run. The
same seed gives the same files.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]


def ts(base, seconds):
    return pa.array((np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]")),
                    pa.timestamp("us"))


def tables(rng):
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_doc, n_vec = \
        1500, 100, 2000, 15000, 60000, 10000, 250, 500
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    yield "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}
    yield "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}
    yield "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999, 9999, n_supp)}
    adj = ["small", "red", "blue", "hot", "cold", "big"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "nut"]
    yield "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"][t]
                   for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)}
    yield "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": ts("1995-01-01", rng.integers(0, 2000, n_ord) * 86400.0),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]}
    yield "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": money(900, 100000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": [["A", "N", "R"][f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [["F", "O"][s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": ts("1995-01-02", rng.integers(0, 2500, n_line) * 86400.0)}
    gaps = rng.exponential(259.0, n_ev)
    yield "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts("2024-01-01", np.round(np.cumsum(gaps), 6)),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": money(0.01, 490, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n))
             for n in rng.integers(8, 100, n_doc)]
    # one document in twenty is an earlier one with a word appended, so the
    # near-duplicate detectors have pairs to find
    for i in np.nonzero(rng.random(n_doc) < 0.05)[0]:
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    yield "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    vecs = rng.normal(0, 1, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    yield "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())}


def main():
    out, seed = sys.argv[1], int(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    for name, cols in tables(np.random.default_rng(seed)):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
