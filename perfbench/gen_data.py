#!/usr/bin/env python3
"""Deterministic sf0.1 input tables for the benchmark.

Writes the ten parquet tables the engine reads (`graft.sources.Tables`)
with the schema, row counts and value distributions of the repository's
TPC-H-ish test data at scale factor 0.1: 600,000 lineitem rows over
150,000 orders, 20,000 parts (500 transit stops after the `% 500` stop
derivation), 100,000 events, 5,000 documents (5 % near-duplicates), and
2,000 unit-norm 64-d embeddings in 10 labelled clusters.

The data are fixed by DATA_SEED: every run measures the same tables, and
the workload seed only picks the order of operations and the requests.

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
SF = 0.1
N_ORDERS = int(1_500_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_PART = int(200_000 * SF)
N_EVENTS = 100_000
N_DOCS = 5_000
N_EMB = 2_000
EMB_DIM = 64

WORDS = ("spark line small fast group customer query row stream the batch sort "
         "value hash filter big data part column order scan a slow agg key "
         "window table merge vector join").split()


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * 86_400_000_000).astype("datetime64[us]")


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tables(seed=DATA_SEED):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], N_CUSTOMER)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART)
    adj = pick(rng, ["small", "new", "blue", "old", "large", "hot", "cold", "red"], N_PART)
    noun = pick(rng, ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"], N_PART)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": pick(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                             "PROMO"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-01", N_ORDERS)),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)})
    n = N_LINEITEM
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-04", n))})
    # events: increasing timestamps over 30 days, microsecond resolution
    gaps = rng.exponential(25_920_000.0, N_EVENTS).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + np.cumsum(gaps)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": pick(rng, ["signup", "click", "error", "view", "purchase"], N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    # documents: bags of words; 5 % are an earlier document plus " dup"
    # (two of those made from the same document are exact duplicates)
    texts = [" ".join(pick(rng, WORDS, int(k))) for k in rng.integers(10, 101, N_DOCS)]
    for i in rng.choice(np.arange(1, N_DOCS), 250, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": pick(rng, ["en"] * 8 + ["zh"] * 3 + ["de"] * 3 + ["fr"] * 3 + ["es"] * 3, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # embeddings: unit vectors scattered around one centre per label
    labels = rng.integers(0, 10, N_EMB)
    centres = rng.normal(0.0, 1.0, (10, EMB_DIM))
    v = centres[labels] + rng.normal(0.0, 1.2, (N_EMB, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir):
    """Write every table, then a stamp naming this recipe; a directory
    without the stamp, or with another recipe's, is rebuilt from scratch
    (its oracle answers included)."""
    with open(os.path.abspath(__file__), "rb") as f:
        recipe = f"seed={DATA_SEED} recipe={hashlib.sha256(f.read()).hexdigest()[:16]}\n"
    stamp = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == recipe:
                return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(recipe)


if __name__ == "__main__":
    write(sys.argv[1])
