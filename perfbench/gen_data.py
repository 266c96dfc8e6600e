#!/usr/bin/env python3
"""Deterministic fixture generator for the benchmark.

Writes the ten tables the queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, with the schemas, domains and row counts of the
project's seed-42 fixtures at the requested scale factor (see
FIXTURES.md for the schemas). Every value is drawn from one numpy
generator seeded with 42, so the same scale factor always yields the
same bytes.

Usage: python3 perfbench/gen_data.py <outDir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
DIM = 64
US_PER_DAY = 86_400_000_000


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def days_us(rng, first, last, n):
    """Midnight timestamps uniform over [first, last] (numpy datetime64[D])."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * US_PER_DAY, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def tables(sf):
    rng = np.random.default_rng(SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_user = max(int(15_000 * sf), 16)
    n_doc, n_vec = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick(rng, names, n_part),
        "p_brand": pick(rng, [f"Brand#{k}" for k in range(1, 26)], n_part),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            [900.0 + (k % 1000) / 10 for k in range(n_part)], pa.float64())})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(rng, STATUS, n_ord),
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": days_us(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(rng, PRIORITY, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": money(rng, 900.0, 105_000.0, n_line),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": days_us(rng, "1995-01-02", "2001-11-04", n_line)})
    # events: monotone ids, event time ascending with id, sub-second ts
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * US_PER_DAY, n_evt))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})
    # documents: word soup over a shared vocabulary; one doc in twenty
    # is a planted near-duplicate (another doc's text plus " dup")
    vocab = np.asarray(VOCAB, dtype=object)
    text = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
            for _ in range(n_doc)]
    for k in sorted(rng.choice(n_doc, n_doc // 20, replace=False)):
        text[k] = text[int(rng.integers(0, n_doc))] + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(text),
        "lang": pick(rng, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{k % 20}" for k in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    vec = rng.standard_normal((n_vec, DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})


def main():
    out, sf = sys.argv[1], float(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    for name, table in tables(sf):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       compression="snappy")


if __name__ == "__main__":
    main()
