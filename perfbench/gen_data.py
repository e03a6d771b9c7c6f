#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the queries read (the TPC-H-ish star schema
plus events, documents and embeddings, schemas as in FIXTURES.md) at a
given scale factor. The generator seed is fixed, so one scale factor always
gives byte-identical tables and a benchmark run never depends on files
outside its checkout.

Usage: python3 perfbench/gen_data.py <sf> <outDir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_MS = 86_400_000
SEED = 42


def ms(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "ms").astype(np.int64))


def money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   version="2.6")


def generate(sf, out):
    rng = np.random.default_rng(SEED)
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_line, n_evt = 4 * n_ord, max(1000, int(1_000_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    os.makedirs(out, exist_ok=True)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part)
    write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})

    lo, hi = ms(1995, 1, 1), ms(2001, 8, 1)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(
            lo + rng.integers(0, (hi - lo) // DAY_MS + 1, n_ord) * DAY_MS,
            pa.timestamp("ms")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    lo, hi = ms(1995, 1, 2), ms(2001, 11, 4)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(
            lo + rng.integers(0, (hi - lo) // DAY_MS + 1, n_line) * DAY_MS,
            pa.timestamp("ms"))})

    # events arrive in event_id order over 30 days, microsecond-grained in
    # a nanosecond column (the streaming lanes replay them by ts)
    t0 = ms(2024, 1, 1) * 1000
    ts_us = np.sort(t0 + rng.integers(0, 30 * DAY_MS * 1000, n_evt))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_evt),
                            pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt)),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})

    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100)))
             for _ in range(n_doc)]
    # 5% near-duplicates: another document's text with a marker word, some
    # copied twice (exact duplicate pairs) or copied from a copy (chains)
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        j = int(rng.integers(0, n_doc - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=[.4, .15, .15, .15, .15])),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.01, (10, 64))
    vecs = rng.normal(0.0, 0.125, (n_emb, 64)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    generate(float(sys.argv[1]), sys.argv[2])
