#!/usr/bin/env python3
"""Seeded generator of the catalog corpus.

Writes the ten tables the catalog queries read (the TPC-H-like star schema,
the `events` clickstream stand-in, `documents` and `embeddings`) as one
parquet file each, with the column names, types and value shapes of the
repository's testdata corpus (TESTDATA.md, FIXTURES.md). Row counts scale linearly with the scale factor
(sf 0.01: 60,000 lineitem rows, 10,000 events by 150 users); documents and
embeddings keep at least 500 rows. The same seed and scale factor give
byte-identical files.

Usage: python3 graftbench/datagen.py <outDir> <seed> [sf]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
ADJ = "small large red blue hot cold green old".split()
NOUN = "ring widget bolt gear gizmo nut screw spring".split()


def days(rng, n, start, end):
    span = (end - start).days
    return np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def ts_us(arr):
    return pa.array(arr.astype("datetime64[us]"), pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed, sf=0.01):
    n = lambda rows_at_sf1: max(1, int(round(rows_at_sf1 * sf)))
    N_CUSTOMER, N_SUPPLIER, N_PART = n(150000), n(10000), n(200000)
    N_ORDERS, N_LINEITEM, N_EVENTS, N_USERS = n(1500000), n(6000000), n(1000000), n(15000)
    N_DOCS, N_VECS = max(500, n(50000)), max(500, n(20000))
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", {
        "c_custkey": i64(N_CUSTOMER),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": segments[rng.integers(0, 5, N_CUSTOMER)]})
    write(out, "supplier", {
        "s_suppkey": i64(N_SUPPLIER),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, N_SUPPLIER)})
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write(out, "part", {
        "p_partkey": i64(N_PART),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": types[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write(out, "orders", {
        "o_orderkey": i64(N_ORDERS),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": money(1000.0, 500000.0, N_ORDERS),
        "o_orderdate": ts_us(days(rng, N_ORDERS, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
        "o_orderpriority": prio[rng.integers(0, 5, N_ORDERS)]})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": ts_us(days(rng, N_LINEITEM, dt.date(1995, 1, 2), dt.date(2001, 11, 4)))})

    # events: one month of clicks, views and three other types, ordered by time
    month_us = 30 * 86400 * 10**6
    t = np.sort(rng.integers(0, month_us, N_EVENTS))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + t.astype("timedelta64[us]")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    write(out, "events", {
        "event_id": i64(N_EVENTS),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS).astype(np.int64)),
        "event_type": etypes[rng.integers(0, 5, N_EVENTS)],
        "value": np.clip(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01, None),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})

    # documents: word salad over a 30-word vocabulary; 5% are an earlier
    # document with " dup" appended (near-duplicates for the dedup family)
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS),
                                                                 int(rng.integers(8, 95)))))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    write(out, "documents", {
        "doc_id": i64(N_DOCS),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})

    vec = rng.standard_normal((N_VECS, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": i64(N_VECS),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS).astype(np.int32))})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), *map(float, sys.argv[3:4]))
