"""Seeded generator of the graded queries' tables for the query workloads.

Writes the ten tables the graded queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, at the row counts and with the schemas and value domains
of the sf0.1 test data: a TPC-H-like star schema with uniform independent
columns, an events table in time order, word-salad documents of which 250
are near-duplicates of earlier ones (marked by a trailing "dup"), and unit
64-dimensional embeddings with ten labels. The same seed writes the same
tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER, N_SUPPLIER, N_PART = 15000, 1000, 20000
N_ORDERS, N_LINEITEM, N_EVENTS = 150000, 600000, 100000
N_DOCS, N_DUP_DOCS, N_VECS, DIM = 5000, 250, 2000, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DAY_US = 86400 * 10 ** 6


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, offsets):
    return pa.array(np.datetime64(start, "us")
                    + offsets.astype("int64") * np.timedelta64(1, "D"),
                    pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def write_tables(out, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    i64 = lambda a: pa.array(a, pa.int64())
    i32 = lambda a: pa.array(a, pa.int32())

    _write(out, "region", {"r_regionkey": i32(range(5)),
                           "r_name": pa.array(REGIONS)})
    _write(out, "nation", {"n_nationkey": i32(range(25)),
                           "n_name": pa.array(["NATION_%d" % i
                                               for i in range(25)]),
                           "n_regionkey": i32([i % 5 for i in range(25)])})
    _write(out, "customer", {
        "c_custkey": i64(range(N_CUSTOMER)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(N_CUSTOMER)]),
        "c_nationkey": i32(rng.integers(0, 25, N_CUSTOMER)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER))})
    _write(out, "supplier", {
        "s_suppkey": i64(range(N_SUPPLIER)),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(N_SUPPLIER)]),
        "s_nationkey": i32(rng.integers(0, 25, N_SUPPLIER)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER))})
    keys = np.arange(N_PART)
    _write(out, "part", {
        "p_partkey": i64(keys),
        "p_name": pa.array([a + " " + b for a, b in zip(
            rng.choice(ADJ, N_PART), rng.choice(NOUN, N_PART))]),
        "p_brand": pa.array(["Brand#%d" % b
                             for b in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(rng.choice(PTYPES, N_PART)),
        "p_size": i32(rng.integers(1, 51, N_PART)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1))})
    _write(out, "orders", {
        "o_orderkey": i64(range(N_ORDERS)),
        "o_custkey": i64(rng.integers(0, N_CUSTOMER, N_ORDERS)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": pa.array(_money(rng, 900, 500000, N_ORDERS)),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, N_ORDERS)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS))})
    _write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, N_ORDERS, N_LINEITEM)),
        "l_partkey": i64(rng.integers(0, N_PART, N_LINEITEM)),
        "l_suppkey": i64(rng.integers(0, N_SUPPLIER, N_LINEITEM)),
        "l_linenumber": i32(rng.integers(1, 8, N_LINEITEM)),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINEITEM)
                               .astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, N_LINEITEM)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINEITEM)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINEITEM)),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, N_LINEITEM))})

    ts = np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS))
    _write(out, "events", {
        "event_id": i64(range(N_EVENTS)),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, 1500, N_EVENTS)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array(['{"k": %d}' % k
                           for k in rng.integers(0, 100, N_EVENTS)])})

    n_orig = N_DOCS - N_DUP_DOCS
    texts = [" ".join(rng.choice(WORDS, n))
             for n in rng.integers(10, 101, n_orig)]
    texts += [texts[j] + " dup" for j in rng.integers(0, n_orig, N_DUP_DOCS)]
    order = rng.permutation(N_DOCS)
    texts = [texts[j] for j in order]
    _write(out, "documents", {
        "doc_id": i64(range(N_DOCS)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, N_DOCS)),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, N_DOCS)]),
        "n_chars": i64([len(t) for t in texts])})

    v = rng.standard_normal((N_VECS, DIM)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": i64(range(N_VECS)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, N_VECS))})
