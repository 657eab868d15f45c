"""Seeded generator for the warehouse tables the query mix reads.

Writes one parquet file per table under OUT, with the schemas and value
domains of the repository's TPC-H-style test data (TESTDATA.md): region,
nation, customer, supplier, part, orders, lineitem, events, documents and
embeddings. Row counts scale with `sf` the way the test data's do (sf 0.01:
1,500 customers, 15,000 orders, 60,000 line items, 10,000 events, 500
documents). The same seed gives byte-identical tables.

Used by run.py through generate(out, seed, sf).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the big small fast slow data query table column row key value hash "
         "join group order sort filter scan merge batch stream window spark agg "
         "customer part line vector").split()


def days_since(start, n, rng, span_days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86400 * 10**6).astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def generate(out, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(50, int(50000 * sf)), max(50, int(50000 * sf))
    i32 = pa.int32()

    write(out, "region", {"r_regionkey": pa.array(np.arange(5), i32),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": pa.array(np.arange(25), i32),
                          "n_name": ["NATION_%d" % i for i in range(25)],
                          "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [a + " " + b for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": days_since("1995-01-01", n_ord, rng, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": days_since("1995-01-02", n_line, rng, 2498)})
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if texts and rng.random() < 0.15:
            # near-duplicate of an earlier document: one word replaced
            w = texts[int(rng.integers(0, len(texts)))].split()
            w[int(rng.integers(0, len(w)))] = str(rng.choice(WORDS))
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc).tolist(),
        "source": ["src%d" % (i % 20) for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})

