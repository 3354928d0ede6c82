"""Seeded generator of the analytics corpus the query registry reads.

Ten parquet tables with the schemas the registry expects (FIXTURES.md,
part B): a TPC-H-like star schema, an event stream, a document corpus
with near-duplicates, and labelled embeddings. `scale` 1.0 gives the row
counts of the sf0.01 corpus (60,000 lineitems).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "hot", "old", "large", "blue", "green", "cold"]
NOUN = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "spring"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _ts(rng, n, lo, hi):
    """n uniform timestamps (microseconds) between two dates."""
    a = int(dt.datetime(*lo, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    b = int(dt.datetime(*hi, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return rng.integers(a, b, n)


def _days(rng, n, lo, hi):
    us = _ts(rng, n, lo, hi)
    return us - us % 86_400_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def generate(out, seed, scale=1.0):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = lambda base: max(10, int(base * scale))
    n_cust, n_supp, n_part = n(1500), n(100), n(2000)
    n_ord, n_line, n_ev = n(15000), n(60000), n(10000)
    n_users = n(150)
    n_docs, n_emb = 500, 500
    ts = pa.timestamp("us")

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": ["%s %s" % (ADJ[a], NOUN[b]) for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": [TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)), ts),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line, (1995, 1, 2), (2001, 11, 4)), ts)})
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(_ts(rng, n_ev, (2024, 1, 1), (2024, 1, 31))), ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(np.maximum(0.01, rng.exponential(50, n_ev)), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.03:
            # a near-duplicate of an earlier document
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS), rng.integers(8, 90))))
    lang = rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in lang],
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = (rng.standard_normal((n_emb, 64)) * 0.125).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
