"""Seeded tables for the headline queries of the `table_log` workload.

The schemas are those the declared queries read (a TPC-H-like star, an
event stream, a document corpus and an embedding set); every value is
drawn from one numpy generator seeded by the benchmark's --seed, so the
same seed writes the same files. `scale` sizes the tables like a TPC-H
scale factor (lineitem has 6,000,000 x scale rows).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("query row stream the spark line small fast group customer part column order "
         "scan a slow agg key window table merge vector join batch sort value hash filter "
         "big data dup").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
EMBED_DIM = 64


def _days(rng, n, start, end):
    """n midnight timestamps between two dates, as datetime64[us]."""
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)), n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_evt, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(20_000 * scale)
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": [f"REGION_{i}" for i in range(5)]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(_choice(rng, PART_ADJ, n_part), _choice(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _choice(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["N", "A", "R"], n_line),
        "l_linestatus": _choice(rng, ["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-05")})
    span_us = 30 * 86_400 * 1_000_000
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, span_us, n_evt)).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 1500, n_evt), i64),
        "event_type": _choice(rng, EVENT_TYPES, n_evt),
        "value": _money(rng, n_evt, 0, 560),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    lens = rng.integers(10, 101, n_doc)
    words = _choice(rng, WORDS, int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_doc)]
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": text,
        "lang": _choice(rng, LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in text], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_emb + 1) * EMBED_DIM, EMBED_DIM), pa.int32()), pa.array(vecs.ravel())),
        "label": pa.array(labels, i32)})


def generate(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
