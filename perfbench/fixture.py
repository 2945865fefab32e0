"""Deterministic sf0.1 fixture for the benchmark.

Writes the ten tables the query catalog reads (TPC-H-ish star schema,
`events`, `documents`, `embeddings`) with the schemas, row counts and value
domains of the repository's sf0.1 test data. The tables do not depend on the
run seed: the seed only orders queries and shapes requests, so every run of
every seed reads the same bytes and the stored reference hashes stay valid.

Usage: python3 perfbench/fixture.py <outDir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "fixture-v1"
SF = 0.1
SEED = 42

WORDS = ("a the data spark stream batch join agg scan sort hash key value row "
         "column table query filter group order window merge vector part line "
         "customer fast slow big small").split()
PART_ADJ = "blue hot large old cold red small new".split()
PART_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def generate(out):
    rng = np.random.default_rng(SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_ord, n_line = int(1500000 * SF), int(6000000 * SF)
    n_ev, n_doc, n_emb = int(1000000 * SF), int(50000 * SF), int(20000 * SF)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(n_supp, -999.99, 9999.99)})

    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})

    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})

    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})

    # events: sorted µs timestamps over 30 days, non-negative values (the
    # catalog's div/floor pairing relies on value >= 0)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = t0 + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, 1500, n_ev).astype(np.int64)),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    words = np.array(WORDS)
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))]))
    # a few exact repeats, as in the source corpus
    for i in rng.choice(n_doc, 8, replace=False):
        texts[i] = texts[(i + 1) % n_doc]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 0.15, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.1, (n_emb, 64))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})


if __name__ == "__main__":
    generate(sys.argv[1])
