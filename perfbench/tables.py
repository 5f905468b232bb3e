#!/usr/bin/env python3
"""Seeded generator for the query mix's tables.

Usage: python3 perfbench/tables.py <outDir> <seed>

Writes the ten parquet tables the ops queries read (`region nation
customer supplier part orders lineitem events documents embeddings`) with
the schema, row counts and value domains of the repository's sf0.01 test
tables: TPC-H-like keys drawn uniformly, 30-word token documents in five
languages with appended-token near-duplicates, 64-dimensional unit
embeddings around ten label centroids, and a 30-day event stream over 150
users. Same seed, byte-identical files.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
        "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500}
USERS = 150
VOCAB = ("a the data spark query table row column key value join group order sort "
         "filter agg hash merge scan stream window batch line part customer vector "
         "small big fast slow").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "new", "blue", "old", "red", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DIM, LABELS = 64, 10
US_PER_DAY = 86_400_000_000


def _days(rng, n, first, last):
    """`n` midnight timestamps drawn uniformly from [first, last]."""
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return pa.array((lo + days).astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def build(seed):
    """The ten tables for `seed`, as a name -> pyarrow.Table dict."""
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": list(rng.choice(SEGMENTS, n["customer"]))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n["part"]), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n["part"]),
                                             rng.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": list(rng.choice(PART_TYPES, n["part"])),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 1))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n["orders"])),
        "o_totalprice": _money(rng, n["orders"], 1000, 500000),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": list(rng.choice(PRIORITIES, n["orders"]))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(float)),
        "l_extendedprice": _money(rng, n["lineitem"], 900, 105000),
        "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n["lineitem"])),
        "l_linestatus": list(rng.choice(["F", "O"], n["lineitem"])),
        "l_shipdate": _days(rng, n["lineitem"], "1995-01-02", "2001-11-04")})

    gaps = rng.integers(1, 2 * 30 * US_PER_DAY // n["events"], n["events"])
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n["events"]), i64),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, USERS, n["events"]), i64),
        "event_type": list(rng.choice(EVENT_TYPES, n["events"])),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n["events"]), 2))),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]})

    texts = []
    for d in range(n["documents"]):
        if d >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, d)] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 101)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n["documents"]), i64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n["documents"], p=LANG_P)),
        "source": [f"src{d % 20}" for d in range(n["documents"])],
        "n_chars": pa.array([len(s) for s in texts], i64)})

    centroids = rng.normal(size=(LABELS, DIM))
    centroids *= 1.15 / np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, LABELS, n["embeddings"])
    raw = centroids[labels] + rng.normal(size=(n["embeddings"], DIM))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"]), i64),
        "embedding": pa.array(list(unit), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def generate(out_dir, seed):
    """Writes `<name>.parquet` for each table into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]))
