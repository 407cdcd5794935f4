"""Seeded input generators for the benchmark.

Every table has the schema and value ranges of the project's `events` /
TPC-H-ish test tables (TESTDATA.md), written the same way (pyarrow parquet,
`timestamp[us]` without a time zone), so the program reads them through its
normal ingress. The same seed always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PART_ADJ = np.array(["small", "large", "red", "blue", "hot", "old", "new", "cold"])
PART_NOUN = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
LANGS = np.array(["en", "fr", "de", "es", "zh"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
WORDS = np.array(
    "a the data spark stream batch query table column row key value hash sort "
    "merge join group agg filter scan window order part line customer vector "
    "fast slow big small".split())

US = 1_000_000
EPOCH_2024 = 1704067200 * US  # 2024-01-01T00:00:00
EPOCH_1995 = 788918400 * US   # 1995-01-01T00:00:00
DAY = 86400 * US


def _ts(micros):
    return pa.array(micros.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def event_columns(rng, n, users):
    """`events` rows: dense ids from 0, `ts` ascending over 30 days."""
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY, n))
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_events(out_dir, seed, n):
    """The ingest workload's feed: `n` events at the sf0.1 shape."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    cols = event_columns(rng, n, users=1500)
    _write(out_dir, "events", cols)
    return cols


def _documents(rng, n):
    texts, langs = [], LANGS[rng.choice(len(LANGS), n, p=LANG_P)]
    for _ in range(n):
        k = int(rng.integers(8, 100))
        texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), k)]))
    # a few near-duplicates (one word changed) and exact copies, so the
    # dedup queries have something to find
    for i in rng.choice(n, max(1, n // 50), replace=False):
        src = texts[int(rng.integers(0, n))].split(" ")
        src[int(rng.integers(0, len(src)))] = str(WORDS[int(rng.integers(0, len(WORDS)))])
        texts[i] = " ".join(src)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n, dim=64, labels=10):
    centres = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    v = centres[label] + rng.normal(0, 1.2, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def write_tables(out_dir, seed, scale):
    """All ten query-suite tables; `scale` = 0.01 gives the sf0.01 row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            PART_ADJ[rng.integers(0, 8, n_part)], PART_NOUN[rng.integers(0, 8, n_part)])]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(PART_TYPES[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)])})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    flags = rng.integers(0, 6, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["R", "A", "N", "A", "N", "R"])[flags]),
        "l_linestatus": pa.array(np.array(["F", "F", "O", "O", "F", "O"])[flags]),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY)})
    _write(out_dir, "events", event_columns(rng, int(1_000_000 * scale), users=150))
    _write(out_dir, "documents", _documents(rng, int(50_000 * scale)))
    _write(out_dir, "embeddings", _embeddings(rng, int(50_000 * scale)))
