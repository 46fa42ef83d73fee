"""Deterministic base corpus for the benchmark.

Writes the ten tables of the repository's test-data layout as
single-row-group snappy parquet files, with the schema and the value
distributions of its sf0.1 tables. The corpus is fixed (its own generator seed); a benchmark
run's --seed only splits, samples and orders it.

Usage: python3 gen_data.py OUT_DIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101
N_DOCS = 5000
N_VECS = 2000
DIM = 64
N_LABELS = 10
N_EVENTS = 100_000
N_USERS = 1500
N_ORDERS = 150_000
N_LINES = 600_000
N_PARTS = 20_000
N_CUSTOMERS = 15_000
N_SUPPLIERS = 1000

VOCAB = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
         "group", "customer", "batch", "sort", "value", "hash", "filter",
         "big", "data", "part", "column", "order", "scan", "a", "slow",
         "agg", "key", "window", "table", "merge", "vector", "join"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=len(table) + 1)


def documents(rng):
    lens = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    # planted near-duplicates (an earlier doc plus " dup") and exact
    # duplicates, the shapes the dedup and similarity paths look for
    for i in rng.choice(np.arange(1, N_DOCS), 250, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, N_DOCS), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCS)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng):
    centers = rng.normal(0, 1, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, N_VECS)
    v = centers[labels] + rng.normal(0, 1.5, (N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _micros(start, span_s, n, rng):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, span_s * 1_000_000, n),
                    pa.timestamp("us"))


def _days(start, n_days, n, rng):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, n_days, n) * 86_400_000_000,
                    pa.timestamp("us"))


def events(rng):
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _micros("2024-01-01", 30 * 86400, N_EVENTS, rng),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, N_EVENTS)], pa.string()),
    })


def orders(rng):
    return pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], N_ORDERS)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, N_ORDERS), 2)),
        "o_orderdate": _days("1995-01-01", 2404, N_ORDERS, rng),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            N_ORDERS)),
    })


def lineitem(rng):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINES), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, N_LINES), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, N_LINES), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINES), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINES).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, N_LINES), 2)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINES) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINES) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINES)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], N_LINES)),
        "l_shipdate": _days("1995-01-02", 2498, N_LINES, rng),
    })


def part(rng):
    adj = ["large", "hot", "blue", "green", "small", "red", "cold", "dark"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw"]
    keys = np.arange(N_PARTS)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{a} {n}" for a, n in
                            zip(rng.choice(adj, N_PARTS), rng.choice(noun, N_PARTS))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)]),
        "p_type": pa.array(rng.choice(
            ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], N_PARTS)),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })


def customer(rng):
    return pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(N_CUSTOMERS)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], N_CUSTOMERS)),
    })


def supplier(rng):
    return pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(N_SUPPLIERS)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIERS), 2)),
    })


def nation(rng):
    return pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION{k}" for k in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })


def region(rng):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    for name, fn in [("documents", documents), ("embeddings", embeddings),
                     ("events", events), ("orders", orders),
                     ("lineitem", lineitem), ("part", part),
                     ("customer", customer), ("supplier", supplier),
                     ("nation", nation), ("region", region)]:
        _write(out, name, fn(rng))


if __name__ == "__main__":
    main(sys.argv[1])
