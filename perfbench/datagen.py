"""Seeded generator for the ten parquet tables the graft queries read.

The tables follow the schema and value distributions of the engine's
TPC-H-ish test data (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings), scaled by a scale factor `sf`
(sf 1 = 6M lineitem rows). The same (seed, sf) always yields the same rows.

    python3 datagen.py <out_dir> <sf> <seed>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMBED_DIM = 64
DUP_SHARE = 0.05


def _days(start, end, rng, n):
    """n uniform midnight timestamps in [start, end] as numpy datetime64[us]."""
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    """Yield (name, pyarrow.Table) for every table at scale `sf`."""
    rng = np.random.default_rng([seed, 7919])
    n_cust = max(1, int(round(150_000 * sf)))
    n_supp = max(1, int(round(10_000 * sf)))
    n_part = max(1, int(round(200_000 * sf)))
    n_orders = max(1, int(round(1_500_000 * sf)))
    n_lines = max(1, int(round(6_000_000 * sf)))
    n_events = max(1, int(round(1_000_000 * sf)))
    n_users = max(1, int(round(15_000 * sf)))
    n_docs = max(500, int(round(50_000 * sf)))
    n_vecs = max(500, int(round(20_000 * sf)))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _days(datetime.date(1995, 1, 1),
                             datetime.date(2001, 8, 1), rng, n_orders),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_lines),
        "l_discount": np.round(rng.uniform(0, 0.1, n_lines), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_lines), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _days(datetime.date(1995, 1, 2),
                            datetime.date(2001, 11, 4), rng, n_lines)})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_events))
    yield "events", pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    yield "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.14 * centers[labels] + rng.normal(0, EMBED_DIM ** -0.5,
                                               (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def generate(out_dir, sf, seed):
    """Write every table as `<out_dir>/<name>.parquet` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
