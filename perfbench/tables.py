"""Seeded input tables for the query_suite workload.

Writes the six parquet tables the headline queries read (documents,
embeddings, events, orders, part, lineitem) with the schemas and value
ranges of the engine's reference test data, scaled by ``rows``. Every value
is a pure function of (seed, table), so one seed always gives the same
files. Generation is numpy + pyarrow only: no Spark, no network.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"])
PART_ADJ = ["blue", "red", "cold", "hot", "small", "big", "green", "old"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pipe"]

# row counts per unit of ``rows``; 1.0 is the reference sf0.1 shape
SHAPE = {
    "documents": 5_000,
    "embeddings": 2_000,
    "events": 100_000,
    "orders": 150_000,
    "part": 20_000,
    "lineitem": 600_000,
}


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, table))])


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + (seconds * 1e6).astype(np.int64).astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def documents(seed: int, n: int) -> pa.Table:
    """Word-salad documents; 5% are near-duplicates of an earlier document
    (its text plus the token "dup"), so the dedup and near-pair queries
    find real matches."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    v = rng.normal(size=(n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "events")
    n_users = max(10, n // 66)
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(dt.datetime(2024, 1, 1), secs),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def orders(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "orders")
    days = rng.integers(0, 2404, n).astype(np.float64) * 86400
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), days),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def part(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "part")
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
    ]
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n)),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)),
    })


def lineitem(seed: int, n: int, n_orders: int, n_part: int) -> pa.Table:
    rng = _rng(seed, "lineitem")
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = rng.integers(1, 2499, n).astype(np.float64) * 86400
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), days),
    })


def write_tables(out_dir: str, seed: int, rows: float) -> dict[str, int]:
    """Write every table under ``out_dir`` as ``<name>.parquet``; return
    the row count of each."""
    n = {t: max(20, int(k * rows)) for t, k in SHAPE.items()}
    tables = {
        "documents": documents(seed, n["documents"]),
        "embeddings": embeddings(seed, n["embeddings"]),
        "events": events(seed, n["events"]),
        "orders": orders(seed, n["orders"]),
        "part": part(seed, n["part"]),
        "lineitem": lineitem(seed, n["lineitem"], n["orders"], n["part"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return n
