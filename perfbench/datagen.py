"""Seeded generator for the benchmark's sf0.1-shaped star schema and
LLM-pipeline corpus.

The tables have the schemas and the value distributions of the repository's
sf0.1 test data (TPC-H-style star schema, an ``events`` stream, a
``documents`` corpus with 5% injected near-duplicates and unit-norm
``embeddings``), so every registry operator runs on them unchanged. Sizes do
not depend on the seed; contents do, and the same seed always writes the
same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_ROWS = 600_000
ORDERS_ROWS = 150_000
CUSTOMER_ROWS = 15_000
PART_ROWS = 20_000
SUPPLIER_ROWS = 1_000
EVENTS_ROWS = 100_000
EVENTS_USERS = 1_500
DOCUMENT_ROWS = 5_000
DOCUMENT_DUP_SHARE = 0.05
EMBEDDING_ROWS = 2_000
EMBEDDING_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SOURCES = 20

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
DAYS_1995_2001 = int(
    (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator) -> pa.Table:
    n = DOCUMENT_ROWS
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # near-duplicates: a copy of another document with one token appended
    n_dup = int(n * DOCUMENT_DUP_SHARE)
    dup_rows = rng.choice(n, n_dup, replace=False)
    originals = rng.integers(0, n, n_dup)
    for row, orig in zip(dup_rows, originals):
        if row != orig:
            texts[row] = texts[orig] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    x = rng.standard_normal((EMBEDDING_ROWS, EMBEDDING_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(EMBEDDING_ROWS, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDING_ROWS).astype(np.int32)),
    })


def generate(out_dir: str, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(CUSTOMER_ROWS, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", CUSTOMER_ROWS)),
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMER_ROWS).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, CUSTOMER_ROWS)),
        "c_mktsegment": pa.array(
            [SEGMENTS[i] for i in rng.integers(0, 5, CUSTOMER_ROWS)]
        ),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(SUPPLIER_ROWS, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", SUPPLIER_ROWS)),
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIER_ROWS).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, SUPPLIER_ROWS)),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(PART_ROWS, dtype=np.int64)),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, PART_ROWS), rng.integers(0, 8, PART_ROWS))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, PART_ROWS)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, PART_ROWS)]),
        "p_size": pa.array(rng.integers(1, 51, PART_ROWS).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(PART_ROWS) % 1000) * 0.1, 2)
        ),
    })
    order_day = rng.integers(0, DAYS_1995_2001 + 1, ORDERS_ROWS)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(ORDERS_ROWS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, CUSTOMER_ROWS, ORDERS_ROWS)),
        "o_orderstatus": pa.array(
            [("F", "O", "P")[i] for i in rng.integers(0, 3, ORDERS_ROWS)]
        ),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, ORDERS_ROWS)),
        "o_orderdate": _ts(EPOCH_1995 + order_day * DAY_US),
        "o_orderpriority": pa.array(
            [PRIORITIES[i] for i in rng.integers(0, 5, ORDERS_ROWS)]
        ),
    })
    l_order = rng.integers(0, ORDERS_ROWS, LINEITEM_ROWS)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, PART_ROWS, LINEITEM_ROWS)),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIER_ROWS, LINEITEM_ROWS)),
        "l_linenumber": pa.array(rng.integers(1, 8, LINEITEM_ROWS).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, LINEITEM_ROWS).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, LINEITEM_ROWS)),
        "l_discount": pa.array(rng.integers(0, 11, LINEITEM_ROWS) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, LINEITEM_ROWS) / 100.0),
        "l_returnflag": pa.array(
            [("A", "N", "R")[i] for i in rng.integers(0, 3, LINEITEM_ROWS)]
        ),
        "l_linestatus": pa.array(
            [("F", "O")[i] for i in rng.integers(0, 2, LINEITEM_ROWS)]
        ),
        "l_shipdate": _ts(
            EPOCH_1995
            + (order_day[l_order] + rng.integers(1, 96, LINEITEM_ROWS)) * DAY_US
        ),
    })
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, EVENTS_ROWS))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(EVENTS_ROWS, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + ev_ts),
        "user_id": pa.array(rng.integers(0, EVENTS_USERS, EVENTS_ROWS)),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, EVENTS_ROWS)]
        ),
        "value": pa.array(np.round(rng.exponential(50.0, EVENTS_ROWS), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS_ROWS)]
        ),
    })
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
