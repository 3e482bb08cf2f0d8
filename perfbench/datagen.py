"""Seeded generator for the input tables of the ``headline`` workload and
the event stream of ``live_refresh``.

Writes the TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables the catalog reads (one parquet file per table, the
layout ``live_data_spark.catalog.load`` expects), with the schemas and row
counts of the repo's sf0.01 test data. The value shapes were measured on
that data and are copied here: uniform foreign keys (at most ~25 orders
per customer, ~13 lines per order), ``l_extendedprice`` uniform on
900–105000 and unrelated to quantity, documents of 10–99 words from a
31-word vocabulary of which 5% are copies of another document with
`` dup`` appended (near duplicates; no exact ones), isotropic unit-norm
embeddings whose labels carry no cluster structure, and 10k events of 150
users over 30 days with exponential values. perfbench/README.md gives the
side-by-side figures.

The same seed always gives byte-identical tables; nothing here reads data
from outside the directory it writes.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()

N_CUSTOMER, N_ORDERS, N_LINEITEM = 1500, 15000, 60000
N_DOCS, N_VECS, DIM, N_LABELS = 500, 500, 64, 10
N_EVENTS, N_USERS = 10000, 150

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n_days: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, n_days, n) * _US_PER_DAY


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def tpch(rng: np.random.Generator, out: Path) -> None:
    _write(out, "customer", {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, 2404, N_ORDERS),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _days(rng, 2500, N_LINEITEM),
    })


def documents(rng: np.random.Generator, out: Path) -> None:
    texts = []
    for _ in range(N_DOCS):
        n = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(WORDS, n)))
    # 5% near duplicates: another document with " dup" appended
    picked = rng.choice(N_DOCS, 2 * (N_DOCS // 20), replace=False)
    for i, src in zip(picked[::2], picked[1::2]):
        texts[i] = texts[src] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, out: Path) -> None:
    v = rng.normal(size=(N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    label = rng.integers(0, N_LABELS, N_VECS)
    _write(out, "embeddings", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def events(rng: np.random.Generator, out: Path) -> None:
    span_us = 30 * _US_PER_DAY
    ts = np.sort(rng.integers(0, span_us, N_EVENTS))
    _write(out, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _EPOCH_2024 + ts,
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


def generate(seed: int, out: str | Path) -> Path:
    """Write every table for ``seed`` under ``out``; returns the directory."""
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    tpch(rng, out)
    documents(rng, out)
    embeddings(rng, out)
    events(rng, out)
    return out
