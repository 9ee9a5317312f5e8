"""Seeded generator for the tables the headline queries read.

Same table names, column names and Arrow types as the repository's
sf0.1 test data (documents, embeddings, events, lineitem, orders,
customer), at the same row counts, so ``fupi_spark.queries`` and their
DuckDB oracles run unchanged on it. Values come from one
``numpy.random.default_rng(seed)``: the same seed writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 15_000,
    "documents": 5_000,
    "embeddings": 2_000,
    "events": 100_000,
    "lineitem": 600_000,
    "orders": 150_000,
}

WORDS = (
    "a batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
EMB_DIM = 64


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator) -> pa.Table:
    n = ROWS["documents"]
    lens = rng.integers(8, 100, n)
    words = np.array(WORDS)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # a few exact duplicates so dedup has work to do
    for i in rng.choice(n, 8, replace=False):
        text[i] = text[(i + 1) % n]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(LANGS[np.minimum(rng.integers(0, 7, n), 4)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel(), pa.float32()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    n = ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(start + rng.integers(0, 30 * 86_400 * 10**6, n)),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.uniform(0, 100, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = ROWS["lineitem"]
    day = 86_400 * 10**6
    start = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 5000, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
            "l_shipdate": _ts(start + rng.integers(0, 2500, n) * day),
        }
    )


def _orders(rng: np.random.Generator) -> pa.Table:
    n = ROWS["orders"]
    day = 86_400 * 10**6
    start = np.datetime64("1992-01-01T00:00:00", "us").astype(np.int64)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n), 2)),
            "o_orderdate": _ts(start + rng.integers(0, 2400, n) * day),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n)
                ]
            ),
        }
    )


def _customer(rng: np.random.Generator) -> pa.Table:
    n = ROWS["customer"]
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n)]),
        }
    )


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in (
        ("customer", _customer),
        ("documents", _documents),
        ("embeddings", _embeddings),
        ("events", _events),
        ("lineitem", _lineitem),
        ("orders", _orders),
    ):
        pq.write_table(fn(rng), f"{out_dir}/{name}.parquet")
