"""Deterministic parquet fixtures for the Spark workloads.

`write_fixture_dir` writes the six tables the registry queries read, with
the same column names and parquet types as the repository's TPC-H-ish
test fixtures (TESTDATA.md), at roughly their smallest scale.
`lineitem` doubles as the data-plane source.  Everything derives from
the seed via numpy's PCG64.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("the fast key order sort table scan merge part window small hash join batch "
         "stream spark dup group query row data slow filter customer line value agg "
         "column vector big a big index plan cache log commit file page tree node").split()
TABLES = ("customer", "orders", "lineitem", "documents", "embeddings", "events")
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000
EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01T00:00:00


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def lineitem(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(EPOCH_1992_US + rng.integers(0, 2900, n) * DAY_US),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences; about one in eight documents is a copy of an
    earlier one with its last word replaced, which puts near-duplicate
    pairs at 3-shingle Jaccard >= ~0.8 like the test fixtures' (whose
    near-duplicates all score >= 0.9), well clear of the 0.6 threshold."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.12:
            words = texts[int(rng.integers(0, i))].split()
            words[-1] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"], n)),
        "source": [f"src{i % 4}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(0.0, 0.12, (n, dim)).astype("float32")
    for i in range(10, n):
        if rng.random() < 0.1:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 0.05, dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_fixture_dir(path: str, seed: int, scale: float = 1.0) -> None:
    """customer/orders/lineitem/documents/embeddings/events parquet files."""
    rng = np.random.default_rng(seed)
    os.makedirs(path, exist_ok=True)
    n_cust, n_orders = int(150 * scale), int(1500 * scale)
    n_events = int(1000 * scale)
    tables = {
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, n_cust), 2),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
            "o_totalprice": np.round(rng.uniform(1000.0, 400000.0, n_orders), 2),
            "o_orderdate": _ts(EPOCH_1992_US + rng.integers(0, 2400, n_orders) * DAY_US),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
        }),
        "lineitem": lineitem(rng, int(6000 * scale), n_orders),
        "documents": _documents(rng, int(500 * scale)),
        "embeddings": _embeddings(rng, int(500 * scale)),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(1_704_067_200_000_000 + np.sort(rng.integers(0, 7 * DAY_US, n_events))),
            "user_id": pa.array(rng.integers(0, 50, n_events), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
            "value": np.round(rng.uniform(0.0, 500.0, n_events), 2),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)],
        }),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))
