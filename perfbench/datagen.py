"""Synthetic input tables for the benchmark.

The tables follow the schemas of the project's TPC-H-like test data
(``orders``, ``lineitem``, ``events``, ``documents``, ``embeddings``)
and are generated here, from a fixed table seed, so a run needs
nothing outside its checkout.  Everything a workload varies per run
(entity rows, request keys, landed events, document perturbations)
comes from the run seed instead, in the workload modules.

``scale=1.0`` gives the sizes of the sf0.1 tables: 1,500 users,
100k events, 15k customers, 150k orders, 600k line items, 5k documents
and 2k 64-dimensional embeddings.  Smaller scales shrink every table
proportionally (the smoke tests use 0.1).

The tables are written by a child process (``python3 datagen.py ROOT
SCALE``), so the memory that building them takes does not count in the
driver's ``peak_rss_mb``.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
EPOCH = datetime(2024, 1, 1)
SPAN_DAYS = 60
WORDS = (
    "spark line column order small sort fast value scan hash slow group "
    "agg filter query big key window row part table stream merge data "
    "batch vector index join shuffle plan task stage cache memory disk "
    "node cluster driver worker time event user feature store online"
).split()
LANGS = ("en", "de", "fr", "zh", "es")
SOURCES = ("src0", "src1", "src2", "src3")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DIM = 64
# The Zipf exponent of every skewed key draw (entity rows, request keys):
# YCSB's default "zipfian constant" (Cooper et al., "Benchmarking Cloud
# Serving Systems with YCSB", SoCC 2010).
ZIPF_S = 0.99
TABLES = ("events", "orders", "lineitem", "documents", "embeddings")


class KeyDraw:
    """Zipf-skewed keys over ``[0, n)``: rank r is drawn with weight
    1/(r+1)^s, and ranks map to keys through a seeded permutation so
    the hot keys are scattered over the key space."""

    def __init__(self, rng: np.random.Generator, n: int, s: float = ZIPF_S):
        w = 1.0 / np.arange(1, n + 1) ** s
        self.cdf = np.cumsum(w / w.sum())
        self.perm = rng.permutation(n)

    def draw(self, rng: np.random.Generator, k: int) -> np.ndarray:
        ranks = np.searchsorted(self.cdf, rng.random(k), side="right")
        return self.perm[np.minimum(ranks, len(self.perm) - 1)]


def sizes(scale: float) -> dict[str, int]:
    def n(base: int) -> int:
        return max(50, int(base * scale))

    return {
        "users": n(1_500),
        "events": n(100_000),
        "customers": n(15_000),
        "orders": n(150_000),
        "lineitem": n(600_000),
        "documents": n(5_000),
        "embeddings": n(2_000),
    }


def utc(values) -> pa.Array:
    """Microsecond timestamps stored as UTC instants, which Spark reads
    as TIMESTAMP (streaming watermarks need that type)."""
    return pa.array(values, type=pa.timestamp("us", tz="UTC"))


def _ts(rng: np.random.Generator, n: int) -> np.ndarray:
    """Microsecond timestamps spread over SPAN_DAYS from EPOCH."""
    base = np.datetime64(EPOCH, "us")
    off = rng.integers(0, SPAN_DAYS * 86_400 * 1_000_000, n)
    return base + off.astype("timedelta64[us]")


def doc_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def events_table(rng, n_sizes) -> pa.Table:
    """``user_activity`` source.  About 5% of rows repeat an earlier
    (user_id, ts) with a later ``created_ts`` and a new value, so the
    created-timestamp tie-break decides which value wins."""
    n, users = n_sizes["events"], n_sizes["users"]
    n_base = n - n // 20
    user = rng.integers(0, users, n_base)
    ts = _ts(rng, n_base)
    created = ts + rng.integers(0, 3_600_000_000, n_base).astype(
        "timedelta64[us]"
    )
    dup = rng.choice(n_base, n - n_base, replace=False)
    user = np.concatenate([user, user[dup]])
    ts = np.concatenate([ts, ts[dup]])
    created = np.concatenate(
        [created, created[dup] + np.timedelta64(1, "s")]
    )
    value = np.round(rng.uniform(0, 500, n), 2)
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": utc(ts),
        "created_ts": utc(created),
        "user_id": user.astype(np.int64),
        "event_type": etype,
        "value": value,
    })


def orders_table(rng, n_sizes) -> pa.Table:
    n = n_sizes["orders"]
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_sizes["customers"], n).astype(
            np.int64
        ),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, n), 2),
        "o_orderdate": utc(_ts(rng, n)),
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, len(PRIORITIES), n)
        ],
    })


def lineitem_table(rng, n_sizes, orders: pa.Table) -> pa.Table:
    """Line items with the owning order's customer copied in
    (``l_custkey``), so the ``customer_lines`` view is keyed like
    ``customer_orders``."""
    n = n_sizes["lineitem"]
    okey = rng.integers(0, orders.num_rows, n)
    cust = orders.column("o_custkey").to_numpy()[okey]
    odate = (
        orders.column("o_orderdate").cast(pa.timestamp("us")).to_numpy()[okey]
    )
    ship = odate + rng.integers(0, 30 * 86_400_000_000, n).astype(
        "timedelta64[us]"
    )
    return pa.table({
        "l_orderkey": okey.astype(np.int64),
        "l_custkey": cust.astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_shipdate": utc(ship),
    })


def documents_table(rng, n_sizes) -> pa.Table:
    """Word-salad documents over a small vocabulary.  About 3% are exact
    copies and 5% near copies (one word changed) of earlier documents,
    so exact and near dedup both have work."""
    n = n_sizes["documents"]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[
                int(rng.integers(0, len(WORDS)))
            ]
            texts.append(" ".join(words))
        else:
            texts.append(doc_text(rng, int(rng.integers(15, 80))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": np.array(SOURCES)[rng.integers(0, len(SOURCES), n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(rng, n_sizes) -> pa.Table:
    """Unit vectors around 8 cluster centres (label = centre)."""
    n = n_sizes["embeddings"]
    centres = rng.normal(size=(8, DIM))
    label = rng.integers(0, 8, n)
    vec = centres[label] + 0.6 * rng.normal(size=(n, DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(
            list(vec.astype(np.float64)), type=pa.list_(pa.float64())
        ),
        "label": label.astype(np.int32),
    })


def generate(root: str, scale: float = 1.0) -> dict[str, str]:
    """Write every table as ``{root}/{name}.parquet``; return the paths."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_sizes = sizes(scale)
    orders = orders_table(rng, n_sizes)
    tables = {
        "events": events_table(rng, n_sizes),
        "orders": orders,
        "lineitem": lineitem_table(rng, n_sizes, orders),
        "documents": documents_table(rng, n_sizes),
        "embeddings": embeddings_table(rng, n_sizes),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return table_paths(root)


def table_paths(root: str) -> dict[str, str]:
    return {name: os.path.join(root, f"{name}.parquet") for name in TABLES}


def generate_in_child(run, root: str, scale: float) -> dict[str, str]:
    """``generate`` in a child process of ``run``; the same paths."""
    proc = run.spawn([sys.executable, os.path.abspath(__file__), root, str(scale)])
    if proc.wait() != 0:
        raise RuntimeError(f"table generation exited with {proc.returncode}")
    return table_paths(root)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))

