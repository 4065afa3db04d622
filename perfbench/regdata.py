"""Seeded stand-in for the registry's parquet tables.

The registry queries read ten tables by name (``data.transcripts.TABLES``)
from one directory. This writes them with numpy + pyarrow, in the shapes
the registry expects: an ``events`` stream over 30 days, a ``documents``
corpus over a small shared vocabulary with planted near-duplicates (so
MinHash/SimHash find pairs), clustered 64-d ``embeddings``, and small
star-schema tables that no benchmarked query reads but the loader opens.
Same seed, same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "view", "click", "purchase", "error"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
VOCAB = np.array(
    (
        "a the batch part spark line column order small sort fast value scan hash "
        "slow group agg filter query big key window row table stream merge data "
        "join vector customer"
    ).split()
)


def _events(rng, n: int, n_users: int) -> pa.Table:
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier doc: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(VOCAB[rng.integers(0, len(VOCAB))])
        else:
            words = list(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(5, 80)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n)
    v = centers[label] + rng.normal(0, 0.6, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def _star(rng) -> dict[str, pa.Table]:
    """Minimal star-schema tables: opened by the table loader, read by no
    benchmarked query."""
    ts = pa.array(np.full(4, 1_704_067_200_000_000), pa.timestamp("us"))
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))  # noqa: E731
    i32 = lambda n: pa.array(np.arange(n, dtype=np.int32))  # noqa: E731
    f64 = lambda n: pa.array(rng.uniform(0, 100, n))  # noqa: E731
    s = lambda n, p: pa.array([f"{p}{i}" for i in range(n)])  # noqa: E731
    return {
        "region": pa.table({"r_regionkey": i32(4), "r_name": s(4, "r")}),
        "nation": pa.table({"n_nationkey": i32(4), "n_name": s(4, "n"), "n_regionkey": i32(4)}),
        "customer": pa.table(
            {"c_custkey": i64(4), "c_name": s(4, "c"), "c_nationkey": i32(4),
             "c_acctbal": f64(4), "c_mktsegment": s(4, "m")}
        ),
        "supplier": pa.table(
            {"s_suppkey": i64(4), "s_name": s(4, "s"), "s_nationkey": i32(4), "s_acctbal": f64(4)}
        ),
        "part": pa.table(
            {"p_partkey": i64(4), "p_name": s(4, "p"), "p_brand": s(4, "b"), "p_type": s(4, "t"),
             "p_size": i32(4), "p_retailprice": f64(4)}
        ),
        "orders": pa.table(
            {"o_orderkey": i64(4), "o_custkey": i64(4), "o_orderstatus": s(4, "o"),
             "o_totalprice": f64(4), "o_orderdate": ts, "o_orderpriority": s(4, "p")}
        ),
        "lineitem": pa.table(
            {"l_orderkey": i64(4), "l_partkey": i64(4), "l_suppkey": i64(4),
             "l_linenumber": i32(4), "l_quantity": f64(4), "l_extendedprice": f64(4),
             "l_discount": f64(4), "l_tax": f64(4), "l_returnflag": s(4, "r"),
             "l_linestatus": s(4, "l"), "l_shipdate": ts}
        ),
    }


def write_tables(out_dir: str, seed: int, n_events: int, n_users: int, n_docs: int, n_vecs: int) -> dict:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "events": _events(rng, n_events, n_users),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
        **_star(rng),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
