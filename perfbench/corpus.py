"""Seeded corpus tables for the curation workload.

Writes ``documents``, ``embeddings``, ``events`` and ``orders`` parquet
files shaped like the repository's sf test tables (same columns, types
and value domains), so the curation queries and their DuckDB oracles
run on inputs the benchmark derives from its seed alone. Near-duplicate
documents and embedding pairs are planted at fixed positions, so the
dedup queries have pairs to find and the same amount of work for every
seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
ORDER_STATUS = ("F", "O", "P")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMBEDDING_DIM = 64
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
_DAY_US = 86_400_000_000
_ORDER_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _ORDER_DAY0).astype(np.int64)) + 1


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences; every 20 documents end in a planted family
    (an original, a one-word near duplicate, an exact copy), so the
    duplicate structure, and with it the clustering work, is the same
    for every seed."""
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 18:  # near duplicate of the previous document
            words = texts[i - 1].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        elif i % 20 == 19:  # exact copy of the family's original
            texts.append(texts[i - 2])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in langs]),
            "source": pa.array([f"src{i % 10}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBEDDING_DIM))
    # every 50th vector is a noisy copy of its predecessor (cosine ~0.9)
    for i in range(1, n, 50):
        x[i] = x[i - 1] + 0.5 * rng.standard_normal(EMBEDDING_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.uniform(0.0, 200.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _orders(rng: np.random.Generator, n: int, customers: int) -> pa.Table:
    days = _ORDER_DAY0 + rng.integers(0, _ORDER_DAYS, n).astype("timedelta64[D]")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, customers, n).astype(np.int64)),
            "o_orderstatus": pa.array([ORDER_STATUS[j] for j in rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, n), 2)),
            "o_orderdate": pa.array(days.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": pa.array(
                [ORDER_PRIORITY[j] for j in rng.integers(0, 5, n)]
            ),
        }
    )


def write_corpus(out_dir: str, seed: int, docs: int) -> dict[str, int]:
    """Write the four tables as ``<out_dir>/<name>.parquet``.

    ``docs`` sets the scale; the other tables keep the sf tables'
    proportions (sf0.1: 5,000 documents, 2,000 embeddings, 100,000
    events over 1,500 users, 150,000 orders over 15,000 customers).
    Returns the row count per table.
    """
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, docs),
        "embeddings": _embeddings(rng, docs * 2 // 5),
        "events": _events(rng, docs * 20, max(50, docs * 3 // 10)),
        "orders": _orders(rng, docs * 30, max(100, docs * 3)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
