"""Seeded registry fixtures: the ``documents``, ``embeddings`` and ``events``
tables the registry workloads' queries read, shaped like the engine's own
test tables (same columns and types, same value ranges) at a size the
benchmark chooses.

Documents plant exact copies (up to case and spacing) and one-word-edit
near copies; embeddings plant near-duplicate vectors, so every near-dup and
top-k query has real matches to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "the a batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "customer join vector"
).split()
_LANGS = np.array(["en", "en", "zh", "es", "fr", "de"])
_EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
_EPOCH_2024_US = 1_704_067_200 * 1_000_000


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.03:  # exact copy, up to case and spacing
            src = texts[int(rng.integers(0, i))]
            texts.append(src.upper() if rng.random() < 0.5 else "  " + src.replace(" ", "  "))
        elif i > 20 and r < 0.08:  # near copy: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(_VOCAB, size=k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(_LANGS, size=n), type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = 0.6 * centers[labels] + rng.normal(size=(n, dim))
    near = rng.random(n) < 0.04  # near-duplicate of an earlier vector
    for i in np.flatnonzero(near):
        if i > 0:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.3 * rng.normal(size=dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * 86400 * 1_000_000, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n).astype(np.int64)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n), type=pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], type=pa.string()
            ),
        }
    )


def write(seed: int, out_dir: str, *, n_docs: int, n_vecs: int, n_events: int) -> None:
    """Write the three tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs),
        "events": events(rng, n_events, n_users=max(15, n_events // 60)),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
