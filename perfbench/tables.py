"""Seeded catalog tables for the ``corpus_mix`` workload.

Writes the three tables the query mix reads -- ``events``,
``documents`` and ``embeddings`` -- as parquet, with the column names,
types and value shapes of the repository's catalog (TIMESTAMP event
times, 2-decimal exponential ``value``s, 31-word vocabulary documents
with ~5% " dup" near-duplicates and a few exact copies, unit-norm
64-d embeddings in 10 labelled clusters). ``rows`` is the event count;
the other tables scale with it. The same ``(seed, rows)`` always
writes the same values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join a value fast column sort scan small customer merge hash line spark "
    "part batch slow group row filter query key big window table stream order "
    "data vector agg the"
).split()
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "es", "fr", "zh", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMB_DIM = 64
N_LABELS = 10
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(T0_US, T0_US + SPAN_US, n))
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.standard_normal((N_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n)
    v = centers[label] + 0.12 * rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def write_catalog(directory: str, seed: int, rows: int) -> dict[str, int]:
    """Write events/documents/embeddings; returns {table: row count}."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    tables = {
        "events": events(rng, rows, max(rows // 66, 10)),
        "documents": documents(rng, max(rows // 20, 50)),
        "embeddings": embeddings(rng, max(rows // 50, 50)),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(directory, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
