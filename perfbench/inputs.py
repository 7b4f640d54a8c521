"""Seeded input tables for the benchmark.

Writes ``events``, ``documents`` and ``embeddings`` parquet files with the
schemas and value distributions of the testdata described in TESTDATA.md
(the benchmark's workloads read no other table).  A variant number selects the
random stream, a bar-id shift (bar features are hashes of ``event_id``, so
the shift changes every derived feature) and a symbol suffix.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the testdata's document vocabulary; ``dup`` marks a near-duplicate
VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
SYMBOLS = ("signup", "click", "error", "purchase", "view")
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10
#: share of documents that copy an earlier document and append `` dup``
DUP_SHARE = 0.05
ID_SHIFT = 10**9
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400_000_000


def _events(rng: np.random.Generator, n: int, variant: int) -> pa.Table:
    gaps = rng.exponential(1.0, n)
    ts = T0_US + (np.cumsum(gaps) / gaps.sum() * SPAN_US * 0.99).astype(np.int64)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64) + variant * ID_SHIFT,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 15, n, dtype=np.int64),
            "event_type": [
                f"{SYMBOLS[i]}{variant}" for i in rng.integers(0, len(SYMBOLS), n)
            ],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator, n: int, variant: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64) + variant * ID_SHIFT,
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, variant: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64) + variant * ID_SHIFT,
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": rng.integers(0, N_LABELS, n, dtype=np.int32),
        }
    )


def write_inputs(out_dir: str, variant: int, n_events: int, n_docs: int) -> str:
    """Write the variant's three tables under ``out_dir`` and return it.
    The same (variant, sizes) always gives byte-identical table contents."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([variant, n_events, n_docs])
    for name, table in (
        ("events", _events(rng, n_events, variant)),
        ("documents", _documents(rng, n_docs, variant)),
        ("embeddings", _embeddings(rng, n_docs, variant)),
    ):
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
