"""Seeded `documents` and `embeddings` tables for the query_mix workload.

The registry queries read only these two tables. The generator follows
the shape of the repository's test tables: short texts over a 30-word
vocabulary with 5% near-duplicates (a copy of an earlier text with
" dup" appended), and unit-norm 64-d embeddings in 10 weak clusters.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark row column table join hash sort scan filter "
         "group agg window stream batch query key value part order line "
         "customer big small fast slow merge vector").split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
DIM = 64
N_LABELS = 10


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """`n` texts; every 20th after the first 20 copies an earlier one."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, size=k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[int(j)] for j in
                          rng.integers(0, len(LANGS), size=n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, size=n)
    vecs = 0.15 * centers[labels] + rng.normal(0.0, 1.0, size=(n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write documents.parquet and embeddings.parquet under `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(rng, n_docs),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(rng, n_vecs),
                   os.path.join(out_dir, "embeddings.parquet"))
