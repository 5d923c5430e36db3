"""Seeded generator of the corpus tables the resident ops read
(``documents`` and ``embeddings``), in the layout of the engine's
synthetic test data: one ``{name}.parquet`` file per table.

Documents are bags of words from a small vocabulary; about 5% repeat an
earlier document's text with `` dup`` appended, so the near-duplicate
and clustering ops have work to do.  Embeddings are unit vectors with a
weak per-label signal, one per document id.
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
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.13, 0.15)
N_SOURCES = 20
DIM = 64
DUP_SHARE = 0.05
TABLES = ("documents", "embeddings")

# the two fixed datasets of the ``resident_serve`` workload: the base
# set, and the smaller set written over it in place
BASE = {"seed": 1, "n_docs": 600}
REWRITE = {"seed": 2, "n_docs": 400}


def tables(seed: int, n_docs: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n)))
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in langs], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centroids = rng.normal(size=(10, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_docs)
    vecs = 0.14 * centroids[labels] + rng.normal(scale=DIM ** -0.5, size=(n_docs, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def write(dir_: str, seed: int, n_docs: int) -> list[str]:
    """Write (or overwrite in place) the tables into ``dir_``."""
    os.makedirs(dir_, exist_ok=True)
    paths = []
    for name, table in tables(seed, n_docs).items():
        path = os.path.join(dir_, f"{name}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths
