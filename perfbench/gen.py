"""Seeded inputs. The same seed gives the same corpus, queries and
tables; the program sees only what these functions write.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
TENANTS = 8


# -- serve corpus ------------------------------------------------------------

class Corpus:
    """Clustered vectors with a `tenant` metadata field (TENANTS values)."""

    def __init__(self, seed: int, n: int, clusters: int = 32, noise: float = 0.35) -> None:
        rng = np.random.default_rng([seed, 1])
        self.centers = rng.normal(0.0, 1.0, (clusters, DIM))
        self.noise = noise
        self.ids = [f"v{i:06d}" for i in range(n)]
        self.vectors = self.centers[rng.integers(0, clusters, n)] + rng.normal(0.0, noise, (n, DIM))
        self.tenants = [f"t{t}" for t in rng.integers(0, TENANTS, n)]

    def write_import(self, path: str) -> None:
        """One parquet file in the store's row shape (id, embedding,
        metadata)."""
        table = pa.table({
            "id": pa.array(self.ids, pa.string()),
            "embedding": pa.array(self.vectors.tolist(), pa.list_(pa.float64())),
            "metadata": pa.array([[("tenant", t)] for t in self.tenants],
                                 pa.map_(pa.string(), pa.string())),
        })
        pq.write_table(table, path)

    def query(self, rng: np.random.Generator) -> list[float]:
        """A point drawn from the corpus distribution."""
        c = self.centers[rng.integers(0, len(self.centers))]
        return (c + rng.normal(0.0, self.noise, DIM)).tolist()


def random_filter(rng: np.random.Generator) -> dict:
    """A wire-format filter on `tenant`: eq, and(eq, ne) or or(eq, eq)."""
    a, b = (f"t{t}" for t in rng.choice(TENANTS, 2, replace=False))
    kind = rng.integers(0, 3)
    if kind == 0:
        return {"op": "eq", "field": "tenant", "value": a}
    if kind == 1:
        return {"op": "and", "filters": [{"op": "eq", "field": "tenant", "value": a},
                                         {"op": "ne", "field": "tenant", "value": b}]}
    return {"op": "or", "filters": [{"op": "eq", "field": "tenant", "value": a},
                                    {"op": "eq", "field": "tenant", "value": b}]}


def filter_mask(flt: dict, tenants: np.ndarray) -> np.ndarray:
    """Rows of `tenants` a wire filter keeps, with the reference's
    semantics for the ops random_filter emits."""
    op = flt["op"]
    if op == "eq":
        return tenants == flt["value"]
    if op == "ne":
        return tenants != flt["value"]
    masks = [filter_mask(f, tenants) for f in flt["filters"]]
    return np.logical_and.reduce(masks) if op == "and" else np.logical_or.reduce(masks)


# -- pipeline tables ---------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def write_pipeline_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                          near_dup_share: float) -> dict:
    """`documents` and `embeddings` in the test-data schemas. A
    `near_dup_share` of docs copy an earlier doc with one word changed,
    and the same share of vectors copy an earlier vector plus noise
    (cosine ~0.9998). Returns the planted counts."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)

    texts: list[str] = []
    n_dup_docs = 0
    for i in range(n_docs):
        if i > 0 and rng.random() < near_dup_share:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            n_dup_docs += 1
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    vecs = rng.normal(0.0, 1.0, (n_vecs, DIM))
    dup = np.flatnonzero(rng.random(n_vecs) < near_dup_share)
    dup = dup[dup > 0]
    for i in dup:
        vecs[i] = vecs[rng.integers(0, i)] + rng.normal(0.0, 0.02, DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"near_dup_docs": n_dup_docs, "near_dup_vectors": int(len(dup))}
