"""Seeded input generators and the expected answers the checks use.

Every generator takes the workload seed plus a sub-seed and writes the
inputs as files (parquet or JSONL) under a work directory; the library
only ever sees those files. The expected answers are computed here in
numpy / plain Python, never through the library.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_MOD = 2000001  # functions/embed.py: values in [-1, 1] with step 1e-6
_KNUTH = 2654435761  # operators/sampling.hash_bucket


def rng(seed: int, *sub: int) -> np.random.Generator:
    return np.random.default_rng([seed, *sub])


def write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files in directory ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def vectors_table(ids: np.ndarray, vecs: np.ndarray, id_col: str,
                  vec_col: str) -> pa.Table:
    flat = pa.array(vecs.reshape(-1))
    return pa.table({
        id_col: pa.array(ids, type=pa.int64()),
        vec_col: pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1])
        .cast(pa.list_(flat.type)),
    })


# ---------------------------------------------------------------- vectors

def clustered_corpus(r: np.random.Generator, n: int, dim: int,
                     n_clusters: int, spread: float) -> np.ndarray:
    """float32 vectors from a mixture of ``n_clusters`` Gaussians.

    Clustered rather than iid: graph ANN recall collapses on iid data
    (docs/ANN_QUALITY.md), and real embedding corpora are clustered."""
    centers = r.normal(size=(n_clusters, dim))
    labels = r.integers(0, n_clusters, n)
    x = centers[labels] + spread * r.normal(size=(n, dim))
    return x.astype(np.float32)


def perturbed_queries(r: np.random.Generator, corpus: np.ndarray, n: int,
                      noise: float) -> np.ndarray:
    """Unseen queries: corpus points plus small Gaussian noise."""
    src = r.integers(0, len(corpus), n)
    q = corpus[src] + noise * r.normal(size=(n, corpus.shape[1]))
    return q.astype(np.float32)


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int,
               ids: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-k in float64, ties to the lower id — the
    library's (sim desc, id asc) order. Returns (ids, sims)."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    sims = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1),
                                np.linalg.norm(c, axis=1))
    if ids is None:
        ids = np.arange(len(c))
    order = np.lexsort((np.broadcast_to(ids, sims.shape), -sims), axis=1)
    top = order[:, :k]
    return ids[top], np.take_along_axis(sims, top, axis=1)


# ------------------------------------------------------------------- text

def vocabulary(r: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase pseudo-words."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(r.integers(3, 10))
        words.add("".join(r.choice(letters, n)))
    return sorted(words)


def random_text(r: np.random.Generator, vocab: list[str], lo: int,
                hi: int) -> list[str]:
    return [vocab[i] for i in r.integers(0, len(vocab), int(r.integers(lo, hi + 1)))]


def hash_embed(text: str, dim: int) -> np.ndarray:
    """The library's hash-projection embedding (functions/embed.py)."""
    return np.array([
        int(hashlib.md5(f"e{j}|{text}".encode()).hexdigest()[:15], 16) % _MOD
        / 1000000.0 - 1.0
        for j in range(dim)
    ])


def hash_bucket(ids: np.ndarray, buckets: int) -> np.ndarray:
    """operators/sampling.hash_bucket for non-negative ids."""
    k = ids.astype(object) % 2147483648
    return np.array([(v * _KNUTH) % 4294967296 % buckets for v in k])


def minhash_signature(text: str, num_hashes: int = 16,
                      n: int = 3) -> list[int] | None:
    """operators/dedup.minhash_signature_table for one document (None
    when the document has fewer than ``n`` tokens)."""
    toks = text.lower().strip().split()
    shingles = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    if not shingles:
        return None
    return [
        min(int(hashlib.md5(f"s{h}|{s}".encode()).hexdigest()[:15], 16)
            for s in shingles)
        for h in range(num_hashes)
    ]


def lsh_pair_found(sig_a: list[int], sig_b: list[int], *, bands: int = 4,
                   min_jaccard: float = 0.5) -> bool:
    """operators/dedup.minhash_lsh_pairs's rule for one pair: the pair
    shares a full band and its MinHash Jaccard estimate passes."""
    rows = len(sig_a) // bands
    banded = any(sig_a[b * rows:(b + 1) * rows] == sig_b[b * rows:(b + 1) * rows]
                 for b in range(bands))
    est = sum(x == y for x, y in zip(sig_a, sig_b)) / len(sig_a)
    return banded and est >= min_jaccard


def write_jsonl(rows: list[dict], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")
