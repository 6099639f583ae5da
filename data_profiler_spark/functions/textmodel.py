"""Shared numpy core for language-ID and perplexity scoring.

This module is imported by BOTH the Spark pandas UDFs (functions/langid.py)
and the single-process reference labeler (tests/reference_labeler.py), so
the distributed pipeline and the oracle run literally the same arithmetic —
the keep/drop F1 gate (BASELINE.json) then measures pipeline plumbing, not
model drift.

Design (north_star: "fastText language-ID model broadcast to executors …
batched character/word n-gram hash + KenLM-style perplexity scorer"):

* **Language ID** — hashed character-trigram bag (fastText-style input
  featurization) → L2-normalized doc vector → cosine against per-language
  centroid rows trained on the seeded corpus. Pure numpy, fully batch
  vectorized (no per-row Python beyond the text→bytes encode).
* **Perplexity** — hashed character-4-gram unigram LM with add-one
  smoothing trained on the seeded English corpus; score is
  log-perplexity = −mean log P(gram). KenLM-in-spirit (n-gram LM score
  per doc), hash-bucketed so the table is a dense vector that broadcasts
  in one piece.

Everything is deterministic: polynomial byte hashes (no Python ``hash``),
fixed seeds, fixed dimensions.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

import numpy as np

from . import corpus

LANGID_DIM = 2048
PPL_DIM = 16384
_INF = float("inf")


def _ngram_buckets(text: str, n: int, dim: int) -> np.ndarray:
    """Polynomial rolling hash of byte n-grams → bucket ids (vectorized)."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    if b.size < n:
        return np.empty(0, dtype=np.int64)
    acc = np.zeros(b.size - n + 1, dtype=np.int64)
    for i in range(n):
        acc = acc * 31 + b[i : b.size - n + 1 + i]
        acc %= 1 << 40  # keep well inside int64 before the final mod
    return acc % dim


def _batch_ngram_buckets(texts: list[str], n: int, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(doc_idx, bucket) pairs for ALL documents at once: one rolling hash
    over the concatenated byte buffer, windows crossing a document boundary
    masked out. Produces byte-identical buckets to per-doc
    ``_ngram_buckets`` (same arithmetic on the same windows) with zero
    per-document Python — the whole batch is ~10 numpy ops."""
    bufs = [t.encode("utf-8") for t in texts]
    lens = np.array([len(b) for b in bufs], dtype=np.int64)
    buf = np.frombuffer(b"".join(bufs), dtype=np.uint8).astype(np.int64)
    m = buf.size - n + 1
    if m <= 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    acc = np.zeros(m, dtype=np.int64)
    for i in range(n):
        acc = acc * 31 + buf[i : m + i]
        acc %= 1 << 40
    doc_of = np.repeat(np.arange(len(bufs), dtype=np.int64), lens)
    valid = doc_of[:m] == doc_of[n - 1 : n - 1 + m]
    return doc_of[:m][valid], acc[valid] % dim


_DOC_CHUNK = 2048  # bounds the (chunk × dim) dense matrix to ~32 MB


def doc_matrix(texts: list[str], dim: int = LANGID_DIM) -> np.ndarray:
    """(N, dim) L2-normalized hashed-trigram matrix, one row per text
    (empty docs stay zero)."""
    N = len(texts)
    M = np.zeros((N, dim), dtype=np.float64)
    for lo in range(0, N, _DOC_CHUNK):
        chunk = texts[lo : lo + _DOC_CHUNK]
        docs, buckets = _batch_ngram_buckets(chunk, 3, dim)
        if docs.size:
            flat = np.bincount(docs * dim + buckets, minlength=len(chunk) * dim)
            M[lo : lo + len(chunk)] = flat.reshape(len(chunk), dim)
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0] = 1.0
    return M / norms[:, None]


@dataclass
class LangIdModel:
    langs: tuple[str, ...]
    centroids: np.ndarray  # (L, LANGID_DIM), rows L2-normalized

    def predict_batch(self, texts: list[str]) -> tuple[list[str], np.ndarray]:
        """Batch argmax-cosine prediction. Returns (labels, margins) where
        margin = best − second-best cosine (confidence proxy)."""
        if not texts:
            return [], np.empty(0)
        X = doc_matrix([t or "" for t in texts])  # (N, D), fully vectorized
        scores = X @ self.centroids.T  # (N, L)
        order = np.argsort(scores, axis=1)
        best = order[:, -1]
        margin = scores[np.arange(len(texts)), best] - scores[
            np.arange(len(texts)), order[:, -2]
        ]
        return [self.langs[i] for i in best], margin


@dataclass
class PerplexityModel:
    log_probs: np.ndarray  # (PPL_DIM,)

    def log_perplexity_batch(self, texts: list[str]) -> np.ndarray:
        n = len(texts)
        if n == 0:
            return np.empty(0)
        docs, buckets = _batch_ngram_buckets([t or "" for t in texts], 4, PPL_DIM)
        sums = np.bincount(docs, weights=self.log_probs[buckets], minlength=n)
        counts = np.bincount(docs, minlength=n)
        return np.where(counts > 0, -sums / np.maximum(counts, 1), _INF)


_MODEL_CACHE_DIR = "/tmp/data_profiler_spark_models"
_MODEL_VERSION = "v2"  # bump when featurization/training changes


def _load_or_train(name: str, train_fn):
    """Per-HOST weight cache: the first worker to need a model trains it and
    atomically publishes the .npz; every other worker (and every respawned
    worker — python workers are not guaranteed to live across stages) loads
    in milliseconds instead of re-training inside a task. On a multi-node
    cluster, pre-train on the driver and ship the same file via
    ``SparkContext.addFile`` / ``spark-submit --files``; weights are a pure
    function of the seed, so every path yields identical bytes."""
    import os
    import tempfile

    path = os.path.join(_MODEL_CACHE_DIR, f"{name}_{_MODEL_VERSION}.npz")
    if os.path.exists(path):
        try:
            return dict(np.load(path, allow_pickle=False))
        except Exception:  # partial/corrupt file — retrain and re-publish
            pass
    arrays = train_fn()
    os.makedirs(_MODEL_CACHE_DIR, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=_MODEL_CACHE_DIR, suffix=".npz")
    os.close(fd)
    np.savez(tmp, **arrays)
    os.replace(tmp, path)  # atomic: concurrent trainers publish identical bytes
    return arrays


@lru_cache(maxsize=1)
def langid_model() -> LangIdModel:
    """Seeded model, trained once per host (equivalent to broadcasting
    fitted weights: they are a pure function of the seed)."""

    def train():
        rows = []
        for lang in corpus.LANGS:
            V = doc_matrix(corpus.training_corpus(lang))
            c = V.mean(axis=0)
            rows.append(c / np.linalg.norm(c))
        return {"centroids": np.stack(rows)}

    arrays = _load_or_train("langid", train)
    return LangIdModel(langs=corpus.LANGS, centroids=arrays["centroids"])


@lru_cache(maxsize=1)
def perplexity_model() -> PerplexityModel:
    def train():
        counts = np.zeros(PPL_DIM, dtype=np.float64)
        for t in corpus.training_corpus("en"):
            buckets = _ngram_buckets(t, 4, PPL_DIM)
            counts += np.bincount(buckets, minlength=PPL_DIM)
        total = counts.sum()
        return {"log_probs": np.log((counts + 1.0) / (total + PPL_DIM))}

    arrays = _load_or_train("perplexity", train)
    return PerplexityModel(log_probs=arrays["log_probs"])
