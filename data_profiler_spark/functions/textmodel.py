"""Shared numpy core for language-ID and perplexity scoring.

This module is imported by BOTH the Spark scoring UDF (functions/langid.py)
and the single-process reference labeler (tests/reference_labeler.py), so
the distributed pipeline and the oracle run literally the same arithmetic —
the keep/drop F1 gate (BASELINE.json) then measures pipeline plumbing, not
model drift.

Design (north_star: "fastText language-ID model broadcast to executors …
batched character/word n-gram hash + KenLM-style perplexity scorer"):

* **Language ID** — hashed character-trigram bag (fastText-style input
  featurization) → L2-normalized doc vector → cosine against per-language
  centroid rows trained on the seeded corpus.
* **Perplexity** — hashed character-4-gram unigram LM with add-one
  smoothing trained on the seeded English corpus; score is
  log-perplexity = −mean log P(gram). KenLM-in-spirit (n-gram LM score
  per doc), hash-bucketed so the table is a dense vector that broadcasts
  in one piece.

Both featurizers read a ``pyarrow`` string array's UTF-8 value buffer and
offsets directly (:func:`_text_buffer`): the UDF hands over the Arrow batch
Spark sent, so no text is decoded to Python or re-encoded. The ``list[str]``
entry points (``predict_batch``, ``log_perplexity_batch``, training) build
one Arrow array and run the same core.

Everything is deterministic: polynomial byte hashes (no Python ``hash``),
fixed seeds, fixed dimensions.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import corpus

LANGID_DIM = 2048
PPL_DIM = 16384
_INF = float("inf")


def _text_buffer(texts: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(UTF-8 bytes of every doc back to back, per-doc byte lengths) of a
    ``string`` or ``large_string`` array, read from its offsets and value
    buffer without a copy. Honours a sliced array's ``offset``; nulls read
    as empty."""
    if texts.null_count:
        texts = pc.fill_null(texts, "")
    n = len(texts)
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    _, offsets, data = texts.buffers()
    width = np.int64 if pa.types.is_large_string(texts.type) else np.int32
    offs = np.frombuffer(offsets, dtype=width)[texts.offset : texts.offset + n + 1]
    lo, hi = int(offs[0]), int(offs[-1])
    buf = np.frombuffer(data, dtype=np.uint8)[lo:hi] if hi > lo else np.empty(0, np.uint8)
    return buf, np.diff(offs).astype(np.int64)


def _ngram_buckets(texts: pa.Array, n: int, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(doc_idx, bucket) pairs for every byte n-gram of every document:
    one polynomial rolling hash over the batch's value buffer, windows
    crossing a document boundary masked out. Zero per-document Python —
    the whole batch is ~10 numpy ops."""
    data, lens = _text_buffer(texts)
    buf = data.astype(np.int64)
    m = buf.size - n + 1
    if m <= 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    acc = np.zeros(m, dtype=np.int64)
    for i in range(n):
        acc = acc * 31 + buf[i : m + i]
        acc %= 1 << 40  # keep well inside int64 before the final mod
    doc_of = np.repeat(np.arange(lens.size, dtype=np.int64), lens)
    valid = doc_of[:m] == doc_of[n - 1 : n - 1 + m]
    return doc_of[:m][valid], acc[valid] % dim


_DOC_CHUNK = 128  # bounds the bincount temporaries to (chunk × dim) int64, 2 MB


def doc_matrix(texts: pa.Array) -> np.ndarray:
    """(N, LANGID_DIM) L2-normalized hashed-trigram matrix, one row per
    text (empty docs stay zero)."""
    N, dim = len(texts), LANGID_DIM
    M = np.zeros((N, dim), dtype=np.float64)
    for lo in range(0, N, _DOC_CHUNK):
        chunk = texts.slice(lo, _DOC_CHUNK)
        docs, buckets = _ngram_buckets(chunk, 3, dim)
        if docs.size:
            flat = np.bincount(docs * dim + buckets, minlength=len(chunk) * dim)
            M[lo : lo + len(chunk)] = flat.reshape(len(chunk), dim)
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0] = 1.0
    M /= norms[:, None]
    return M


def _arrow_texts(texts: list[str]) -> pa.Array:
    return pa.array(texts, type=pa.string())


@dataclass
class LangIdModel:
    langs: tuple[str, ...]
    centroids: np.ndarray  # (L, LANGID_DIM), rows L2-normalized

    def predict(self, texts: pa.Array) -> tuple[pa.Array, np.ndarray]:
        """Batch argmax-cosine prediction. Returns (labels, margins) where
        margin = best − second-best cosine (confidence proxy)."""
        if not len(texts):
            return pa.array([], pa.string()), np.empty(0)
        X = doc_matrix(texts)  # (N, D), fully vectorized
        scores = X @ self.centroids.T  # (N, L)
        order = np.argsort(scores, axis=1)
        best = order[:, -1]
        rows = np.arange(len(texts))
        margin = scores[rows, best] - scores[rows, order[:, -2]]
        return pc.take(pa.array(self.langs, pa.string()), best), margin

    def predict_batch(self, texts: list[str]) -> tuple[list[str], np.ndarray]:
        labels, margins = self.predict(_arrow_texts(texts))
        return labels.to_pylist(), margins


@dataclass
class PerplexityModel:
    log_probs: np.ndarray  # (PPL_DIM,)

    def log_perplexity(self, texts: pa.Array) -> np.ndarray:
        n = len(texts)
        if n == 0:
            return np.empty(0)
        docs, buckets = _ngram_buckets(texts, 4, PPL_DIM)
        sums = np.bincount(docs, weights=self.log_probs[buckets], minlength=n)
        counts = np.bincount(docs, minlength=n)
        return np.where(counts > 0, -sums / np.maximum(counts, 1), _INF)

    def log_perplexity_batch(self, texts: list[str]) -> np.ndarray:
        return self.log_perplexity(_arrow_texts(texts))


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
            V = doc_matrix(_arrow_texts(corpus.training_corpus(lang)))
            c = V.mean(axis=0)
            rows.append(c / np.linalg.norm(c))
        return {"centroids": np.stack(rows)}

    arrays = _load_or_train("langid", train)
    return LangIdModel(langs=corpus.LANGS, centroids=arrays["centroids"])


@lru_cache(maxsize=1)
def perplexity_model() -> PerplexityModel:
    def train():
        _, buckets = _ngram_buckets(_arrow_texts(corpus.training_corpus("en")), 4, PPL_DIM)
        counts = np.bincount(buckets, minlength=PPL_DIM).astype(np.float64)
        total = counts.sum()
        return {"log_probs": np.log((counts + 1.0) / (total + PPL_DIM))}

    arrays = _load_or_train("perplexity", train)
    return PerplexityModel(log_probs=arrays["log_probs"])
