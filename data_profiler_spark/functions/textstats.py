"""Gopher/C4-style quality signals, computed batch-at-a-time over Arrow.

:func:`batch_signals` takes a ``pyarrow`` string array (the batch Spark's
Arrow UDF node ships) and computes all 11 signals with pyarrow.compute
string kernels plus numpy reductions over the flattened words and lines —
no per-row Python. The scoring UDF (functions/langid.py) calls it next to
the language-ID and perplexity models, so every text crosses to Python
once. The single-process reference labeler (tests/reference_labeler.py)
implements the *same* definitions in plain Python; the definitions below
are pinned precisely so both sides agree exactly:

* ``words`` = text split on ASCII-whitespace runs ``[ \\t\\n\\x0B\\f\\r]+``,
  empties dropped (Python ``str.split()`` equivalent for ASCII input).
* ``lines`` = split on ``\\n`` (trailing empties kept), each trimmed of
  spaces only (the labeler mirrors with ``strip(' ')``), empties dropped.
* lengths count code points; ``'...'`` occurrences are counted
  non-overlapping left-to-right (Python ``str.count``).
* stopwords match after ASCII-only lowercasing. No non-ASCII character
  lowercases to a stopword letter in Python or Java, so this agrees with
  both full case mappings (pyarrow's ``utf8_lower`` does not: it maps
  ``İ`` to ``i``).
* distinct lines, 2-grams and stopwords are exact: dictionary codes
  counted per doc, no hashing.
* a null text scores as ``""``.

:func:`words_expr` stays a JVM expression: it is the engine's one
tokenizer for dedup, corpus, textanalysis and the oracle queries. The
dedup shingle regex (``dedup._shingle_sets``) splits on the same ``_WS``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import rules

_WS = "[ \\t\\n\\x0B\\f\\r]+"

_COUNT_FIELDS = ("word_count", "line_count", "stopword_hits")
SIGNAL_FIELDS = (
    "word_count",
    "line_count",
    "mean_word_length",
    "mean_line_length",
    "symbol_ratio",
    "bullet_line_fraction",
    "ellipsis_line_fraction",
    "stopword_hits",
    "alpha_word_fraction",
    "dup_line_fraction",
    "dup_2gram_fraction",
)
SIGNALS_TYPE = T.StructType(
    [
        T.StructField(f, T.IntegerType() if f in _COUNT_FIELDS else T.DoubleType())
        for f in SIGNAL_FIELDS
    ]
)
_STOPWORDS = pa.array(rules.STOPWORDS, pa.string())


def words_expr(c: Column) -> Column:
    """ASCII-whitespace tokens, empties dropped — the engine's one
    tokenizer (dedup, corpus, textanalysis and the oracle queries call it)."""
    return F.filter(F.split(c, _WS), lambda w: w != "")


def _pieces(parts: pa.ListArray, strip: str = "") -> tuple[pa.Array, np.ndarray]:
    """Non-empty strings of a list array, each first trimmed of the
    characters in ``strip``, and the row each came from."""
    flat = parts.flatten()
    if strip:
        flat = pc.utf8_trim(flat, strip)
    rows = pc.list_parent_indices(parts).to_numpy()
    keep = pc.greater(pc.binary_length(flat), 0)
    return flat.filter(keep), rows[_flags(keep)]


def _distinct_per_row(rows: np.ndarray, keys: np.ndarray, n: int) -> np.ndarray:
    """Number of distinct ``keys`` per row (``rows`` is non-decreasing)."""
    if rows.size == 0:
        return np.zeros(n, dtype=np.int64)
    order = np.lexsort((keys, rows))
    r, k = rows[order], keys[order]
    first = np.ones(r.size, dtype=bool)
    first[1:] = (r[1:] != r[:-1]) | (k[1:] != k[:-1])
    return np.bincount(r[first], minlength=n)


def _codes(strings: pa.Array) -> np.ndarray:
    """Dense ids, equal strings ⇔ equal ids."""
    return strings.dictionary_encode().indices.to_numpy().astype(np.int64)


def _flags(mask: pa.Array) -> np.ndarray:
    return mask.to_numpy(zero_copy_only=False)


def _per_row(rows: np.ndarray, n: int, weights=None) -> np.ndarray:
    return np.bincount(rows, weights=weights, minlength=n)


def _ratio(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    """``num / den`` where ``den > 0``, else 0.0 (Python's true division)."""
    return np.where(den > 0, num / np.maximum(den, 1), 0.0)


def batch_signals(texts: pa.Array) -> pa.StructArray:
    """The 11 quality signals of every text in the batch, as a
    :data:`SIGNALS_TYPE` struct array."""
    if texts.null_count:
        texts = pc.fill_null(texts, "")
    n = len(texts)

    words, wrow = _pieces(pc.ascii_split_whitespace(texts))
    wc = _per_row(wrow, n)
    word_len = _per_row(wrow, n, pc.utf8_length(words).to_numpy())
    alpha = _per_row(wrow, n, _flags(pc.match_substring_regex(words, "[A-Za-z]")))
    stop_idx = pc.index_in(pc.ascii_lower(words), value_set=_STOPWORDS)
    hit = pc.is_valid(stop_idx)
    stop_hits = _distinct_per_row(wrow[_flags(hit)], stop_idx.filter(hit).to_numpy(), n)
    # 2-gram (w_i, w_i+1) as one int64 key over the batch's word ids
    ids = _codes(words)
    same_row = wrow[1:] == wrow[:-1]
    grams = (ids[:-1] * (int(ids.max(initial=0)) + 1) + ids[1:])[same_row]
    distinct_grams = _distinct_per_row(wrow[1:][same_row], grams, n)

    lines, lrow = _pieces(pc.split_pattern(texts, "\n"), strip=" ")
    lc = _per_row(lrow, n)
    line_len = _per_row(lrow, n, pc.utf8_length(lines).to_numpy())
    bullet = pc.or_(
        pc.or_(pc.starts_with(lines, "-"), pc.starts_with(lines, "*")),
        pc.starts_with(lines, "\u2022"),
    )
    ellipsis = pc.or_(pc.ends_with(lines, "..."), pc.ends_with(lines, "\u2026"))
    distinct_lines = _distinct_per_row(lrow, _codes(lines), n)

    symbols = (
        pc.count_substring(texts, "#").to_numpy()
        + pc.count_substring(texts, "...").to_numpy()
    )
    columns = {
        "word_count": wc,
        "line_count": lc,
        "mean_word_length": _ratio(word_len, wc),
        "mean_line_length": _ratio(line_len, lc),
        "symbol_ratio": _ratio(symbols, wc),
        "bullet_line_fraction": _ratio(_per_row(lrow, n, _flags(bullet)), lc),
        "ellipsis_line_fraction": _ratio(_per_row(lrow, n, _flags(ellipsis)), lc),
        "stopword_hits": stop_hits,
        "alpha_word_fraction": _ratio(alpha, wc),
        "dup_line_fraction": np.where(lc > 0, 1.0 - _ratio(distinct_lines, lc), 0.0),
        "dup_2gram_fraction": np.where(
            wc >= 2, 1.0 - _ratio(distinct_grams, wc - 1), 0.0
        ),
    }
    return pa.StructArray.from_arrays(
        [
            pa.array(columns[f], pa.int32() if f in _COUNT_FIELDS else pa.float64())
            for f in SIGNAL_FIELDS
        ],
        names=list(SIGNAL_FIELDS),
    )


@F.arrow_udf(SIGNALS_TYPE)
def signals_udf(texts: pa.Array) -> pa.Array:
    return batch_signals(texts)


def signals_struct(c: Column) -> Column:
    """A non-null ``signals`` struct from the signal fields of ``c``."""
    return F.struct(*[c[f].alias(f) for f in SIGNAL_FIELDS])


def with_signals(df: DataFrame, text_col: str = "text", out: str = "signals") -> DataFrame:
    """``df`` plus the quality-signal struct of ``text_col`` as ``out``."""
    return df.withColumn(out, signals_struct(signals_udf(F.col(text_col))))


def heuristic_drop_reasons_expr(sig: Column) -> Column:
    """Ordered array of failed heuristic rule codes (rules.RULE_ORDER);
    empty array ⇒ heuristics pass. Mirrors the reference's error-code
    accumulation discipline (``api/services/errors.py:100-146``)."""
    checks = [
        ("too_few_words", sig["word_count"] < rules.MIN_WORDS),
        ("too_many_words", sig["word_count"] > rules.MAX_WORDS),
        (
            "mean_word_length",
            (sig["word_count"] > 0)
            & (
                (sig["mean_word_length"] < rules.MIN_MEAN_WORD_LENGTH)
                | (sig["mean_word_length"] > rules.MAX_MEAN_WORD_LENGTH)
            ),
        ),
        ("mean_line_length", sig["mean_line_length"] > rules.MAX_MEAN_LINE_LENGTH),
        ("symbol_ratio", sig["symbol_ratio"] > rules.MAX_SYMBOL_TO_WORD_RATIO),
        ("bullet_lines", sig["bullet_line_fraction"] > rules.MAX_BULLET_LINE_FRACTION),
        (
            "ellipsis_lines",
            sig["ellipsis_line_fraction"] > rules.MAX_ELLIPSIS_LINE_FRACTION,
        ),
        ("stopwords", sig["stopword_hits"] < rules.MIN_STOPWORD_HITS),
        ("alpha_words", sig["alpha_word_fraction"] < rules.MIN_ALPHA_WORD_FRACTION),
        ("dup_lines", sig["dup_line_fraction"] > rules.MAX_DUP_LINE_FRACTION),
        ("dup_2grams", sig["dup_2gram_fraction"] > rules.MAX_DUP_2GRAM_FRACTION),
    ]
    # concat of one- or zero-element arrays, not array_compact: that is a
    # lambda (filter) and would run interpreted, outside whole-stage codegen
    none = F.array().cast("array<string>")
    return F.concat(*[F.when(cond, F.array(F.lit(code))).otherwise(none) for code, cond in checks])
