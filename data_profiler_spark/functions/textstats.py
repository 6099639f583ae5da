"""Gopher/C4-style quality signals as pure DataFrame expressions.

Every signal is a JVM-side Column expression (higher-order array functions
over split text) — no Python in the hot path, whole-stage codegen applies.
The single-process reference labeler (tests/reference_labeler.py)
implements the *same* definitions in Python; the definitions below are
pinned precisely (split semantics, trim semantics, non-overlapping counts)
so both sides agree byte-for-byte on the synthetic fixture:

* ``words`` = text split on ASCII-whitespace runs ``[ \\t\\n\\x0B\\f\\r]+``,
  empties dropped (Python ``str.split()`` equivalent for ASCII input).
* ``lines`` = split on ``\\n`` (trailing empties kept), each trimmed of
  spaces (Spark ``trim`` removes spaces only — the labeler mirrors with
  ``strip(' ')``), empties dropped.
* ``'...'`` occurrences counted non-overlapping left-to-right (Java
  ``replace`` == Python ``str.count``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import rules

_WS = "[ \\t\\n\\x0B\\f\\r]+"


def words_expr(c: Column) -> Column:
    """ASCII-whitespace tokens, empties dropped — the engine's one
    tokenizer (dedup, corpus, textanalysis and the oracle queries call it)."""
    return F.filter(F.split(c, _WS), lambda w: w != "")


def lines_expr(c: Column) -> Column:
    """Non-empty space-trimmed lines."""
    return F.filter(
        F.transform(F.split(c, "\\n", -1), lambda l: F.trim(l)), lambda l: l != ""
    )


def _count_occurrences(c: Column, token: str) -> Column:
    """Non-overlapping occurrence count via length delta."""
    return (F.length(c) - F.length(F.replace(c, F.lit(token), F.lit("")))) / len(token)


def signals_from_parts(c: Column, words: Column, lines: Column) -> Column:
    """Quality-signal struct from (text, words, lines). Pass MATERIALIZED
    words/lines columns (attribute refs): every signal references them, and
    inline expressions would be copied into each signal — a ~10× expression
    tree blow-up that shows up directly as whole-stage-codegen compile time
    (measured tens of seconds for the inline form)."""
    wc = F.size(words)
    lc = F.size(lines)
    total_word_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = F.when(wc > 0, total_word_len / wc).otherwise(F.lit(0.0))
    total_line_len = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    mean_line_len = F.when(lc > 0, total_line_len / lc).otherwise(F.lit(0.0))
    symbol_count = _count_occurrences(c, "#") + _count_occurrences(c, "...")
    symbol_ratio = F.when(wc > 0, symbol_count / wc).otherwise(F.lit(0.0))
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.substr(1, 1).isin("-", "*", "•"))
    )
    bullet_frac = F.when(lc > 0, bullet_lines / lc).otherwise(F.lit(0.0))
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    ellipsis_frac = F.when(lc > 0, ellipsis_lines / lc).otherwise(F.lit(0.0))
    lower_words = F.transform(words, F.lower)
    stopword_hits = F.size(
        F.array_intersect(F.array(*[F.lit(s) for s in rules.STOPWORDS]), lower_words)
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.when(wc > 0, alpha_words / wc).otherwise(F.lit(0.0))
    dup_line_frac = F.when(
        lc > 0, 1.0 - F.size(F.array_distinct(lines)) / lc
    ).otherwise(F.lit(0.0))
    # 2-gram repetition: total 2-gram count is just wc-1, so the 2-gram
    # array is referenced ONCE (inside array_distinct). Zipping two shifted
    # slices allocates two arrays per doc; a 2-element slice per word
    # position took ~3x as long at 20k docs (BASELINE.md).
    n = F.greatest(wc - 1, F.lit(0))
    two_grams = F.zip_with(
        F.slice(words, 1, n),
        F.slice(words, 2, n),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    dup_2gram_frac = F.when(
        wc >= 2, 1.0 - F.size(F.array_distinct(two_grams)) / (wc - 1)
    ).otherwise(F.lit(0.0))
    return F.struct(
        wc.alias("word_count"),
        lc.alias("line_count"),
        mean_word_len.cast("double").alias("mean_word_length"),
        mean_line_len.cast("double").alias("mean_line_length"),
        symbol_ratio.cast("double").alias("symbol_ratio"),
        bullet_frac.cast("double").alias("bullet_line_fraction"),
        ellipsis_frac.cast("double").alias("ellipsis_line_fraction"),
        stopword_hits.alias("stopword_hits"),
        alpha_frac.cast("double").alias("alpha_word_fraction"),
        dup_line_frac.cast("double").alias("dup_line_fraction"),
        dup_2gram_frac.cast("double").alias("dup_2gram_fraction"),
    )


def with_signals(df: DataFrame, text_col: str = "text", out: str = "signals") -> DataFrame:
    """Tree-size-friendly path: words/lines land in their own projection
    (multi-referenced expensive aliases survive CollapseProject), signals
    reference them as attributes."""
    c = F.col(text_col)
    return (
        df.withColumn("_words", words_expr(c))
        .withColumn("_lines", lines_expr(c))
        .withColumn(out, signals_from_parts(c, F.col("_words"), F.col("_lines")))
        .drop("_words", "_lines")
    )


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
    return F.array_compact(
        F.array(*[F.when(cond, F.lit(code)) for code, cond in checks])
    )
