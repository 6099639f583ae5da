"""Type inference — reference A15/A16 as one agg + a pure decision tree.

Reference behavior (code-is-truth, SURVEY.md §1.2): sample the first 100
non-null values per column (``api/services/types.py:141-142``), count
per-type regex matches, then majority-vote with a 2/3 (0.66) dominance
threshold (``types.py:95``), "mixed" when ≥2 types each exceed 20 %
(``types.py:309-316``), date-first precedence, money-vs-numeric
disambiguation (money regex is a subset of numeric), and a low-cardinality
"code" class (ratio ≤ 0.50 with ≥ 6 samples, or ≤ 50 distinct with ≥ 50
samples — ``types.py:96-98,504-533``).

Spark realization: the *sampling* is per-column ``filter(non-null).limit(n)``
(cheap; limit short-circuits the scan), the match counting is one ``agg()``
per column batch, and the decision tree runs on the collected row —
deterministic and unit-testable, exactly mirroring the reference's
``TypeInferrer._detect_type`` (``types.py:247-390``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .validators import (
    ALPHA_RE,
    MONEY_RE,
    NUMERIC_RE,
    date_any_format,
    is_null_like,
)

DOMINANCE = 0.66  # types.py:95
MIXED_SECONDARY = 0.20  # types.py:309-316
CODE_MAX_RATIO = 0.50  # types.py:96-98
CODE_MIN_SAMPLES = 6
CODE_MAX_DISTINCT = 50
CODE_MIN_SAMPLES_ALT = 50
SAMPLE_SIZE = 100  # types.py:141-142


@dataclass
class ColumnTypeInfo:
    name: str
    inferred_type: str
    confidence: float
    sample_size: int
    match_rates: dict


def _sample_col(df: DataFrame, col: str, n: int = SAMPLE_SIZE) -> DataFrame:
    """First-n non-null sample — reference stores the first 100 non-null
    values per column (``types.py:141-142``). ``limit`` lets Spark
    short-circuit the scan; no shuffle."""
    c = F.trim(F.col(col).cast("string"))
    return df.select(c.alias("v")).filter(~is_null_like(F.col(col))).limit(n)


def match_rate_aggs(col_alias: str = "v"):
    """Per-type match-count expressions over the sampled values."""
    c = F.col(col_alias)
    return [
        F.count(c).alias("n"),
        F.sum(c.rlike(NUMERIC_RE).cast("long")).alias("numeric"),
        F.sum(c.rlike(MONEY_RE).cast("long")).alias("money"),
        F.sum(date_any_format(c).isNotNull().cast("long")).alias("date"),
        F.sum(c.rlike(ALPHA_RE).cast("long")).alias("alpha"),
        F.count_distinct(c).alias("distinct"),
    ]


def decide_type(n: int, numeric: int, money: int, date: int, alpha: int, distinct: int) -> tuple[str, float]:
    """The A15 decision tree as a pure function (``types.py:247-390``).

    Order of checks mirrors the reference: unknown → date-first → money
    (subset disambiguation, only when the 2-decimal form dominates the
    numeric matches) → numeric → alpha → mixed → code → varchar.
    Returns (inferred_type, confidence) where confidence is the share of
    the sample matching the chosen type (A16, ``types.py:624-667``).
    """
    if n == 0:
        return "unknown", 0.0
    rates = {
        "numeric": numeric / n,
        "money": money / n,
        "date": date / n,
        "alpha": alpha / n,
    }
    if rates["date"] >= DOMINANCE:
        return "date", rates["date"]
    if rates["money"] >= DOMINANCE:
        return "money", rates["money"]
    if rates["numeric"] >= DOMINANCE:
        return "numeric", rates["numeric"]
    if rates["alpha"] >= DOMINANCE:
        return "alpha", rates["alpha"]
    # mixed: ≥2 types above the secondary threshold and none dominant.
    # "money" is excluded as a separate vote when counted inside numeric.
    over = [t for t in ("numeric", "date", "alpha") if rates[t] > MIXED_SECONDARY]
    varchar_rate = 1.0 - max(rates["numeric"], 0) - rates["date"] - rates["alpha"]
    if varchar_rate > MIXED_SECONDARY:
        over.append("varchar")
    if len(over) >= 2:
        return "mixed", max((rates.get(t, 0.0) for t in over), default=0.0)
    # code: low-cardinality string (types.py:96-98, 504-533)
    ratio = distinct / n
    if (ratio <= CODE_MAX_RATIO and n >= CODE_MIN_SAMPLES) or (
        distinct <= CODE_MAX_DISTINCT and n >= CODE_MIN_SAMPLES_ALT
    ):
        return "code", 1.0 - ratio
    return "varchar", 1.0 - max(rates.values(), default=0.0)


def infer_column_types(df: DataFrame, cols: list[str] | None = None, sample_size: int = SAMPLE_SIZE) -> dict[str, ColumnTypeInfo]:
    """Infer the reference's 8-type classification for each column.

    One small job per column (sample → one agg). At 100 TB this stays
    cheap: each sample reads until `limit` rows are found and stops.
    """
    cols = cols or df.columns
    out: dict[str, ColumnTypeInfo] = {}
    for c in cols:
        row = _sample_col(df, c, sample_size).agg(*match_rate_aggs()).collect()[0]
        t, conf = decide_type(
            row["n"], row["numeric"], row["money"], row["date"], row["alpha"], row["distinct"]
        )
        out[c] = ColumnTypeInfo(
            name=c,
            inferred_type=t,
            confidence=conf,
            sample_size=row["n"],
            match_rates={
                k: (row[k] / row["n"] if row["n"] else 0.0)
                for k in ("numeric", "money", "date", "alpha")
            },
        )
    return out
