"""Candidate-key analysis and duplicate detection — reference A19/A20.

Reference behavior (``api/services/keys.py``):

* score = distinct_ratio × (1 − sum of member null_ratios), where
  distinct_ratio = distinct / TOTAL rows (``keys.py:92-94`` — the
  candidate-key denominator; FIXTURES.md §F4.2 pins the three variants);
* singles plus 2/3-column compounds, gated by min_score and
  min_distinct_ratio, sorted by (−score, invalid_count) and truncated
  (``keys.py:98-219``);
* duplicate groups: rows grouped by the (compound) key, null-key rows
  skipped-and-counted, only count>1 groups kept, top examples by count
  (``keys.py:222-364``).

Spark realization: ONE wide agg computes every combo's exact distinct
count (``count_distinct(struct(...))``) and every member's null count in a
single pass — no per-combo scans. Scoring/ranking happens on the collected
agg row (driver-side pure Python over ≤ hundreds of numbers, same shape as
the reference's dict pass). Duplicate groups are one groupBy on the key.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .validators import is_null_like


@dataclass
class KeyCandidate:
    columns: tuple[str, ...]
    distinct_ratio: float
    null_ratio_sum: float
    score: float


def candidate_keys(
    df: DataFrame,
    cols: list[str] | None = None,
    max_width: int = 2,
    min_score: float = 0.5,
    min_distinct_ratio: float = 0.5,
    top: int = 5,
) -> list[KeyCandidate]:
    """Rank single + compound key candidates by the reference score.

    One job: a single agg over count(*), per-column null counts, and one
    exact ``count_distinct`` per combo. Combo count is C(n,1)+C(n,2)(+C(n,3))
    — bounded by the caller's column list, not the data.
    """
    cols = cols or df.columns
    combos: list[tuple[str, ...]] = [(c,) for c in cols]
    for w in range(2, max_width + 1):
        combos.extend(combinations(cols, w))

    aggs = [F.count(F.lit(1)).alias("_total")]
    for c in cols:
        aggs.append(F.sum(is_null_like(F.col(c)).cast("long")).alias(f"_null_{c}"))
    for combo in combos:
        key = F.struct(*[F.col(c) for c in combo]) if len(combo) > 1 else F.col(combo[0])
        aggs.append(F.count_distinct(key).alias("_d_" + "\x00".join(combo)))
    row = df.agg(*aggs).collect()[0].asDict()

    total = row["_total"] or 0
    out: list[KeyCandidate] = []
    for combo in combos:
        if total == 0:
            continue
        distinct_ratio = (row["_d_" + "\x00".join(combo)] or 0) / total
        null_ratio_sum = sum((row[f"_null_{c}"] or 0) / total for c in combo)
        score = distinct_ratio * max(0.0, 1.0 - null_ratio_sum)
        if score >= min_score and distinct_ratio >= min_distinct_ratio:
            out.append(KeyCandidate(combo, distinct_ratio, null_ratio_sum, score))
    out.sort(key=lambda k: (-k.score, len(k.columns), k.columns))
    return out[:top]


def duplicate_groups(
    df: DataFrame, key_cols: list[str], top: int = 10, id_col: str | None = None
) -> DataFrame:
    """Duplicate groups on a (compound) key — rows with any null key member
    are excluded (the reference skips-and-counts them; use
    ``null_key_count`` for the count), groups with count>1 ranked by size.

    Returns (key columns..., dup_count[, example_ids]) — deterministic
    order (count desc, key asc)."""
    non_null = df
    for c in key_cols:
        non_null = non_null.filter(~is_null_like(F.col(c)))
    aggs = [F.count(F.lit(1)).alias("dup_count")]
    if id_col is not None:
        aggs.append(F.slice(F.array_sort(F.collect_list(id_col)), 1, 5).alias("example_ids"))
    return (
        non_null.groupBy(*key_cols)
        .agg(*aggs)
        .filter(F.col("dup_count") > 1)
        .orderBy(F.desc("dup_count"), *[F.asc(c) for c in key_cols])
        .limit(top)
    )


def duplicate_stats(df: DataFrame, key_cols: list[str]) -> dict:
    """Whole-data duplicate counters matching the reference's confirm-keys
    response (``api/routers/runs.py:1729-1750``): ``duplicate_count`` =
    distinct key values appearing more than once (null-key rows skipped),
    ``total_duplicate_rows`` = extra occurrences Σ(count−1) — the first
    occurrence is not a duplicate — and ``duplicate_percentage`` over ALL
    rows (including the skipped null-key ones, as the reference counts
    ``total_rows`` before its null skip). One count + one groupBy agg;
    aggregates only, never per-key rows on the driver."""
    total_rows = df.count()
    non_null = df
    for c in key_cols:
        non_null = non_null.filter(~is_null_like(F.col(c)))
    dup = (
        non_null.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    r = dup.agg(
        F.count(F.lit(1)).alias("dc"), F.sum(F.col("n") - F.lit(1)).alias("tdr")
    ).collect()[0]
    dc, tdr = int(r["dc"] or 0), int(r["tdr"] or 0)
    return {
        "total_rows": total_rows,
        "has_duplicates": dc > 0,
        "duplicate_count": dc,
        "total_duplicate_rows": tdr,
        "duplicate_percentage": (tdr / total_rows * 100.0) if total_rows else 0.0,
    }


def null_key_count(df: DataFrame, key_cols: list[str]) -> int:
    """Count of rows excluded from duplicate grouping for a null key member
    (reference ``keys.py:254-280`` skip-and-count)."""
    pred = is_null_like(F.col(key_cols[0]))
    for c in key_cols[1:]:
        pred = pred | is_null_like(F.col(c))
    return df.filter(pred).count()
