"""As-of join — an operator Spark's DataFrame API lacks, composed from
built-ins (task brief: custom operators as compositions where semantics
allow).

``asof_join(left, right, ...)`` pairs every left row with the most recent
right row at-or-before its timestamp within the same key — the canonical
point-in-time lookup (event → latest prior state).

Implementation (union + window, the scalable sort-based form):

1. tag and union both sides on (key, ts) — one DataFrame, no join;
2. one window per key ordered by (ts, side) carries the last seen right
   payload forward (``last(..., ignorenulls=True)``);
3. keep the left rows, now carrying their as-of match.

Cost: ONE shuffle on the key + a per-key sort — same complexity as a
sort-merge join, versus the naive inequality-join (cross product per key)
that a correlated subquery would cost. Skewed keys defuse exactly like any
other shuffle (AQE / salting upstream). Right side ties on equal ts are
broken by preferring the right row (side order 0 < 1), matching the
"at or before" contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by_left: str,
    by_right: str,
    value_cols: list[str],
) -> DataFrame:
    """Left as-of join: for each left row, the latest right row with
    ``right[on] <= left[on]`` and matching key.

    on: timestamp/ordering column name (present in both sides).
    by_left / by_right: equality key column names.
    value_cols: right-side columns to carry (null when no prior right row),
    as ``_asof_<col>``, beside the match's timestamp ``_asof_ts``.
    """
    lt = left.withColumn("_side", F.lit(1)).withColumn("_key", F.col(by_left))
    rt = (
        right.select(
            F.col(by_right).alias("_key"),
            F.col(on),
            *[F.col(c) for c in value_cols],
        )
        .withColumn("_side", F.lit(0))
    )
    tagged = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy("_key")
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.select(
        "*",
        *[
            F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"_asof_{c}")
            for c in value_cols
        ],
        F.last(F.when(F.col("_side") == 0, F.col(on)), ignorenulls=True)
        .over(w)
        .alias("_asof_ts"),
    )
    out = carried.filter(F.col("_side") == 1)
    drop = ["_side", "_key"] + value_cols
    return out.drop(*[c for c in drop if c in out.columns and c not in left.columns])
