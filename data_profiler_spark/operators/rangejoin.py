"""Range (point-in-interval) join — bucketized, no inequality cross product.

Spark compiles a bare ``ON p BETWEEN s AND e`` join to
BroadcastNestedLoopJoin — O(|points| × |intervals|) comparisons and a
broadcast of a whole side. This operator makes the range join join-shaped
(the same move operators/asof.py makes for as-of semantics):

* points get one bucket key ``floor(p / w)``;
* each interval explodes to its covered buckets ``floor(s/w) .. floor(e/w)``
  (≈ len/w + 1 keys — bounded when ``w`` is chosen near the typical
  interval length);
* equi-join on the bucket, then the exact ``BETWEEN`` filter.

Every true (point, interval) pair shares the point's bucket by
construction, so the join is LOSSLESS; cost is one shuffle on bucket keys
with fan-out |intervals| × (len/w + 1). AQE's skew-join splitting handles
a bucket that happens to be hot.

Reference parity note: the reference has no range join (single-table
profiler); this is part of the training-data-pipeline extension surface
(task brief: point-in-window attribution, session stitching).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: float,
) -> DataFrame:
    """Inner-join point rows to every interval row with
    ``start <= point <= end`` (numeric columns; cast timestamps to epoch
    first). Left-outer semantics belong to :mod:`.asof`-style
    carry-forward, not here.

    Column collisions: interval columns that also exist on the points side
    must be renamed by the caller (standard join hygiene).
    """
    w = float(bucket_width)
    p = points.withColumn("_rb", F.floor(F.col(point_col) / F.lit(w)))
    iv = intervals.withColumn(
        "_rb",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / F.lit(w)),
                F.floor(F.col(end_col) / F.lit(w)),
            )
        ),
    )
    cond = (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) <= F.col(end_col))
    return p.join(iv, "_rb").filter(cond).drop("_rb")
