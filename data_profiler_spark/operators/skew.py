"""Key-skew measurement: how unevenly a key spreads a table's rows.

The north rule requires "partitioning / shuffle / skew handled
explicitly": ``pipeline.url_salt`` defuses host-level skew with a fixed
bucket count (``pipeline.SALT_BUCKETS``), and this module MEASURES the
skew that salting answers. One groupBy on the key (map-side partial agg)
plus one tiny summary agg — cost is one shuffle whose volume is the
number of distinct keys per task.

A Zipf host distribution (typical for web crawls) shows up here as
``skew_ratio`` (max/avg rows per key) in the hundreds-to-millions: that
is the straggler multiplier a key-partitioned stage would suffer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def key_skew_report(df: DataFrame, key: Column) -> DataFrame:
    """Single-row skew summary of ``key``'s row distribution:

    n_keys, total_rows, max_cnt, avg_cnt, p50_cnt, p99_cnt (exact percentiles —
    engine invariant, never approx), skew_ratio = max/avg, top1_share =
    hottest key's fraction of all rows.
    """
    counts = df.groupBy(key.alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    q = F.percentile("cnt", F.array(F.lit(0.5), F.lit(0.99)))
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.avg("cnt"), 6).alias("avg_cnt"),
        F.round(q[0], 6).alias("p50_cnt"),
        F.round(q[1], 6).alias("p99_cnt"),
        F.round(F.max("cnt") / F.avg("cnt"), 6).alias("skew_ratio"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top1_share"),
    )
