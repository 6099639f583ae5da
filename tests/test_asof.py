"""As-of join operator: matching, ties, missing matches, match age."""

from __future__ import annotations

import datetime as dt

from data_profiler_spark.operators.asof import asof_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, "k1", _ts("2024-01-10T00:00:00")),   # matches r2 (Jan 5)
            (2, "k1", _ts("2024-01-03T00:00:00")),   # matches r1 (Jan 1)
            (3, "k1", _ts("2023-12-31T00:00:00")),   # no prior right row
            (4, "k2", _ts("2024-01-05T00:00:00")),   # exact-ts tie → matched
            (5, "k3", _ts("2024-06-01T00:00:00")),   # key with no right rows
        ],
        "id int, key string, t timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k1", _ts("2024-01-01T00:00:00"), 100),
            ("k1", _ts("2024-01-05T00:00:00"), 200),
            ("k2", _ts("2024-01-05T00:00:00"), 300),
        ],
        "rkey string, t timestamp, val int",
    )
    out = asof_join(left, right, on="t", by_left="key", by_right="rkey", value_cols=["val"])
    got = {r["id"]: (r["_asof_val"], r["_asof_ts"]) for r in out.collect()}
    assert got[1] == (200, _ts("2024-01-05T00:00:00"))
    assert got[2] == (100, _ts("2024-01-01T00:00:00"))
    assert got[3] == (None, None)
    assert got[4] == (300, _ts("2024-01-05T00:00:00"))  # at-or-before includes equal ts
    assert got[5] == (None, None)
    assert out.count() == left.count()  # left join: every left row survives


def test_asof_join_tolerance(spark):
    """The join has no maximum match age: a right row months older than
    the left row is still its as-of match."""
    left = spark.createDataFrame(
        [(1, "k", _ts("2024-03-01T00:00:00"))], "id int, key string, t timestamp"
    )
    right = spark.createDataFrame(
        [("k", _ts("2024-01-01T00:00:00"), 9)], "rkey string, t timestamp, val int"
    )
    loose = asof_join(left, right, "t", "key", "rkey", ["val"])
    assert loose.first()["_asof_val"] == 9


def test_point_in_interval_join_lossless_and_join_shaped(spark):
    """Bucketized range join must equal the naive inequality join exactly
    (every true pair shares the point's bucket) and must not compile to a
    nested-loop/cartesian plan."""
    from pyspark.sql import functions as F

    from data_profiler_spark.operators.rangejoin import point_in_interval_join

    points = spark.createDataFrame(
        [(i, float(i * 3 % 97)) for i in range(200)], "pid int, p double"
    )
    intervals = spark.createDataFrame(
        [(j, float(j * 7 % 90), float(j * 7 % 90) + 10.0) for j in range(40)],
        "iid int, s double, e double",
    )
    fast = {
        (r["pid"], r["iid"])
        for r in point_in_interval_join(points, intervals, "p", "s", "e", 10.0).collect()
    }
    naive = {
        (r["pid"], r["iid"])
        for r in points.join(
            intervals, (F.col("p") >= F.col("s")) & (F.col("p") <= F.col("e"))
        ).collect()
    }
    assert fast == naive and len(fast) > 0
    plan = point_in_interval_join(points, intervals, "p", "s", "e", 10.0)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
