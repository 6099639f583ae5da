"""Distribution drift (PSI / TVD) between two snapshots."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from data_profiler_spark.operators.drift import (
    PSI_EPS,
    distribution_drift,
    drift_summary,
)


def _py_psi(xs_a, xs_b, bins, lo, hi):
    width = (hi - lo) / bins if hi > lo else 1.0
    ca = [0] * bins
    cb = [0] * bins
    for xs, c in ((xs_a, ca), (xs_b, cb)):
        for x in xs:
            i = max(min(int(math.floor((x - lo) / width)), bins - 1), 0)
            c[i] += 1
    na, nb = sum(ca), sum(cb)
    psi = tvd = 0.0
    for i in range(bins):
        pa = max(ca[i] / na, PSI_EPS)
        pb = max(cb[i] / nb, PSI_EPS)
        psi += (pa - pb) * math.log(pa / pb)
        tvd += abs(ca[i] / na - cb[i] / nb)
    return ca, cb, psi, tvd / 2


def test_drift_matches_python_reference(spark):
    xs_a = [float(x % 97) for x in range(1, 400)]
    xs_b = [float((x * x) % 83) for x in range(1, 300)]  # different shape
    a = spark.createDataFrame([(x,) for x in xs_a], "v double")
    b = spark.createDataFrame([(x,) for x in xs_b], "v double")
    lo, hi = min(xs_a + xs_b), max(xs_a + xs_b)
    rows = distribution_drift(a, b, "v", bins=10).collect()
    ca, cb, psi, tvd = _py_psi(xs_a, xs_b, 10, lo, hi)
    assert [r["cnt_a"] for r in rows] == ca
    assert [r["cnt_b"] for r in rows] == cb
    got_psi = sum(r["psi_contrib"] for r in rows)
    assert abs(got_psi - psi) < 1e-4  # per-bin rounding at 6 dp
    s = drift_summary(a, b, "v", bins=10).collect()[0]
    assert (s["n_a"], s["n_b"]) == (len(xs_a), len(xs_b))
    assert abs(s["psi"] - psi) < 1e-6
    assert abs(s["tvd"] - tvd) < 1e-6


def test_drift_zero_on_identical_distributions(documents):
    a = documents.filter(F.col("doc_id") >= 0)
    s = drift_summary(a, a, "n_chars", bins=10).collect()[0]
    assert s["psi"] == 0.0 and s["tvd"] == 0.0


def test_drift_flags_disjoint_distributions(spark):
    a = spark.createDataFrame([(float(x),) for x in range(100)], "v double")
    b = spark.createDataFrame([(float(x + 1000),) for x in range(100)], "v double")
    s = drift_summary(a, b, "v", bins=10).collect()[0]
    assert s["psi"] > 0.25  # action threshold
    assert s["tvd"] == 1.0
    # pinned bounds keep runs comparable: all of b clamps into the last
    # bin, which holds a tenth of a, so tvd reads 0.9 (unpinned: 1.0)
    pinned = drift_summary(a, b, "v", bins=10, lo=0.0, hi=100.0).collect()[0]
    assert pinned["tvd"] == 0.9


def test_drift_null_and_empty_bins(spark):
    a = spark.createDataFrame([(1.0,), (None,), (2.0,)], "v double")
    b = spark.createDataFrame([(1.0,), (1.5,)], "v double")
    rows = distribution_drift(a, b, "v", bins=4).collect()
    assert len(rows) == 4  # every bin present even when both sides empty
    assert sum(r["cnt_a"] for r in rows) == 2  # null excluded


def test_threshold_sweep_single_pass(documents):
    from data_profiler_spark.operators.drift import threshold_sweep
    from data_profiler_spark.functions.textanalysis import quality_score_expr

    ts = [0.25, 0.5, 0.75, 0.9]
    out = threshold_sweep(documents, quality_score_expr(F.col("text")), ts)
    rows = out.collect()
    assert [r["threshold"] for r in rows] == ts
    total = documents.count()
    # keep-rate is monotone non-increasing in the threshold and exact
    kept = [r["kept"] for r in rows]
    assert kept == sorted(kept, reverse=True)
    for r in rows:
        assert r["total"] == total
        assert abs(r["keep_rate"] - r["kept"] / total) < 1e-6
    # cross-check one threshold against a direct count
    direct = documents.filter(quality_score_expr(F.col("text")) >= 0.75).count()
    assert rows[2]["kept"] == direct
    # one scan: the plan has exactly one aggregate pair over the input
    # (AQE toString repeats the plan under '== Initial Plan ==' — count
    # scans only in the final section)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1


def test_drift_defined_on_empty_and_allnull_sides(spark, documents):
    from data_profiler_spark.operators.drift import drift_summary

    empty = documents.filter(F.lit(False))
    s = drift_summary(documents, empty, "n_chars", bins=10).collect()[0]
    assert s["n_b"] == 0 and s["psi"] > 0.25  # content vanished = max signal
    rows = distribution_drift(empty, documents, "n_chars", bins=10).collect()
    assert len(rows) == 10 and all(r["p_a"] == 0.0 for r in rows)
    allnull = spark.createDataFrame([(None,), (None,)], "v double")
    s2 = drift_summary(allnull, allnull, "v", bins=4).collect()[0]
    assert (s2["n_a"], s2["n_b"], s2["psi"], s2["tvd"]) == (0, 0, 0.0, 0.0)


def test_quantile_buckets_exact_deciles(documents):
    from data_profiler_spark.operators.drift import quantile_buckets

    out = quantile_buckets(documents, F.col("n_chars"), k=10)
    rows = out.collect()
    assert len(rows) == documents.count()
    # buckets ordered by score: every doc in bucket b scores <= any doc in b+1
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r["score"])
    assert set(by_bucket) <= set(range(10))
    bs = sorted(by_bucket)
    for lo_b, hi_b in zip(bs, bs[1:]):
        assert max(by_bucket[lo_b]) <= min(by_bucket[hi_b])
    # near-continuous column → roughly balanced deciles (heavily tied
    # scores CAN lump into one bucket by design — ties never split)
    assert max(len(v) for v in by_bucket.values()) < len(rows) / 4


def test_quantile_buckets_feed_mixture_sampling(spark):
    """The curation composition: bucket by score, then oversample the top."""
    from data_profiler_spark.operators.drift import quantile_buckets
    from data_profiler_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(400)], "doc_id long, s double"
    )
    b = quantile_buckets(df, F.col("s"), k=4)
    mix = mixture_sample(b, "bucket", {3: 0.5, 2: 0.25, 1: 0.25}, total=80)
    got = {
        r["bucket"]: r["c"]
        for r in mix.groupBy("bucket").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == {3: 40, 2: 20, 1: 20}


def test_quantile_buckets_k_edge_cases(spark):
    import pytest

    from data_profiler_spark.operators.drift import quantile_buckets

    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "doc_id long, s double")
    one = quantile_buckets(df, F.col("s"), k=1).collect()
    assert {r["bucket"] for r in one} == {0}
    with pytest.raises(ValueError):
        quantile_buckets(df, F.col("s"), k=0)
