"""Training-mix composition: mixture_allocation + mixture_sample."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_profiler_spark.operators import sampling
from data_profiler_spark.operators.sampling import (
    mixture_allocation,
    mixture_sample,
    stratified_sample_exact,
)


def test_allocation_largest_remainder_no_clamp():
    alloc = mixture_allocation(
        {"web": 1000, "code": 1000, "books": 1000},
        {"web": 0.5, "code": 0.3, "books": 0.2},
        101,
    )
    # ideal 50.5/30.3/20.2 → floors 50/30/20, leftover 1 → largest frac (web)
    assert alloc == {"web": 51, "code": 30, "books": 20}
    assert sum(alloc.values()) == 101


def test_allocation_clamps_and_redistributes():
    alloc = mixture_allocation(
        {"web": 1000, "code": 10, "books": 1000},
        {"web": 0.4, "code": 0.4, "books": 0.2},
        100,
    )
    assert alloc["code"] == 10  # clamped to availability
    assert sum(alloc.values()) == 100
    # the unused code budget re-spreads 2:1 over web:books
    assert alloc["web"] == 60 and alloc["books"] == 30


def test_allocation_total_exceeds_pool():
    alloc = mixture_allocation({"a": 3, "b": 2}, {"a": 0.5, "b": 0.5}, 100)
    assert alloc == {"a": 3, "b": 2}


def test_allocation_is_deterministic_on_ties():
    a1 = mixture_allocation({"x": 50, "y": 50}, {"x": 0.5, "y": 0.5}, 3)
    a2 = mixture_allocation({"y": 50, "x": 50}, {"y": 0.5, "x": 0.5}, 3)
    assert a1 == a2  # leftover unit goes to the same stratum either way


def test_stratified_quota_dict(documents):
    quotas = {"en": 7, "fr": 3}
    out = stratified_sample_exact(documents, "lang", quotas)
    got = {r["lang"]: r["c"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert got == quotas  # other langs excluded (quota 0)


def test_mixture_sample_counts_and_determinism(documents):
    weights = {"en": 0.6, "fr": 0.2, "es": 0.2}
    out1 = mixture_sample(documents, "lang", weights, total=50)
    out2 = mixture_sample(documents, "lang", weights, total=50)
    ids1 = sorted(r["doc_id"] for r in out1.collect())
    assert ids1 == sorted(r["doc_id"] for r in out2.collect())
    got = {
        r["lang"]: r["c"]
        for r in out1.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == {"en": 30, "fr": 10, "es": 10}
    assert sum(got.values()) == 50


def test_mixture_sample_clamps_scarce_stratum(spark):
    rows = [(i, "big") for i in range(200)] + [(1000 + i, "rare") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mixture_sample(df, "lang", {"big": 0.5, "rare": 0.5}, total=40)
    got = {
        r["lang"]: r["c"]
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == {"rare": 5, "big": 35}  # rare clamps, big absorbs the rest


def test_quota_dict_broadcast_path_many_strata(spark):
    """Above QUOTA_WHEN_CHAIN_MAX strata the quota becomes a broadcast
    join, not a giant when-chain expression — and picks the same rows."""
    from data_profiler_spark.operators.sampling import QUOTA_WHEN_CHAIN_MAX

    n_strata = QUOTA_WHEN_CHAIN_MAX + 36
    rows = [(s * 1000 + i, f"d{s}") for s in range(n_strata) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    quotas = {f"d{s}": (s % 3) + 1 for s in range(n_strata)}
    out = stratified_sample_exact(df, "lang", quotas)
    got = {
        r["lang"]: r["c"]
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == quotas
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # small dicts keep the expression path (no join)
    small = stratified_sample_exact(df.filter(F.col("lang").isin("d0", "d1")), "lang", {"d0": 2, "d1": 3})
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in small_plan


def test_stratified_null_stratum_big_path(spark, monkeypatch):
    """A NULL stratum above MAX_WINDOW_ROWS must neither vanish nor
    poison the small strata (`~isin` over a set containing None is NULL
    for every non-member)."""
    rows = (
        [(i, None) for i in range(300)]
        + [(1000 + i, "en") for i in range(300)]
        + [(2000 + i, "fr") for i in range(20)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    monkeypatch.setattr(sampling, "MAX_WINDOW_ROWS", 100)
    out = stratified_sample_exact(df, "lang", 10)
    got = {
        r["lang"]: r["c"]
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert got == {None: 10, "en": 10, "fr": 10}
    # and the selection equals the pure-window path (exactness under the
    # hash-threshold prefilter, null statum included)
    monkeypatch.setattr(sampling, "MAX_WINDOW_ROWS", 10**9)
    plain = stratified_sample_exact(df, "lang", 10)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in plain.collect()
    )
