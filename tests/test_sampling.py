"""Deterministic selection operators (operators/sampling.py): exact
token-budget selection via the bounded-histogram two-pass, exact
stratified sampling — checked against the naive global-window answer."""

from __future__ import annotations

import hashlib

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_profiler_spark.operators import sampling


def _fixture(spark, n=300):
    """Docs with clumpy priorities (ties across docs) and varied token
    counts — exercises hash tie-breaks and the boundary bin."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(50)) / 50.0).alias("prio"),
        (F.pmod(F.col("id") * 13, F.lit(90)) + 1).alias("toks"),
    )


def _global_prefix(rows, budget):
    """Independent reference: sort by (prio desc, md5(id)), maximal
    prefix with total tokens <= budget."""
    ordered = sorted(
        rows, key=lambda r: (-r["prio"], hashlib.md5(str(r["doc_id"]).encode()).hexdigest())
    )
    out, cum = set(), 0
    for r in ordered:
        if cum + r["toks"] > budget:
            break
        cum += r["toks"]
        out.add(r["doc_id"])
    return out, cum


def test_token_budget_sample_matches_global_prefix(spark):
    df = _fixture(spark)
    rows = df.collect()
    for budget in (0, 500, 4000, 10**9):
        got = sampling.token_budget_sample(
            df, budget, priority=F.col("prio"), tokens=F.col("toks"), bins=64
        ).collect()
        want_ids, want_cum = _global_prefix(rows, budget)
        assert {r["doc_id"] for r in got} == want_ids, budget
        assert sum(r["tokens"] for r in got) == want_cum, budget


def test_token_budget_sample_bin_count_invariance(spark):
    """The answer is EXACT for any bins value — coarse bins just sort a
    bigger boundary bin."""
    df = _fixture(spark)
    base = {
        r["doc_id"]
        for r in sampling.token_budget_sample(
            df, 3000, priority=F.col("prio"), tokens=F.col("toks"), bins=1
        ).collect()
    }
    for bins in (4, 64, 4096):
        got = {
            r["doc_id"]
            for r in sampling.token_budget_sample(
                df, 3000, priority=F.col("prio"), tokens=F.col("toks"), bins=bins
            ).collect()
        }
        assert got == base, bins


def test_token_budget_sample_null_priority_sorts_last(spark):
    df = spark.createDataFrame(
        [(1, 0.9, 10), (2, None, 10), (3, 0.5, 10)], "doc_id long, prio double, toks long"
    )
    got = sampling.token_budget_sample(
        df, 20, priority=F.col("prio"), tokens=F.col("toks"), bins=8
    )
    assert {r["doc_id"] for r in got.collect()} == {1, 3}


def test_token_budget_tied_priorities_hash_refinement(spark, monkeypatch):
    """All-equal priorities (quantized quality scores): priority zoom can
    never separate them, so the operator must switch to md5-hash-range
    refinement. A boundary cutoff of 8 forces several refinement levels on
    a 300-row fixture; the answer must still equal the global prefix."""
    monkeypatch.setattr(sampling, "BOUNDARY_CUTOFF", 8)
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit(0.5).alias("prio"),
        (F.pmod(F.col("id") * 13, F.lit(90)) + 1).alias("toks"),
    )
    rows = df.collect()
    got = sampling.token_budget_sample(
        df, 4000, priority=F.col("prio"), tokens=F.col("toks"), bins=16
    ).collect()
    want_ids, want_cum = _global_prefix(rows, 4000)
    assert {r["doc_id"] for r in got} == want_ids
    assert sum(r["tokens"] for r in got) == want_cum


def test_token_budget_zoom_refinement_close_priorities(spark, monkeypatch):
    """Distinct but tightly clustered priorities: a small cutoff forces
    the priority-range zoom levels; exactness must hold."""
    monkeypatch.setattr(sampling, "BOUNDARY_CUTOFF", 5)
    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (0.5 + F.col("id") / 1e9).alias("prio"),
        (F.pmod(F.col("id") * 7, F.lit(40)) + 1).alias("toks"),
    )
    rows = df.collect()
    got = sampling.token_budget_sample(
        df, 1500, priority=F.col("prio"), tokens=F.col("toks"), bins=16
    ).collect()
    want_ids, want_cum = _global_prefix(rows, 1500)
    assert {r["doc_id"] for r in got} == want_ids
    assert sum(r["tokens"] for r in got) == want_cum


def test_stratified_sample_exact_counts_and_determinism(spark, documents):
    got = sampling.stratified_sample_exact(documents, "lang", 7)
    counts = {r["lang"]: r["n"] for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sizes = {
        r["lang"]: r["n"] for r in documents.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {k: min(7, v) for k, v in sizes.items()}
    # deterministic: same ids on re-run, and they equal the hash-rank rule
    again = sampling.stratified_sample_exact(documents, "lang", 7)
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")))
    want = (
        documents.withColumn("rk", F.row_number().over(w)).filter("rk <= 7").drop("rk")
    )
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in want.collect()
    )


def test_stratified_sample_hash_threshold_path_is_exact(spark, documents, monkeypatch):
    """Force every stratum down the big-stratum hash-threshold path
    (MAX_WINDOW_ROWS=10) and one mixed run (only the largest stratum is
    'big'); both must equal the plain window answer."""
    plain = sorted(
        r["doc_id"]
        for r in sampling.stratified_sample_exact(documents, "lang", 7).collect()
    )
    monkeypatch.setattr(sampling, "MAX_WINDOW_ROWS", 10)
    all_big = sorted(
        r["doc_id"] for r in sampling.stratified_sample_exact(documents, "lang", 7).collect()
    )
    assert all_big == plain
    sizes = sorted(
        r["c"]
        for r in documents.groupBy("lang").agg(F.count("*").alias("c")).collect()
    )
    # only the largest stratum exceeds the cut
    monkeypatch.setattr(sampling, "MAX_WINDOW_ROWS", sizes[-1] - 1)
    mixed = sorted(
        r["doc_id"] for r in sampling.stratified_sample_exact(documents, "lang", 7).collect()
    )
    assert mixed == plain


def test_token_budget_histogram_is_bounded(spark):
    """The driver-side state is the bin histogram, never the rows: with
    bins=16 the first aggregate's result has at most 16 rows regardless
    of input size."""
    df = _fixture(spark, n=2000)
    prio = F.coalesce(F.col("prio").cast("double"), F.lit(0.0))
    b = F.least(
        F.greatest(F.floor(prio * 16).cast("long"), F.lit(0)), F.lit(15)
    )
    assert df.select(b.alias("b")).distinct().count() <= 16


def test_token_budget_null_token_bins_and_bad_range(spark, monkeypatch):
    """A bin whose docs all have NULL token counts must not crash the
    driver scan (NULL tokens consume no budget, like the oracle's SUM)."""
    monkeypatch.setattr(sampling, "BOUNDARY_CUTOFF", 2)
    rows = [(i, 0.05, None) for i in range(40)] + [
        (100 + i, 0.9, 10) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, p double, tk int")
    out = sampling.token_budget_sample(
        df, 100, priority=F.col("p"), tokens=F.col("tk"), bins=8
    )
    got = sorted(r["doc_id"] for r in out.collect())
    # all 5 real-token docs fit (50 <= 100); the 40 null-token docs also
    # fit (they consume nothing) — selection must not TypeError
    assert set(range(100, 105)).issubset(got)
    assert len(got) == 45
