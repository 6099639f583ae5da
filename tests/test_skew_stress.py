"""Skew-stress evidence (round-3 brief #1): the skew defenses measured on
an adversarial fixture, not just design-asserted.

Fixture: ``synth.skewed_pages_df`` — hot host ~35 % of the crawl,
cross-document boilerplate lines (hot ``md5(line)`` join keys for
``line_dedup``), and an exact-duplicate family (~10 %) that floods one
bucket of every LSH band. Three asserts:

1. AQE *splits* the hot line-count join key (``skew=true`` in the final
   adaptive plan) once partition sizes cross the skew thresholds — the
   thresholds are lowered to make fixture-scale partitions cross them;
   at 100 TB the defaults cross on their own.
2. The pipeline's url-hash salted repartition spreads the hot host
   evenly, while partitioning by host (the naive key) concentrates it.
3. The ``max_band_df`` guardrail keeps the duplicate family's candidate
   mass linear on this fixture end-to-end (report + star edges).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_profiler_spark.operators import corpus, dedup
from data_profiler_spark.pipeline import url_salt
from data_profiler_spark.synth import skewed_pages_df

N = 3000


@pytest.fixture(scope="module")
def skew_pages(spark):
    df = skewed_pages_df(spark, N, seed=7, partitions=8).cache()
    df.count()
    yield df
    df.unpersist()


def test_fixture_is_actually_skewed(skew_pages):
    """The stress fixture must exhibit the three skew modes it claims,
    else the other tests vacuously pass."""
    host_counts = (
        skew_pages.groupBy(F.regexp_extract("url", r"https://([^/]+)/", 1).alias("h"))
        .count()
        .orderBy(F.desc("count"))
        .collect()
    )
    assert host_counts[0]["h"] == "host0.example"
    assert host_counts[0]["count"] > 0.25 * N  # hot host dominates
    fam = skew_pages.filter(F.col("quality_class") == "dup_family").count()
    assert 0.05 * N < fam < 0.2 * N  # exact-duplicate family present
    hot_line = (
        skew_pages.select(F.explode(F.split("text", "\n")).alias("line"))
        .groupBy("line")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert hot_line > 0.15 * N  # boilerplate line repeated corpus-wide


def test_line_dedup_aqe_splits_hot_line_key(spark):
    """line_dedup's count→join-back keys on md5(line); a corpus-wide
    boilerplate line concentrates one key. With broadcast off (at 100 TB
    the build side can exceed any broadcast threshold) and the AQE skew
    thresholds scaled down to fixture bytes, the final adaptive plan must
    show the skew-split marker — proving the operator's join SHAPE is one
    AQE can defuse, which is the transferable 100-TB property.

    This needs the materialized counts: AQE's OptimizeSkewedJoin only matches
    ``SMJ(Sort(ShuffleStage), Sort(ShuffleStage))``, and the count
    aggregate's final HashAggregate between Sort and the stage blocks the
    rule entirely (measured in this sandbox: a forced-skew join against a
    grouped side never splits, the same join against a checkpointed copy
    of it does).

    Fixture note (measured): skew detection is BYTE-based on the
    compressed map outputs, and lz4 crushes a repeated line to ~4 % of
    its raw bytes while unique-line partitions stay ~50 %, so a hot key
    must carry ~10× the per-partition row share before its partition's
    compressed bytes cross the median. ``skewed_pages_df``'s ~2 %
    boilerplate share is invisible to it at 3k docs (rule ran, found
    "0 skewed partitions" — debug-log verified); at 100 TB a 20 %-of-docs
    boilerplate line is hundreds× the partition average and detection is
    trivial. The test therefore uses the sharp shape: every doc = the
    same hot line + one unique line, hot key = 50 % of all line rows."""
    hot = "subscribe to our newsletter for the latest updates and offers"
    docs = spark.range(0, 3000, 1, 8).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(hot + "\n"),
            F.lit("unique line payload number "),
            F.col("id").cast("string"),
            F.lit(" "),
            F.md5(F.col("id").cast("string")),
        ).alias("text"),
    )
    confs = {
        "spark.sql.shuffle.partitions": "64",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4096",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2048",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        out = corpus.line_dedup(docs)
        rows = out.collect()
        assert len(rows) == 3000
        # correctness under the split: hot line survives only in doc 0
        kept_hot = sum(1 for r in rows if hot in (r["clean_text"] or ""))
        assert kept_hot == 1
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_repartition_defuses_hot_host(spark, skew_pages):
    """The pipeline writes repartitioned on (month, url-hash salt). On the
    hot-host fixture the naive host key concentrates >25 % of rows in one
    group, while the salted key's largest group stays near the uniform
    share — the measured defusal, independent of executor count."""
    n_salt = 64
    salted_max = (
        skew_pages.groupBy(url_salt(n_salt).alias("k"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    host_max = (
        skew_pages.groupBy(F.regexp_extract("url", r"https://([^/]+)/", 1).alias("k"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert host_max > 0.25 * N
    # largest salted bucket within 2x of the ideal uniform share
    assert salted_max < 2.0 * (N / n_salt)


def test_band_cap_linear_on_dup_family(skew_pages):
    """End-to-end on the stress fixture: the duplicate family produces
    star-edge candidates (O(family)) under the cap, and the report's
    capped projection agrees."""
    fam = skew_pages.filter(F.col("quality_class") == "dup_family").count()
    rep = dedup.band_df_report(
        skew_pages, max_band_df=64, hash_fn="xxhash64"
    ).collect()[0]
    assert rep["hot_buckets"] >= 1
    assert rep["max_bucket_docs"] >= fam
    assert rep["capped_candidates"] < rep["uncapped_candidates"] / 10
    pairs = dedup.minhash_lsh_pairs(
        skew_pages, hash_fn="xxhash64", threshold=0.8, max_band_df=64
    )
    fam_ids = {
        r["doc_id"]
        for r in skew_pages.filter(F.col("quality_class") == "dup_family")
        .select("doc_id")
        .collect()
    }
    fam_pairs = [
        r for r in pairs.collect() if r["id1"] in fam_ids and r["id2"] in fam_ids
    ]
    # star shape: exactly family-1 edges, all anchored at the min id
    assert len(fam_pairs) == fam - 1
    anchor = min(fam_ids)
    assert all(r["id1"] == anchor and r["jaccard"] == 1.0 for r in fam_pairs)

