"""bench.py's final stdout line must stay parseable from a 2000-char
capture: only headline scalars there, per-query maps in the side file.
The stage reader behind the per-query ``cpu_s``/``cpu_frac`` works with
the Spark UI off."""

from __future__ import annotations

import json
import math

import bench

SKEW_TWINS = [
    f"{op}_{fixture}_pages"
    for op in ("line_dedup", "minhash", "salted_write")
    for fixture in ("uniform", "skew")
]


def test_headline_line_fits_capture():
    names = bench.BENCH_QUERIES + ["quality_filter_score"] + SKEW_TWINS
    # worst-case widths: every timing a long float
    measured = {
        n: {"sec": 1234.567 + i, "cpu_s": 987.6543 + i, "run_s": 1234.5678 + i}
        for i, n in enumerate(names)
    }
    measured["simhash_pairs"]["run_s"] = 0.0  # a query that ran no task
    headline, side = bench.headline_payload(measured, 0.753, 0.256, 0.081, 123456)
    assert len(json.dumps(headline)) < 2000
    assert headline["codegen_compiles"] == 123456
    assert 0 < headline["cpu_frac"] < 1
    assert [k for k, v in headline.items() if isinstance(v, dict)] == ["skew_vs_uniform_ratio"]
    for per_query in ("queries", "queries_marker_normalized", "cpu_s", "cpu_frac"):
        assert set(side[per_query]) == set(names)
    assert side["queries"] == {n: m["sec"] for n, m in measured.items()}
    assert side["cpu_s"]["tpch_q1"] == round(measured["tpch_q1"]["cpu_s"], 3)
    assert side["cpu_frac"]["tpch_q1"] == round(
        measured["tpch_q1"]["cpu_s"] / measured["tpch_q1"]["run_s"], 3
    )
    assert side["cpu_frac"]["simhash_pairs"] is None
    assert headline["stable_subset_n"] == len(bench.STABLE_SUBSET)
    assert set(headline["skew_vs_uniform_ratio"]) == {"line_dedup", "minhash", "salted_write"}


def test_stage_metrics_reads_one_groupby_with_ui_off(spark):
    from pyspark.sql import functions as F

    assert spark.sparkContext.uiWebUrl is None
    with bench.stage_metrics(spark) as stages:
        rows = (
            spark.range(0, 200_000, 1, 4)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.sum("id"))
            .collect()
        )
    assert len(rows) == 7
    assert any(s["shuffle_write_bytes"] > 0 for s in stages)
    frac = bench._cpu_frac(stages)
    assert frac is not None and math.isfinite(frac) and frac > 0
