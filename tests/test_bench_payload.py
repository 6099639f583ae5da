"""bench.py's final stdout line must stay parseable from a 2000-char
capture: only headline scalars there, per-query maps in the side file."""

from __future__ import annotations

import json

import bench

SKEW_TWINS = [
    f"{op}_{fixture}_pages"
    for op in ("line_dedup", "minhash", "salted_write")
    for fixture in ("uniform", "skew")
]


def test_headline_line_fits_capture():
    names = bench.BENCH_QUERIES + ["quality_filter_score"] + SKEW_TWINS
    # worst-case widths: every timing a long float
    timings = {n: 1234.567 + i for i, n in enumerate(names)}
    headline, side = bench.headline_payload(timings, 0.753, 0.256, 0.081, 123456)
    assert len(json.dumps(headline)) < 2000
    assert headline["codegen_compiles"] == 123456
    assert "queries" not in headline and "queries_marker_normalized" not in headline
    assert side["queries"] == timings
    assert set(side["queries_marker_normalized"]) == set(names)
    assert headline["stable_subset_n"] == len(bench.STABLE_SUBSET)
    assert set(headline["skew_vs_uniform_ratio"]) == {"line_dedup", "minhash", "salted_write"}
