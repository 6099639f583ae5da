"""Artifact sinks (S8) + catalog seam + end-to-end profile_table."""

from __future__ import annotations

import csv
import json
import os

from data_profiler_spark.io import artifacts, catalog
from data_profiler_spark.operators import profiler as P


def test_profile_table_and_artifacts(documents, tmp_path):
    prof = P.profile_table(documents, ["n_chars"], ["lang", "source"])
    assert prof["row_count"] == documents.count()
    assert prof["distincts"]["lang"]["distinct_count"] > 0
    assert prof["top_values"]["lang"]

    paths = artifacts.write_profile_artifacts(prof, str(tmp_path))
    loaded = json.load(open(paths["profile.json"]))
    assert loaded["row_count"] == prof["row_count"]
    with open(paths["metrics.csv"]) as f:
        rows = list(csv.DictReader(f))
    by_col = {r["column_name"]: r for r in rows}
    assert int(by_col["lang"]["distinct_count"]) == prof["distincts"]["lang"]["distinct_count"]
    assert "top_values" in rows[0]


def test_html_report(documents, tmp_path):
    """report.html parity artifact (reference api/services/report.py:11-902):
    rendered purely from the profile dict — contains every profiled column
    card, the top-10 tables, inline-SVG histogram bars, and NO raw document
    text (PHI discipline; everything escaped)."""
    prof = P.profile_table(documents, ["n_chars"], ["lang", "source"])
    hist = [
        (r["bin_lo"], r["bin_hi"], r["cnt"])
        for r in P.histogram(documents, "n_chars").collect()
    ]
    path = artifacts.write_html_report(
        prof,
        str(tmp_path),
        run_id="r-test",
        histograms={"n_chars": hist},
        errors=[{"code": "E_X", "count": 3}],
        warnings=[{"code": "W_Y", "count": 1}],
    )
    assert os.path.basename(path) == "report.html"
    body = open(path).read()
    for col in ("n_chars", "lang", "source"):
        assert f"id='col-{col}'" in body  # a card per profiled column
    assert "<svg" in body and body.count("<rect") == len(hist)
    assert "E_X" in body and "W_Y" in body
    # top-value tables present for the string columns
    for v, _ in prof["top_values"]["lang"][:3]:
        assert f"<td>{v}</td>" in body
    # PHI discipline: no raw document text — sample some doc texts and
    # assert none of their (distinctive) 30-char prefixes leaked
    texts = [r["text"] for r in documents.select("text").limit(20).collect()]
    assert all(t[:30] not in body for t in texts if t and len(t) > 30)
    # escaping: nothing un-escaped slipped through stats keys/values
    assert "<script" not in body.lower()


def test_html_report_escapes_values(tmp_path):
    prof = {
        "row_count": 1,
        "column_count": 1,
        "distincts": {"c": {"distinct_count": 1}},
        "top_values": {"c": [("<script>alert(1)</script>", 1)]},
        "wide": {},
    }
    path = artifacts.write_html_report(prof, str(tmp_path))
    body = open(path).read()
    assert "<script>alert" not in body
    assert "&lt;script&gt;" in body


def test_json_safe_and_injection():
    assert artifacts._json_safe({"a": float("nan"), "b": [float("inf"), 1]}) == {
        "a": None,
        "b": [None, 1],
    }
    assert artifacts.csv_injection_sanitize("=cmd()") == "'=cmd()"
    assert artifacts.csv_injection_sanitize("safe") == "safe"


def test_catalog_parquet_fallback(spark, documents, tmp_path):
    out = str(tmp_path / "t")
    df = documents.withColumn("part", documents.lang)
    catalog.write_partitioned(df, out, ["part"])
    assert spark.read.parquet(out).count() == documents.count()
    # partition-level overwrite is idempotent: rewriting one partition
    # replaces it without touching or duplicating the others
    catalog.write_partitioned(df.filter(df.lang == "en"), out, ["part"])
    again = spark.read.parquet(out)
    assert again.count() == documents.count()
    assert not catalog.is_table_target(out)
    assert catalog.is_table_target("db.pages")


def test_write_partitioned_sets_no_session_conf(spark, documents, tmp_path):
    """Dynamic partition overwrite is a per-write option: set on the
    session, it would leak into every later write of a session the runs
    server shares across concurrent runs."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    df = documents.withColumn("part", documents.lang)
    catalog.write_partitioned(df, str(tmp_path / "t"), ["part"])
    assert spark.conf.get(key) == before
