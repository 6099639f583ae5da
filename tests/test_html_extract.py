"""HTML → text extraction: the input-hint's byte-identical invariant.

The north-rule input table carries (html:binary, text:string); the per-row
invariant vs the reference is byte-identical extracted text. These tests
pin it three ways: round-trip on the synthetic pages fixture, a
messy-markup case against an independent Python reference extractor, and
the plan shape (narrow map, no Python, no shuffle).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from data_profiler_spark.functions.html import (
    ENTITIES,
    decode_html_expr,
    extraction_report,
    html_to_text_expr,
)
from data_profiler_spark.io.intake import utf8_validity_udf


def _py_reference_extract(html: str) -> str:
    """Independent single-process extractor with the module's documented
    semantics (same chain, Python re instead of JVM regex)."""
    out = html
    for pat in (
        r"(?is)<script[^>]*>.*?</script>",
        r"(?is)<style[^>]*>.*?</style>",
        r"(?is)<head[^>]*>.*?</head>",
        r"(?s)<!--.*?-->",
    ):
        out = re.sub(pat, "", out)
    out = re.sub(r"(?s)</?[A-Za-z!][^>]*>", "", out)
    for ent, ch in ENTITIES:
        out = out.replace(ent, ch)
    return out


def test_extraction_round_trip_on_pages(pages):
    """Every valid-UTF-8 page's html decodes back to its text column
    byte-for-byte (the invariant the fixture is built to carry)."""
    v = utf8_validity_udf(F.col("html"))
    valid = pages.withColumn("_valid", v["valid"]).filter(F.col("_valid"))
    n_valid = valid.count()
    assert n_valid > 500  # corruption rate is ~0.5%
    mismatches = valid.filter(decode_html_expr(F.col("html")) != F.col("text")).count()
    assert mismatches == 0


def test_extraction_report_counts(pages):
    v = utf8_validity_udf(F.col("html"))
    n_invalid = pages.filter(~v["valid"]).count()
    row = extraction_report(pages).collect()[0].asDict()
    assert row["docs"] == pages.count()
    # corrupted pages decode with U+FFFD and cannot match byte-for-byte
    assert row["extract_mismatches"] == n_invalid
    assert row["extract_matches"] == row["docs"] - n_invalid
    assert row["null_html"] == 0


def test_extraction_matches_python_reference_on_messy_markup(spark):
    cases = [
        "<html><head><title>skip me</title></head><body>kept text</body></html>",
        '<HTML><BODY><SCRIPT type="text/javascript">var x = "<p>";</SCRIPT>after</BODY></HTML>',
        "<div><style>p { color: red }</style>styled</div>",
        "<!-- comment with <b>tags</b> inside -->visible",
        "<p>first</p><p>second</p>",
        "5 &lt; 7 &amp;&amp; 9 &gt; 3, &quot;quoted&quot;, it&#39;s, a&nbsp;space",
        "literal ampersand escape: &amp;lt; stays as entity text",
        "unclosed <b>bold and a lone less-than: 1 < 2",
        "",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, h string")
    got = {
        r["i"]: r["plain"]
        for r in df.select("i", html_to_text_expr(F.col("h")).alias("plain")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == _py_reference_extract(c), c
    # semantic spot checks, independent of the reference impl
    assert got[0] == "kept text"
    assert got[1] == "after"
    assert got[4] == "firstsecond"
    assert got[5] == '5 < 7 && 9 > 3, "quoted", it\'s, a space'
    assert got[6] == "literal ampersand escape: &lt; stays as entity text"


def test_extraction_is_narrow_jvm_plan(pages):
    """Zero exchanges, zero Python evals: extraction must ride the scan."""
    plan = (
        pages.select(decode_html_expr(F.col("html")).alias("t"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
