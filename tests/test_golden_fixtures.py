"""Golden-fixture parity tests — the reference's validation semantics
(FIXTURES.md §F2) pinned over small CSVs built in-test.

Each fixture mirrors a documented reference case cluster (money violation
categories, date-format detection/out-of-range, mixed-type thresholds,
duplicate groups, RFC-4180 quoting) with our own deterministic content;
expected values are hand-derived and asserted exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_profiler_spark.operators import keys as K
from data_profiler_spark.operators import validators as V
from data_profiler_spark.operators.typeinfer import infer_column_types


def _csv_df(spark, tmp_path, name, header, rows, sep="|"):
    p = tmp_path / name
    p.write_text(header + "\n" + "\n".join(rows) + "\n")
    return (
        spark.read.option("header", True).option("sep", sep).csv(str(p))
    )


# --------------------------------------------------------------------------
# money_violations (reference profile.py:585-673 categories)
# --------------------------------------------------------------------------

def test_money_violation_rollup(spark, tmp_path):
    rows = [
        "1|10.00",      # valid
        "2|250.50",     # valid
        "3|$99.99",     # dollar_sign
        "4|1,250.00",   # comma
        "5|(45.00)",    # parentheses
        "6|10.5",       # wrong decimals (1)
        "7|10.500",     # wrong decimals (3)
        "8|10",         # wrong decimals (0)
        "9| 12.00",     # padded → invalid (strict no-strip)
        "10|",          # null
        "11|0.01",      # valid
    ]
    df = _csv_df(spark, tmp_path, "money.csv", "ID|Amount", rows)
    r = df.agg(*V.money_rollup_exprs("Amount")).collect()[0].asDict()
    assert r["Amount_valid_count"] == 3
    assert r["Amount_null_count"] == 1
    assert r["Amount_invalid_count"] == 7
    assert r["Amount_dollar_sign_count"] == 1
    assert r["Amount_comma_count"] == 1
    assert r["Amount_parentheses_count"] == 1
    assert r["Amount_wrong_decimals_count"] == 3
    assert float(r["Amount_min_valid"]) == 0.01
    assert float(r["Amount_max_valid"]) == 250.50
    assert r["Amount_dollar_sign_examples"] == ["$99.99"]


# --------------------------------------------------------------------------
# dates_mixed (profile.py:689-699, 821-998)
# --------------------------------------------------------------------------

def test_date_format_detection_and_range(spark, tmp_path):
    rows = [
        "1|20240115|01/15/2024",
        "2|20240216|02/16/2024",
        "3|20240317|2024-03-17",   # mixed format in col2
        "4|18991231|04/18/2024",   # out of range (<1900)
        "5|20240230|05/19/2024",   # impossible date (Feb 30)
        "6|20991231|06/20/2024",   # out of range (>current+1)
        "7||07/21/2024",           # null
    ]
    df = _csv_df(spark, tmp_path, "dates.csv", "ID|D8|DMix", rows)
    agg = df.agg(
        *V.date_format_counts_exprs("D8"),
        *V.date_format_counts_exprs("DMix"),
        V.out_of_range_date_count_expr("D8", "YYYYMMDD"),
    ).collect()[0].asDict()
    # D8: 5 parse as YYYYMMDD (Feb 30 fails the calendar check)
    assert agg["D8_fmt_YYYYMMDD"] == 5
    assert agg["D8_non_null"] == 6
    det = V.detect_date_format(agg, "D8")
    assert det["format"] == "YYYYMMDD" and not det["ambiguous"]
    # confidence = share of format MATCHES (reference profile.py:866-868:
    # count / sum(format_counts)), not of non-null values
    assert det["confidence"] == pytest.approx(1.0)
    # out-of-range: 1899 and 2099 both outside [1900, current+1]
    assert agg["D8_out_of_range_count"] == 2
    # DMix: majority MM/DD/YYYY with one ISO ⇒ ambiguous
    assert agg["DMix_fmt_MM/DD/YYYY"] == 6
    assert agg["DMix_fmt_YYYY-MM-DD"] == 1
    det2 = V.detect_date_format(agg, "DMix")
    assert det2["format"] == "MM/DD/YYYY" and det2["ambiguous"]
    assert det2["has_ambiguity"]
    assert det2["confidence"] == pytest.approx(6 / 7)


def test_datetime_format_detection(spark, tmp_path):
    """The sixth DATE_PATTERNS entry (reference profile.py:695): timestamp
    strings must count as their own format, not as invalid dates."""
    rows = [
        "1|2024-01-15 10:30:00",
        "2|2024-02-16 23:59:59",
        "3|2024-03-17 00:00:00",
        "4|2024-03-18",            # plain ISO date mixed in
        "5|2024-02-30 10:00:00",   # impossible calendar date
    ]
    df = _csv_df(spark, tmp_path, "dt.csv", "ID|TS", rows)
    agg = df.agg(*V.date_format_counts_exprs("TS")).collect()[0].asDict()
    assert agg["TS_fmt_YYYY-MM-DD HH:MM:SS"] == 3
    assert agg["TS_fmt_YYYY-MM-DD"] == 1
    det = V.detect_date_format(agg, "TS")
    assert det["format"] == "YYYY-MM-DD HH:MM:SS"
    assert det["has_ambiguity"]  # two formats present
    assert det["confidence"] == pytest.approx(3 / 4)


def test_dd_mm_yyyy_ambiguity_flip(spark, tmp_path):
    """Reference profile.py:699-700,851-859: day>12 slash dates flip the
    column to the DD/MM/YYYY interpretation when no MM/DD value exists; a
    single MM/DD-parsable value suppresses the DD/MM credit."""
    rows = ["1|25/12/2024", "2|13/01/2024", "3|31/03/2024"]
    df = _csv_df(spark, tmp_path, "ddmm.csv", "ID|D", rows)
    agg = df.agg(*V.date_format_counts_exprs("D")).collect()[0].asDict()
    assert agg["D_fmt_MM/DD/YYYY"] == 0  # months 25/13/31 are impossible
    assert agg["D_fmt_DD/MM/YYYY"] == 3
    det = V.detect_date_format(agg, "D")
    assert det["format"] == "DD/MM/YYYY" and det["has_ambiguity"]
    assert det["confidence"] == pytest.approx(1.0)
    # one MM/DD-parsable value suppresses the DD/MM interpretation
    rows2 = ["1|25/12/2024", "2|01/05/2024"]
    df2 = _csv_df(spark, tmp_path, "ddmm2.csv", "ID|D", rows2)
    agg2 = df2.agg(*V.date_format_counts_exprs("D")).collect()[0].asDict()
    assert agg2["D_fmt_MM/DD/YYYY"] == 1 and agg2["D_fmt_DD/MM/YYYY"] == 2
    det2 = V.detect_date_format(agg2, "D")
    assert det2["format"] == "MM/DD/YYYY" and det2["has_ambiguity"]


def test_prefer_format_breaks_ties(spark, tmp_path):
    """Exact format-count ties go to the earlier format in reference
    preference order (profile.py:701-720)."""
    rows = ["1|20240115", "2|2024-02-16"]
    df = _csv_df(spark, tmp_path, "tie.csv", "ID|D", rows)
    agg = df.agg(*V.date_format_counts_exprs("D")).collect()[0].asDict()
    assert V.detect_date_format(agg, "D")["format"] == "YYYYMMDD"  # pref order


def test_date_distribution(spark, tmp_path):
    rows = ["1|20240101", "2|20240102", "3|20240201", "4|20250101"]
    df = _csv_df(spark, tmp_path, "dd.csv", "ID|D", rows)
    dists = V.date_distribution(df, "D")
    by_year = {r["year"]: r["cnt"] for r in dists["by_year"].collect()}
    assert by_year == {2024: 3, 2025: 1}
    by_month = {r["month"]: r["cnt"] for r in dists["by_month"].collect()}
    assert by_month["2024-01"] == 2
    span = dists["span"].collect()[0]
    assert span["span_days"] == 366  # 2024 leap year


# --------------------------------------------------------------------------
# mixed_types (types.py:95, 309-316 thresholds)
# --------------------------------------------------------------------------

def test_mixed_type_thresholds(spark, tmp_path):
    # 40% numeric, 40% alpha, 20% other → mixed (two types > 20%)
    mixed_vals = ["12"] * 4 + ["abc"] * 4 + ["x-1"] * 2
    # 70% numeric → numeric (≥ 0.66 dominance)
    num_vals = ["7"] * 7 + ["abc"] * 3
    rows = [f"{i + 1}|{m}|{n}" for i, (m, n) in enumerate(zip(mixed_vals, num_vals))]
    df = _csv_df(spark, tmp_path, "mixed.csv", "ID|M|N", rows)
    out = infer_column_types(df, ["M", "N"])
    assert out["M"].inferred_type == "mixed"
    assert out["N"].inferred_type == "numeric"
    assert out["N"].confidence == pytest.approx(0.7)


# --------------------------------------------------------------------------
# duplicate_records (keys.py:222-364)
# --------------------------------------------------------------------------

def test_duplicate_records_fixture(spark, tmp_path):
    rows = [
        "1|ann@x.com|Ann",
        "2|bob@x.com|Bob",
        "3|ann@x.com|Anne",   # dup email group 1
        "4|cat@x.com|Cat",
        "5|bob@x.com|Bobby",  # dup email group 2
        "6||NoMail",          # null key — skipped and counted
        "7|ann@x.com|Annie",  # dup email group 1 (size 3)
    ]
    df = _csv_df(spark, tmp_path, "dups.csv", "ID|Email|Name", rows)
    groups = K.duplicate_groups(df, ["Email"], id_col="ID").collect()
    assert [(g["Email"], g["dup_count"]) for g in groups] == [
        ("ann@x.com", 3),
        ("bob@x.com", 2),
    ]
    assert K.null_key_count(df, ["Email"]) == 1
    cands = K.candidate_keys(df, ["ID", "Email", "Name"], max_width=1)
    assert cands[0].columns == ("ID",) and cands[0].score == 1.0


# --------------------------------------------------------------------------
# quoted_fields (RFC-4180: embedded delimiter / newline / doubled quotes)
# --------------------------------------------------------------------------

def test_quoted_fields_parsing(spark, tmp_path):
    content = (
        "ID|Name|Notes\n"
        '1|"Smith|John"|plain\n'
        '2|"Li ""Ann"""|doubled quotes\n'
        '3|"multi\nline"|embedded newline\n'
    )
    p = tmp_path / "quoted.csv"
    p.write_text(content)
    df = (
        spark.read.option("header", True)
        .option("sep", "|")
        .option("multiLine", True)
        .option("escape", '"')  # RFC-4180 doubled-quote escaping (Spark defaults to backslash)
        .csv(str(p))
    )
    got = {r["ID"]: (r["Name"], r["Notes"]) for r in df.collect()}
    assert got["1"] == ("Smith|John", "plain")
    assert got["2"] == ('Li "Ann"', "doubled quotes")
    assert got["3"] == ("multi\nline", "embedded newline")


# --------------------------------------------------------------------------
# P-predicates spot checks (types.py:81-92 regex semantics)
# --------------------------------------------------------------------------

def test_predicate_semantics(spark):
    df = spark.createDataFrame(
        [("123",), ("12.5",), ("$1,234.00",), ("abc",), ("(42)",), ("=cmd",), ("  ",)],
        "v string",
    )
    c = F.col("v")
    got = df.select(
        "v",
        V.is_numeric(c).alias("num"),
        V.is_numeric_with_violations(c).alias("dirty_num"),
        V.is_alpha(c).alias("alpha"),
    ).collect()
    by = {r["v"]: r for r in got}
    assert by["123"]["num"] and by["12.5"]["num"]  # unsigned decimal both match
    assert by["$1,234.00"]["dirty_num"] and not by["$1,234.00"]["num"]
    assert by["(42)"]["dirty_num"]
    # P5/P6: a violation symbol AND a numeric cleaned value
    assert not any(by[v]["dirty_num"] for v in ("123", "abc", "=cmd", "  "))
    assert by["abc"]["alpha"]
    # A5: the whitespace-only row is null-like; every bucket is non-zero
    counts = df.agg(*V.validity_counts_exprs("v", V.is_numeric(c))).first()
    assert (counts["v_null_count"], counts["v_valid_count"], counts["v_invalid_count"]) == (1, 2, 4)
