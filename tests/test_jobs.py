"""The spark-submit entry points under ``jobs/``, run as a user runs them."""

from __future__ import annotations

import csv
import datetime
import io
import json
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_profiler_spark.operators import corpus
from data_profiler_spark.synth import pages_df
from jobs import corpus_clean_job, profile_job

JOBS = Path(__file__).resolve().parents[1] / "jobs"


def test_quality_filter_job_runs_outside_the_repo(tmp_path):
    """From another working directory, with no PYTHONPATH, the job's
    pandas-UDF workers still import the package: get_spark puts the repo
    root on the executors' PYTHONPATH."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, str(JOBS / "quality_filter_job.py"), "--synth", "60",
         "--output", str(tmp_path / "qf")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.strip().splitlines()[-1])["rows"] == 60


def test_corpus_clean_job_runs_every_stage(spark, tmp_path, capsys):
    """All five stages in one run: the printed stats describe the written
    output, and no row of the blocked host survives."""
    assert pages_df(spark, 300).filter(F.col("url").contains("//host0.example/")).count() > 0
    blocklist = tmp_path / "blocked.txt"
    blocklist.write_text("host0.example\n")
    pages_df(spark, 300).select("text").limit(20).write.parquet(str(tmp_path / "eval"))
    out = tmp_path / "clean"
    assert corpus_clean_job.main([
        "--synth", "300", "--blocklist", str(blocklist), "--eval-set", str(tmp_path / "eval"),
        "--normalize", "--span-dup-threshold", "0.5", "--output", str(out),
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    written = spark.read.parquet(str(out / "data"))
    assert stats["output_docs"] == written.count() > 0
    assert written.filter(corpus.url_host_expr(F.col("url")) == "host0.example").count() == 0
    sums = written.agg(F.sum("lines_kept"), F.sum("lines_dropped")).first()
    assert (stats["lines_kept"], stats["lines_dropped"]) == (sums[0], sums[1])


def test_corpus_clean_job_blocklist_needs_url(spark, tmp_path):
    """A requested blocklist on input without a url column fails the run
    instead of writing unfiltered output."""
    spark.createDataFrame([(1, "some text")], "doc_id long, text string").write.parquet(
        str(tmp_path / "docs")
    )
    blocklist = tmp_path / "blocked.txt"
    blocklist.write_text("host0.example\n")
    with pytest.raises(ValueError, match="url"):
        corpus_clean_job.main([
            "--input", str(tmp_path / "docs"), "--blocklist", str(blocklist),
            "--output", str(tmp_path / "clean"),
        ])


# Pipe-delimited, quoted, CRLF and LF mixed, last line unterminated. Money
# values with "$", "," and a wrong decimal count; a bad calendar date; row 10
# has an unquoted "|" inside its amount (E_UNQUOTED_DELIM); row 7's amount is
# whitespace only.
_ORDERS = [
    ("id|name|amount|day", "\r\n"),
    ('1|"alice"|12.50|2024-01-15', "\r\n"),
    ('2|"bob"|7.00|2024-02-01', "\n"),
    ('3|"carol"|$3.00|2024-03-10', "\r\n"),
    ('4|"dave"|1,200.00|2024-04-22', "\n"),
    ('5|"eve"|7.5|2024-05-05', "\r\n"),
    ('6|"o|neil"|19.99|2024-13-01', "\n"),
    ('7|"grace"|  |2024-06-30', "\r\n"),
    ('8|"heidi"|100.00|', "\n"),
    ('9|"ivan"|42.00|2024-07-04', "\r\n"),
    ('10|"judy"|12|50|2024-08-08', "\n"),
    ('11|"mallory"|88.80|2024-09-09', "\r\n"),
    ('12|"niaj"|5.25|2024-10-10', "\n"),
    ('13|"oscar"|0.99|2024-11-11', "\r\n"),
    ('14|"peggy"|64.10|2024-12-12', "\n"),
    ('15|"rupert"|3.30|2025-01-01', ""),
]


def _expected_buckets(data: bytes) -> dict[str, tuple[int, int, int]]:
    """(null, valid, invalid) per column, counted in Python over the file:
    extra fields dropped as Spark's PERMISSIVE parse drops them, an empty
    field is null, and null-like is empty after trimming spaces."""
    def is_date(v):
        try:
            return bool(re.fullmatch("[0-9]{4}-[0-9]{2}-[0-9]{2}", v)) and bool(
                datetime.date.fromisoformat(v)
            )
        except ValueError:
            return False

    valid = {
        "id": lambda v: re.fullmatch("[0-9]+(\\.[0-9]+)?", v),
        "name": lambda v: re.fullmatch("[a-zA-Z]+", v),
        "amount": lambda v: re.fullmatch("[0-9]+\\.[0-9]{2}", v) and v == v.strip(" "),
        "day": is_date,
    }
    header, *rows = csv.reader(io.StringIO(data.decode(), newline=""), delimiter="|")
    out = {}
    for i, col in enumerate(header):
        vals = [r[i] if i < len(r) and r[i] != "" else None for r in rows]
        nulls = [v for v in vals if v is None or v.strip(" ") == ""]
        good = [v for v in vals if v not in nulls and valid[col](v)]
        out[col] = (len(nulls), len(good), len(vals) - len(nulls) - len(good))
    return out


def test_profile_job_csv_chain(spark, tmp_path, capsys):
    """A CSV runs the reference's chain: sniff, parse, error rollup, type
    inference and typed validity counts, with errors and warnings in both
    artifacts."""
    data = "".join(line + end for line, end in _ORDERS).encode()
    src = tmp_path / "orders.csv"
    src.write_bytes(data)
    out = tmp_path / "prof"
    assert profile_job.main(["--input", str(src), "--output", str(out), "--histogram", "amount"]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"] == 15
    prof = json.loads((out / "profile.json").read_text())
    assert {c: t["inferred_type"] for c, t in prof["types"].items()} == {
        "id": "numeric", "name": "alpha", "amount": "money", "day": "date",
    }
    assert prof["types"]["day"]["date_format"]["format"] == "YYYY-MM-DD"
    wide = prof["wide"]
    for col, buckets in _expected_buckets(data).items():
        got = tuple(wide[f"{col}_{b}_count"] for b in ("null", "valid", "invalid"))
        assert got == buckets, col
    assert wide["amount_double_max"] == 100.0  # "1,200.00" does not cast
    crlf = data.count(b"\r\n")
    assert prof["csv"]["line_endings"] == {
        "crlf_count": crlf, "lf_count": data.count(b"\n") - crlf, "cr_count": data.count(b"\r") - crlf,
    }
    assert prof["csv"]["delimiter"] == "|" and prof["csv"]["quoted"]
    assert [w["code"] for w in prof["warnings"]] == ["W_MIXED_LINE_ENDINGS"]
    [err] = prof["errors"]
    assert (err["code"], err["count"], err["first_line"], err["catastrophic"]) == (
        "E_UNQUOTED_DELIM", 1, 10, False,
    )
    report = (out / "report.html").read_text()
    assert "<h2>Errors</h2>" in report and "<td>E_UNQUOTED_DELIM</td>" in report
    assert "<h2>Warnings</h2>" in report and "<td>W_MIXED_LINE_ENDINGS</td>" in report
    assert "<svg" in report  # the money column's histogram


def test_profile_job_csv_releases_its_cache(spark, tmp_path):
    """An in-process CSV profile leaves no cached frame behind in the
    session, on the full path and on the catastrophic stop: the parse
    and the error rollup are unpersisted before ``main`` returns."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    clean = "".join(line + end for line, end in _ORDERS).encode()
    for name, data, code in (("ok", clean, 0), ("jagged", clean + b'\n16|"sybil"\n', 1)):
        src = tmp_path / f"{name}.csv"
        src.write_bytes(data)
        before = persisted()
        argv = ["--input", str(src), "--output", str(tmp_path / name), "--histogram", "amount"]
        assert profile_job.main(argv) == code
        assert persisted() - before == set(), name


def test_profile_job_csv_jagged_row_stops_before_types(spark, tmp_path):
    """A jagged row is catastrophic: the run stops before type inference
    and exits non-zero, with the error in profile.json and no column
    profile."""
    data = "".join(line + end for line, end in _ORDERS).encode() + b'\n16|"sybil"\n'
    src = tmp_path / "orders.csv"
    src.write_bytes(data)
    out = tmp_path / "prof"
    assert profile_job.main(["--input", str(src), "--output", str(out)]) != 0
    prof = json.loads((out / "profile.json").read_text())
    jagged = [e for e in prof["errors"] if e["code"] == "E_JAGGED_ROW"]
    assert jagged == [
        {"code": "E_JAGGED_ROW", "count": 1, "first_line": 16, "catastrophic": True,
         "pct_of_rows": round(100 / 16, 4)}
    ]
    assert not {"wide", "distincts", "top_values", "types"} & set(prof)
    assert "<td>E_JAGGED_ROW</td>" in (out / "report.html").read_text()
