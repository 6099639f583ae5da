"""The spark-submit entry points under ``jobs/``, run as a user runs them."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_profiler_spark.operators import corpus
from data_profiler_spark.synth import pages_df
from jobs import corpus_clean_job

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
