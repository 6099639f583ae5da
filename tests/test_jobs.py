"""The spark-submit entry points under ``jobs/``, run as a user runs them."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

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
