"""session.install_worker_launcher: python workers start through the
package's ``worker_python`` launcher, importing pyspark from site-packages
with neither ``$SPARK_HOME/python/lib/pyspark.zip`` nor the spark-core jar
on their path, only when the Spark jars are the same build."""

from __future__ import annotations

import glob
import os
import subprocess

import pandas as pd
import pyspark
import pytest

from data_profiler_spark import session

TARGET = session._LAUNCHER_TARGET


def _launcher_expected() -> bool:
    home = session._find_spark_home()
    jar = f"spark-core_*-{pyspark.__version__}.jar"
    own_copy = os.path.realpath(pyspark.__file__).startswith(
        os.path.realpath(os.path.join(home, "python")) + os.sep
    )
    return not own_copy and bool(glob.glob(os.path.join(home, "jars", jar)))


def test_udf_worker_imports_pyspark_outside_zip(spark):
    """On a matching Spark build, a pandas UDF on the session fixture runs
    the configured interpreter with a directory-imported pyspark."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import sys

        import pyspark

        return s.map(lambda _: "|".join([pyspark.__file__, sys.executable, *sys.path]))

    [row] = spark.range(1).select(probe(F.col("id").cast("string")).alias("p")).collect()
    pyspark_file, executable, *worker_path = row["p"].split("|")
    if not _launcher_expected():
        assert os.environ.get("PYSPARK_PYTHON") != session._LAUNCHER
        return
    assert os.environ["PYSPARK_PYTHON"] == session._LAUNCHER
    assert ".zip" not in pyspark_file
    assert not [e for e in worker_path if e.endswith(("pyspark.zip", ".jar"))]
    configured = subprocess.run(
        [os.environ[TARGET], "-c", "import sys; print(sys.executable)"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert os.path.realpath(executable) == os.path.realpath(configured)


@pytest.fixture()
def fake_spark_home(tmp_path, monkeypatch):
    """No JVM yet, a SPARK_HOME whose jars are the site-packages pyspark
    build, and no PYSPARK_PYTHON or launcher target set."""
    (tmp_path / "jars").mkdir()
    (tmp_path / "jars" / f"spark-core_2.13-{pyspark.__version__}.jar").touch()
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(tmp_path))
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_PYTHON", raising=False)
    monkeypatch.delenv(TARGET, raising=False)
    return tmp_path


def test_version_mismatch_leaves_pyspark_python_alone(fake_spark_home, monkeypatch):
    monkeypatch.setattr(session.pyspark, "__version__", "0.0.0-other")
    monkeypatch.setenv("PYSPARK_PYTHON", "python3")
    session.install_worker_launcher()
    assert os.environ["PYSPARK_PYTHON"] == "python3"
    assert TARGET not in os.environ


def test_spark_own_pyspark_leaves_pyspark_python_alone(fake_spark_home, monkeypatch):
    """A driver importing pyspark from ``$SPARK_HOME/python`` (findspark)
    may have no site-packages copy for workers to import instead."""
    own = fake_spark_home / "python" / "pyspark" / "__init__.py"
    monkeypatch.setattr(session.pyspark, "__file__", str(own))
    monkeypatch.setenv("PYSPARK_PYTHON", "python3")
    session.install_worker_launcher()
    assert os.environ["PYSPARK_PYTHON"] == "python3"
    assert TARGET not in os.environ


def test_running_jvm_leaves_pyspark_python_alone(fake_spark_home, monkeypatch):
    """Workers inherit the JVM's environment, so a JVM already running
    could not pass the launcher its target."""
    monkeypatch.setattr(session.SparkContext, "_gateway", object())
    monkeypatch.setenv("PYSPARK_PYTHON", "python3")
    session.install_worker_launcher()
    assert os.environ["PYSPARK_PYTHON"] == "python3"
    assert TARGET not in os.environ


def test_preset_pyspark_python_becomes_launcher_target(fake_spark_home, monkeypatch):
    monkeypatch.setenv("PYSPARK_PYTHON", "python3")
    session.install_worker_launcher()
    assert os.environ["PYSPARK_PYTHON"] == session._LAUNCHER
    assert os.environ[TARGET] == "python3"


def test_unset_pyspark_python_targets_python3(fake_spark_home):
    session.install_worker_launcher()
    assert os.environ["PYSPARK_PYTHON"] == session._LAUNCHER
    assert os.environ[TARGET] == "python3"


def test_second_call_does_not_wrap_the_launcher(fake_spark_home, monkeypatch):
    monkeypatch.setenv("PYSPARK_PYTHON", "/usr/bin/python3")
    session.install_worker_launcher()
    session.install_worker_launcher()
    assert os.environ["PYSPARK_PYTHON"] == session._LAUNCHER
    assert os.environ[TARGET] == "/usr/bin/python3"
