"""One benchmark run's Spark session, confined to a directory of the checkout.

Host sizing comes from the environment only: ``SPARK_GRAFT_CPUS`` (all
CPUs this process may run on) and ``SPARK_GRAFT_DRIVER_MEM``, both read by
``data_profiler_spark.session.get_spark``. Everything Spark, the JVM, the
python workers and the model cache write lands under the run directory,
which :meth:`BenchSession.close` removes after stopping every process.
"""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import time
from pathlib import Path

from . import meter

DRIVER_MEM = "2g"


class BenchSession:
    """Owns the JVM and the Spark sessions of one run."""

    def __init__(self, run_dir: Path):
        self.run_dir = run_dir
        self.tmp = run_dir / "tmp"
        self.models = run_dir / "models"
        for d in (self.tmp, self.models, run_dir / "local"):
            d.mkdir(parents=True, exist_ok=True)
        java_opts = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        # Where the first touch of a page is slow (see the MALLOC_* settings
        # in session.py), a heap that G1 grows during the timed iterations
        # puts those page faults into them. A fixed, pre-touched heap moves
        # that cost into set-up; heap use is read inside the JVM (meter.py).
        driver_opts = f"{java_opts} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        tempfile.tempdir = str(self.tmp)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=str(run_dir / "local"),
            SPARK_LAUNCHER_OPTS=java_opts,
            TMPDIR=str(self.tmp),
            PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", "python3"),
        )
        self._conf = {
            "spark.driver.extraJavaOptions": driver_opts,
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.python.daemon.module": "perfbench.daemon",
            "spark.executorEnv.PERFBENCH_MODEL_DIR": str(self.models),
        }
        from data_profiler_spark.functions import textmodel

        # the oracle labeler loads the same models in this process
        textmodel._MODEL_CACHE_DIR = str(self.models)
        # The model cache starts empty in every run, so no run depends on
        # what an earlier one left behind. filter_run's oracle fits the
        # weights during prepare(); the workers then load them from here.
        self.spark = None

    def start(self):
        """Build the session, launching the JVM on the first call."""
        from data_profiler_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=self._conf)
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def process_pids(self) -> list[int]:
        """The driver JVM and every python process it has forked."""
        return [self.jvm_pid, *self.worker_pids()]

    def worker_pids(self) -> list[int]:
        """The python daemon and workers the driver JVM has forked."""
        return meter.descendants(self.jvm_pid)

    def close(self) -> None:
        """Stop Spark and the JVM, wait until every child has exited, and
        remove the run directory."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gateway = self.spark.sparkContext._gateway
                proc = gateway.proc
                pids = meter.descendants(proc.pid)
                self.spark.stop()
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                proc.stdin.close()  # the JVM exits at EOF on its stdin
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
                _wait_gone(pids)
                self.spark = None
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if Path(f"/proc/{p}").exists() and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    fields = meter._stat_fields(pid)
    return fields is None or fields[0] == "Z"
