"""SparkSession factory: ``get_spark`` builds every engine session.

One place to pin the execution config that the whole engine assumes
(``ENGINE_CONF``): AQE on (runtime shuffle coalescing + skew-join
splitting), Arrow on (vectorized pandas-UDF transfer), UTC session
timezone (oracle parity with DuckDB), and a generated-code cache that
holds the engine's whole working set of whole-stage-codegen classes, so a
warm re-run of a plan finds its classes compiled (``codegen_compiles``
reads the JVM's compile count).

Under spark-submit (``PYSPARK_GATEWAY_PORT`` is set in the driver's
environment) the cluster manager owns master, executors, memory and the
worker environment, so ``get_spark`` applies only the app name,
``ENGINE_CONF`` and ``extra_conf``. From plain ``python`` it builds a
``local[N]`` session: N from ``cores`` or ``$SPARK_GRAFT_CPUS``, shuffle
partitions sized to cores rather than the 200-partition default, the UI
off, the repo root on the workers' PYTHONPATH and the worker launcher
below. A session already active in the calling thread is returned as it
is, so a job run inside another program's session leaves its conf alone.

At 100 TB these same settings hold: AQE picks the real shuffle
parallelism from map-side statistics, so `spark.sql.shuffle.partitions`
only needs to be a sane upper bound (cluster cores × 2-3), and skew
handling is runtime, not hand-tuned.

Local python workers start through the package's ``worker_python`` launcher
(``install_worker_launcher``). Spark puts ``$SPARK_HOME/python/lib/
pyspark.zip`` and the spark-core jar on every worker's PYTHONPATH, and
PySpark calls ``importlib.invalidate_caches()`` once per task, which on
CPython 3.11 re-reads each archive's whole directory (1,328 and 5,359
entries) in every zipimporter. The launcher drops both entries, so workers
import the identical pyspark build from site-packages: an identity pandas
UDF's python CPU per task fell from ~0.26 to ~0.045 s (16 tasks, local[4];
BASELINE.md). It is installed only when the driver imported pyspark from
outside ``$SPARK_HOME/python`` and the ``SPARK_HOME`` jars are that same
version; otherwise the worker start is left as it was.
"""

from __future__ import annotations

import glob
import os
from pathlib import Path as _Path

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_LAUNCHER = str(_Path(__file__).with_name("worker_python"))
# where the launcher finds the interpreter PYSPARK_PYTHON named before
_LAUNCHER_TARGET = "_DPS_WORKER_PYTHON"


def install_worker_launcher() -> None:
    """Point ``PYSPARK_PYTHON`` at the ``worker_python`` launcher, which
    runs the interpreter it named before (default ``python3``) without
    ``pyspark.zip`` or the spark-core jar on PYTHONPATH. PySpark reads the
    env var, not the ``spark.pyspark.python`` conf, and workers inherit
    the JVM's environment, so this acts only before the JVM starts.

    A pre-set ``PYSPARK_PYTHON`` is wrapped, not kept; one that already
    names the launcher is left alone. Nothing changes when the driver's
    pyspark is Spark's own copy under ``$SPARK_HOME/python`` (as findspark
    sets up), which workers could then not import, or when
    ``$SPARK_HOME/jars`` lacks the spark-core build of
    ``pyspark.__version__``, since a worker of another version could fail
    the handshake."""
    if os.environ.get("PYSPARK_PYTHON") == _LAUNCHER or SparkContext._gateway is not None:
        return
    home = _find_spark_home()
    jar = f"spark-core_*-{pyspark.__version__}.jar"
    if (
        os.access(_LAUNCHER, os.X_OK)
        and not _Path(pyspark.__file__).resolve().is_relative_to(
            _Path(home, "python").resolve()
        )
        and glob.glob(os.path.join(home, "jars", jar))
    ):
        os.environ[_LAUNCHER_TARGET] = os.environ.get("PYSPARK_PYTHON", "python3")
        os.environ["PYSPARK_PYTHON"] = _LAUNCHER


# Every engine session's execution config, local or under spark-submit;
# master, cores, memory and local paths are get_spark's local mode only.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Generated-class cache sized above the engine's working set. With the
    # cache unbounded, one traced perfbench run (filter_run, dedup_skew,
    # profile_output) Janino-compiled 234 classes and one bench.py suite
    # 449. At the default of 100 entries one dedup_skew iteration (~115
    # classes) evicted its own plans, so every warm iteration compiled
    # ~65 classes again and C2 re-JITted each new class (BASELINE.md).
    # Static: read when the JVM first generates code, so builder-only.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # One BLAS thread per python worker: N workers × default BLAS
    # threadpool (ncores each) oversubscribes the box quadratically —
    # measured 2× wall-clock on the langid matmul at local[32]. Task
    # parallelism comes from Spark, not from nested BLAS threads.
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    # Retain python-worker allocator arenas: each Arrow/pandas-UDF
    # batch allocates multi-MB numpy/Arrow buffers that glibc serves
    # via mmap and returns to the OS on free, so EVERY batch re-pays
    # first-touch page faults. On an overcommitted hypervisor those
    # faults stall ~100× (measured here: first-touch cumsum over 50 MB
    # 103 s vs 0.1 s re-touch, with flat CPU markers and zero PSI —
    # the host supplies pages slowly under outside load). Disabling
    # malloc trim and raising the mmap threshold keeps freed batch
    # buffers in the worker's heap, paying the fault once per worker
    # instead of once per batch: measured best-of-4 scoring 13.6 s →
    # 9.3 s in a contended window (BASELINE.md round 4). Steady-state
    # RSS is bounded by the worker's peak batch footprint, which
    # worker reuse (default on) already implies.
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "-1",
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "268435456",
}


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far. A warm plan re-run adds 0
    while its generated classes fit the codegen cache (``ENGINE_CONF``)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def get_spark(
    app_name: str = "data_profiler_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's SparkSession: the calling thread's active session if
    there is one, else a new one (see the module docstring).

    ``cores`` controls ``local[N]`` — the two-parallelism scaling bench
    (BASELINE.md north rule) runs the same job at local[8] and local[32]
    through this one knob. It has no effect under spark-submit.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = SparkSession.builder.appName(app_name)
    local = "PYSPARK_GATEWAY_PORT" not in os.environ
    if local:
        n = cores or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
        builder = (
            builder.master(f"local[{n}]")
            .config("spark.sql.shuffle.partitions", str(max(2 * n, 8)))
            .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
            .config("spark.ui.enabled", "false")
            .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
            # Python workers resolve this package via PYTHONPATH, not driver
            # sys.path — pin the repo root so pandas UDFs import it anywhere.
            # Under spark-submit, --py-files does this instead.
            .config(
                "spark.executorEnv.PYTHONPATH",
                str(_Path(__file__).resolve().parents[1]),
            )
        )
        install_worker_launcher()
    spark = builder.config(map={**ENGINE_CONF, **(extra_conf or {})}).getOrCreate()
    if local:
        spark.sparkContext.setLogLevel("WARN")
    return spark
