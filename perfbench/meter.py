"""Measurement probes read from outside the program under test.

* :class:`StageMeter` diffs Spark's per-stage task metrics around one call.
  Every job the call submits is tagged with a job group; after the call the
  listener bus is drained and the status store is read for exactly the
  stages of those jobs (``executorRunTime``, ``executorCpuTime``, shuffle
  write, GC, spill and input bytes). The status store is filled with the UI
  off, so no REST port is involved.
* The ``/proc`` readers sum CPU time and peak resident memory over the
  driver JVM and the python workers it forks (psutil is not a dependency).
* The heap readers take the driver JVM's peak heap use from its memory
  pool beans, since its resident size is the whole pre-touched heap.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the parent tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of each process plus that of its reaped children.

    The pyspark daemon reaps the workers it forks, so a worker that exits
    during a measured call still counts through the daemon's cutime/cstime.
    """
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK_TCK


def reset_peak_rss(pids: list[int]) -> None:
    """Restart VmHWM of ``pids`` from their current resident set, so that a
    later :func:`peak_rss_mb` covers only what ran in between."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # exited since it was listed
            continue


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set since start or the last
    :func:`reset_peak_rss`) over ``pids``, in MiB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def _heap_pools(spark) -> list:
    jvm = spark.sparkContext._gateway.jvm
    heap = jvm.java.lang.management.MemoryType.HEAP
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return [p for p in pools if p.getType().equals(heap)]


def reset_peak_heap(spark) -> None:
    """Restart the peak-usage record of the driver JVM's heap pools."""
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def peak_heap_mb(spark) -> float:
    """Sum over the driver JVM's heap pools (eden, survivor, old) of the
    peak bytes in use since :func:`reset_peak_heap`, in MiB."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2**20


# ---------------------------------------------------------------------------
# Spark stage metrics
# ---------------------------------------------------------------------------

# StageData accessor -> (metric suffix, scale to the reported unit)
_STAGE_FIELDS = {
    "executorRunTime": ("run_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "shuffleWriteBytes": ("shuffle_bytes", 1),
    "jvmGcTime": ("gc_s", 1e-3),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputBytes": ("input_bytes", 1),
}


@dataclass
class Reading:
    """One measured call: wall time, stage-metric sums, python-worker CPU."""

    busy_s: float
    stages: dict[str, float]
    py_cpu_s: float
    n_stages: int


@dataclass
class StageMeter:
    """Times calls and diffs the stage metrics of the jobs they submit."""

    spark: object
    jvm_pid: int
    overhead_s: float = 0.0
    _calls: int = field(default=0, init=False)

    def measure(self, fn):
        """Run ``fn()``; return ``(result, Reading)``."""
        sc = self.spark.sparkContext
        self._calls += 1
        group = f"perfbench-{self._calls}"
        t_book = time.perf_counter()
        sc.setJobGroup(group, group)
        py0 = cpu_seconds(descendants(self.jvm_pid))
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_book
        try:
            result = fn()
        finally:
            t1 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
        stages, n = self._group_stage_metrics(group)
        py_cpu = cpu_seconds(descendants(self.jvm_pid)) - py0
        self.overhead_s += time.perf_counter() - t1
        return result, Reading(t1 - t0, stages, py_cpu, n)

    def _group_stage_metrics(self, group: str) -> tuple[dict[str, float], int]:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        stage_ids = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        gw = sc._gateway
        jvm = gw.jvm
        store = jsc.statusStore()
        totals = {suffix: 0.0 for suffix, _ in _STAGE_FIELDS.values()}
        for sid in sorted(stage_ids):
            attempts = store.stageData(
                sid, False, jvm.java.util.ArrayList(), False, gw.new_array(jvm.double, 0)
            )
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                for accessor, (suffix, scale) in _STAGE_FIELDS.items():
                    totals[suffix] += getattr(sd, accessor)() * scale
        return totals, len(stage_ids)
