#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload filter_run --seed 1 --trace 0

One process, one Spark application at ``local[<all CPUs>]``, one client in
a closed loop: each iteration starts when the previous one has finished
and its output has been checked.

``--trace 0`` times one workload end to end and reports ``docs_per_cpu_s``
(input docs / median CPU seconds the driver JVM and its python workers
spend in an iteration), ``setup_s`` (session build plus the warm-up
iterations), ``out_bytes_per_doc`` (output file bytes per input doc) and
``peak_mem_mb`` (peak heap use of the driver JVM plus peak resident memory
of its python workers during the timed iterations). Throughput is counted
in CPU seconds because on a shared VM the wall time of one iteration
varied twofold between runs with neighbours' load, while its CPU time held
within a few percent; the wall-time rate goes to the side file.
``--trace 1`` instead times every layer call of filter_run, dedup_skew and
profile_output (the profile job over filter_run's output), diffs Spark's
stage metrics around each call, and reports the per-layer metrics named in
BENCHMARK.json.

The last stdout line is one JSON object (correct, attempted, failed,
metrics); failed / attempted is the error rate. Iteration samples, every
per-layer metric, problems and host details go to a side file under
``perfbench/.out/``. Run length defaults to BENCHMARK.json's
``run_seconds``, the value every comparison uses.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SPEC = ROOT / "BENCHMARK.json"

# Iterations before timing starts. The first pays JVM code generation and
# python-worker spawn (3-4x a warm iteration); later ones still get cheaper
# for over ten iterations while the JIT compiles, which a run cannot afford
# to wait for. Every run follows the same curve, so medians stay comparable.
WARMUP_ITERS = 4
MIN_ITERS = 3
TRACE_REPS = 3

LAYER_STATS = {
    "busy_s": "s",
    "cpu_s": "s",
    "shuffle_bytes": "bytes",
    "gc_s": "s",
    "spill_bytes": "bytes",
}
COUNT_UNITS = {"dedup.verify_yield": "ratio"}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _iterate_checked(wl, problems: list[str], cpu: list[float] | None = None,
                     out_bytes: list[int] | None = None, pids=None):
    """One closed-loop iteration: run, check, clean up. Returns its wall
    time, or None when it raised or its output failed the check. When
    ``cpu`` is given and the output is correct, appends the CPU seconds the
    processes ``pids()`` lists spent in the iteration to ``cpu`` and the
    bytes it wrote to ``out_bytes``."""
    from perfbench import meter
    from perfbench.workloads import remove

    out = wl.fresh_dir()
    try:
        c0 = meter.cpu_seconds(pids()) if cpu is not None else 0.0
        t0 = time.perf_counter()
        result = wl.iterate(out)
        elapsed = time.perf_counter() - t0
        cpu_s = meter.cpu_seconds(pids()) - c0 if cpu is not None else 0.0
        errs = wl.check(result, out)
        if not errs and cpu is not None:
            cpu.append(cpu_s)
            out_bytes.append(wl.out_bytes(out))
    except Exception as e:  # a failed iteration is counted, not fatal
        errs = [f"{type(e).__name__}: {e}"]
    finally:
        remove(out)
    problems.extend(f"{wl.name}: {e}" for e in errs)
    return None if errs else elapsed


def timed(bench, cls, seed: int, seconds: float, docs: int | None = None) -> tuple[dict, dict]:
    from perfbench import meter

    t0 = time.perf_counter()
    spark = bench.start()
    session_s = time.perf_counter() - t0
    wl = cls(spark, bench.run_dir, seed, docs)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0

    setup_problems: list[str] = []
    warmup = [_iterate_checked(wl, setup_problems) for _ in range(WARMUP_ITERS)]

    problems: list[str] = []
    samples: list[float] = []
    out_bytes: list[int] = []
    cpu: list[float] = []
    attempted = 0
    meter.reset_peak_rss(bench.worker_pids())
    meter.reset_peak_heap(spark)
    deadline = time.perf_counter() + seconds
    while attempted < MIN_ITERS or time.perf_counter() < deadline:
        attempted += 1
        elapsed = _iterate_checked(wl, problems, cpu, out_bytes, bench.process_pids)
        if elapsed is not None:
            samples.append(elapsed)
    # workers that exited during the loop are gone from this sum; Spark
    # reuses its python workers, so in practice none do
    peak_mem = meter.peak_heap_mb(spark) + meter.peak_rss_mb(bench.worker_pids())

    failed = attempted - len(samples)
    setup_s = session_s + sum(t for t in warmup if t is not None)
    result = {
        "correct": failed == 0 and not setup_problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "docs_per_cpu_s": _metric(wl.docs / statistics.median(cpu) if cpu else 0.0,
                                      "docs/cpu_s"),
            "setup_s": _metric(setup_s, "s"),
            "out_bytes_per_doc": _metric(
                statistics.median(out_bytes) / wl.docs if out_bytes else 0.0, "bytes/doc"
            ),
            "peak_mem_mb": _metric(peak_mem, "MB"),
        },
    }
    side = {
        "docs": wl.docs,
        "docs_per_s": wl.docs / statistics.median(samples) if samples else 0.0,
        "iteration_s": samples,
        "iteration_cpu_s": cpu,
        "error_rate": failed / attempted,
        "session_s": session_s,
        "warmup_s": warmup,
        "prepare_s": prepare_s,
        "problems": setup_problems + problems,
    }
    return result, side


def _trace_layers(wl, stage_meter, metrics: dict, detail: dict, problems: list[str]) -> tuple[int, int]:
    """Time each layer call of ``wl`` TRACE_REPS times and record the
    medians, which leave out the first, cold call. Returns (calls
    attempted, calls failed)."""
    attempted = failed = 0
    wl.prepare()
    for layer, fn in wl.layers():
        readings = []
        for _ in range(TRACE_REPS):
            attempted += 1
            try:
                readings.append(stage_meter.measure(fn)[1])
            except Exception as e:
                failed += 1
                problems.append(f"{layer}: {type(e).__name__}: {e}")
        if not readings:
            continue
        detail[layer] = [vars(r) for r in readings]
        metrics[f"{layer}.busy_s"] = _metric(statistics.median([r.busy_s for r in readings]), "s")
        for stat, unit in LAYER_STATS.items():
            if stat != "busy_s":
                value = statistics.median([r.stages[stat] for r in readings])
                metrics[f"{layer}.{stat}"] = _metric(value, unit)
        if layer == "langid":
            value = statistics.median([r.py_cpu_s for r in readings])
            metrics["langid.py_cpu_s"] = _metric(value, "s")
        if layer.startswith("profiler."):
            value = statistics.median([r.stages["input_bytes"] for r in readings])
            prev = metrics.get("profiler.input_bytes", {"value": 0.0})["value"]
            metrics["profiler.input_bytes"] = _metric(prev + value, "bytes")
    problems.extend(f"{wl.name}: {e}" for e in wl.trace_problems())
    for name, value in wl.counts().items():
        metrics[name] = _metric(value, COUNT_UNITS.get(name, "count"))
    wl.release()
    return attempted, failed


def traced(bench, seed: int, per_layer: dict[str, str], docs: int | None = None) -> tuple[dict, dict]:
    """Time every layer call of filter_run, dedup_skew and profile_output,
    the last over filter_run's traced output. Returns the result line,
    holding the metrics named in ``per_layer``, and a side record holding
    every metric measured."""
    from perfbench.meter import StageMeter
    from perfbench.workloads import DedupSkew, FilterRun, ProfileOutput

    spark = bench.start()
    stage_meter = StageMeter(spark, bench.jvm_pid)
    problems: list[str] = []
    metrics: dict[str, dict] = {}
    detail: dict[str, list] = {}
    filter_run = FilterRun(spark, bench.run_dir, seed, docs)
    attempted, failed = _trace_layers(filter_run, stage_meter, metrics, detail, problems)
    for wl in (
        DedupSkew(spark, bench.run_dir, seed, docs),
        ProfileOutput(spark, bench.run_dir, seed, filter_run.docs, filter_run.last_output()),
    ):
        n, f = _trace_layers(wl, stage_meter, metrics, detail, problems)
        attempted, failed = attempted + n, failed + f
    metrics["trace_overhead_s"] = _metric(stage_meter.overhead_s, "s")
    for name, unit in per_layer.items():
        if metrics.get(name, {}).get("unit") != unit:
            problems.append(f"per-layer metric {name} [{unit}] not measured")
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: metrics[name] for name in per_layer if name in metrics},
    }
    return result, {"metrics": metrics, "layers": detail, "problems": problems}


def main(argv: list[str] | None = None) -> int:
    spec = json.loads(SPEC.read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]],
                    help="the workload to time; the traced run covers all of them")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not args.trace and args.workload is None:
        ap.error("--workload is required with --trace 0")

    sys.path.insert(0, str(ROOT))
    try:  # the program under test, imported from the checkout
        import data_profiler_spark  # noqa: F401
        import jobs.profile_job  # noqa: F401
        import tests.reference_labeler  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.env import BenchSession
    from perfbench.workloads import WORKLOADS

    out_dir = ROOT / "perfbench" / ".out"
    bench = BenchSession(out_dir / f"run-{os.getpid()}")
    try:
        if args.trace:
            per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
            result, side = traced(bench, args.seed, per_layer)
            name = f"trace-seed{args.seed}.json"
        else:
            result, side = timed(bench, WORKLOADS[args.workload], args.seed, args.seconds)
            name = f"{args.workload}-seed{args.seed}.json"
    finally:
        bench.close()
    side.update(
        args=vars(args),
        cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
        driver_mem=os.environ["SPARK_GRAFT_DRIVER_MEM"],
        result=result,
    )
    (out_dir / name).write_text(json.dumps(side, indent=1, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
