#!/usr/bin/env python3
"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

In one Spark session, runs each timed workload and the traced run at toy
size and fails unless every metric BENCHMARK.json names is reported with
its unit, the traced run's result line stays under 2000 characters, and the
output checks catch a corrupted output: one flipped ``keep`` (filter_run),
one dropped near-dup pair and one dropped kept id (dedup_skew), and one
wrong distinct count (profile_output). Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import run  # noqa: E402
from perfbench.env import BenchSession  # noqa: E402

TOY_DOCS = 300


def _units(metrics: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in metrics.items()}


def check_metrics(bench, spec: dict, failures: list[str]) -> None:
    from perfbench.workloads import WORKLOADS

    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if sorted(WORKLOADS) != sorted(w["name"] for w in spec["workloads"]):
        failures.append(f"timed workloads {sorted(WORKLOADS)} != BENCHMARK.json's")
    for seed, (name, cls) in enumerate(WORKLOADS.items(), start=1):
        result, side = run.timed(bench, cls, seed, 0.0, TOY_DOCS)
        if not result["correct"]:
            failures.append(f"{name}: timed run not correct: {side['problems']}")
        if _units(result["metrics"]) != want:
            failures.append(f"{name}: metrics {_units(result['metrics'])} != {want}")
        if any(m["value"] <= 0 for m in result["metrics"].values()):
            failures.append(f"{name}: a metric reads 0: {result['metrics']}")

    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    result, side = run.traced(bench, 10, want, TOY_DOCS)
    if not result["correct"]:
        failures.append(f"traced run not correct: {side['problems']}")
    if _units(result["metrics"]) != want:
        failures.append(f"traced metrics {sorted(result['metrics'])} != {sorted(want)}")
    if len(json.dumps(result)) >= 2000:
        failures.append(f"traced result line is {len(json.dumps(result))} chars")


def check_corruption(spark, work: Path, failures: list[str]) -> None:
    """Each check passes on a real output and fails on a corrupted one."""
    from perfbench.workloads import DedupSkew, FilterRun, ProfileOutput

    def expect(wl, result, out, corrupt: bool, what: str) -> None:
        problems = wl.check(result, out)
        if bool(problems) != corrupt:
            state = "missed" if corrupt else "flagged a correct output"
            failures.append(f"{wl.name}: check {state} ({what}): {problems}")

    filter_run = FilterRun(spark, work, 20, TOY_DOCS)
    filter_run.prepare()
    out = filter_run.fresh_dir()
    result = filter_run.iterate(out)
    expect(filter_run, result, out, False, "as written")
    data = out / "data"
    part = next(p for p in sorted(data.rglob("*.parquet")) if pq.read_metadata(p).num_rows)
    table = pq.read_table(part)
    keep = table.column("keep").to_pylist()
    keep[0] = not keep[0]
    idx = table.schema.get_field_index("keep")
    # Spark verifies the checksum file it wrote beside each part file
    (part.parent / f".{part.name}.crc").unlink()
    pq.write_table(table.set_column(idx, "keep", pa.array(keep, pa.bool_())), part)
    expect(filter_run, result, out, True, "one keep flipped")
    pq.write_table(table, part)

    dedup = DedupSkew(spark, work, 21, TOY_DOCS)
    dedup.prepare()
    out = dedup.fresh_dir()
    pairs, comps = dedup.iterate(out)
    expect(dedup, (pairs, comps), out, False, "as written")
    if not pairs:
        failures.append("dedup_skew: toy input has no near-dup pairs to drop")
    expect(dedup, (pairs[:-1], comps), out, True, "one pair dropped")
    kept = pq.read_table(out / "keep")
    for p in (out / "keep").glob("*.parquet"):
        p.unlink()
    pq.write_table(kept.slice(1), out / "keep" / "part-0.parquet")
    expect(dedup, (pairs, comps), out, True, "one kept id dropped")

    prof_wl = ProfileOutput(spark, work, 22, TOY_DOCS, data)
    prof_wl.prepare()
    dict(prof_wl.layers())["artifacts"]()  # profiles the table, then writes
    if prof_wl.trace_problems():
        failures.append(f"profile_output: check flagged a correct profile: {prof_wl.trace_problems()}")
    column = next(iter(prof_wl.oracle))
    prof_wl._prof["distincts"][column]["distinct_count"] += 1
    if not prof_wl.trace_problems():
        failures.append("profile_output: check missed a wrong distinct count")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bench = BenchSession(ROOT / "perfbench" / ".out" / f"selftest-{os.getpid()}")
    failures: list[str] = []
    try:
        check_metrics(bench, spec, failures)
        check_corruption(bench.spark, bench.run_dir, failures)
    finally:
        bench.close()
    for f in failures:
        print(f"FAIL {f}")
    print("selftest: " + ("ok" if not failures else f"{len(failures)} failures"))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
