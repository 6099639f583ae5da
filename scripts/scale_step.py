"""Scale-step evidence for the dedup family (round-4 VERDICT #4).

All headline dedup numbers are single-scale; the 100x-design claims
("bucketed, not all-pairs; candidate mass linear in volume") extrapolate
from one point. This script measures the same operators at N and 10N
pages (deterministic ``synth.skewed_pages_df`` — the adversarial fixture
with the dup family / boilerplate / hot host, so the dedup operators have
real duplicate structure to chew on and the guardrails stay live; content
distribution is scale-invariant in n) and reports
time-vs-volume ratios plus per-operator shuffle volume, the quantity that
actually decides whether a plan survives a 100x scale-up.

Operators (the VERDICT-named family):

* ``minhash`` — ``minhash_lsh_pairs`` production config (xxhash64,
  ``max_band_df=256`` guardrail live), forced through an aggregate.
* ``line_dedup`` — cross-corpus line dedup, aggregate over clean_text.
* ``components`` — ``near_dup_components`` (star engine) over the minhash
  pair graph at that scale (pairs pre-materialized so the components loop
  is isolated from pair generation).
* ``corpus_clean`` — ``corpus.clean_corpus``, the 5-stage chain
  jobs/corpus_clean_job.py runs: URL blocklist -> decontamination
  screen -> normalize -> repeated-span kill -> cross-corpus line dedup.

Shuffle volume comes from ``bench.stage_metrics`` (job group + Spark's
status store, UI off): for one run of each op we record the max and
total shuffle-write bytes of its stages. Expected shape at 10x: wall time
~linear (10-15x given the banded joins' n * bands candidate streams),
shuffle bytes ~linear; a superlinear shuffle means a quadratic candidate
path escaped a cap.

Window quality: compute/bw markers before and after (see BASELINE.md
conventions — on this host, absolute times are only meaningful next to
same-window markers; the RATIO between scales within one window is the
robust artifact since both scales share the window).

Usage: python scripts/scale_step.py [--base-n 20000] [--factor 10] [--cpus 32]
(from any working directory). Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

import bench


def _markers(spark, cpus: int) -> dict:
    # bench.py's marker workloads, not a local copy: the quiet references
    # (bench.QUIET_MARKER_SEC etc.) are calibrated against THOSE exact
    # workloads, and a drifting copy would silently break marker-relative
    # comparisons across the repo's measurement artifacts.
    return {
        "compute": round(bench.host_marker(spark, cpus * 2), 3),
        "bw": round(bench.host_marker_bw(spark, cpus * 2), 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base-n", type=int, default=20_000)
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from data_profiler_spark.operators import corpus, dedup
    from data_profiler_spark.session import get_spark
    from data_profiler_spark.synth import pages_df, skewed_pages_df

    spark = get_spark(app_name="scale_step", cores=args.cpus)
    cpus = args.cpus

    def op_minhash(df):
        return (
            dedup.minhash_lsh_pairs(
                df, "doc_id", "text", hash_fn="xxhash64", threshold=0.8, max_band_df=256
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("jaccard"))
            .collect()[0]["n"]
        )

    def op_line_dedup(df):
        return (
            corpus.line_dedup(df.select("doc_id", "text"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("clean_text")), F.sum("lines_dropped"))
            .collect()[0]["n"]
        )

    def op_components(df):
        pairs = dedup.minhash_lsh_pairs(
            df, "doc_id", "text", hash_fn="xxhash64", threshold=0.8, max_band_df=256
        ).localCheckpoint()  # isolate the components loop from pair generation
        return dedup.near_dup_components(pairs).count()

    def op_corpus_clean(df, eval_set):
        out, cached = corpus.clean_corpus(
            df.select("doc_id", "url", "text"),
            blocked_domains=["blocked.example.com"],
            eval_docs=eval_set,
            ngram=13,
            normalize=True,
            span_dup_threshold=0.8,
        )
        n = out.agg(
            F.count(F.lit(1)).alias("n"), F.sum("lines_dropped")
        ).collect()[0]["n"]
        for c in cached:  # else the timed passes would read this pass's cache
            c.unpersist()
        return n

    result: dict = {"base_n": args.base_n, "factor": args.factor, "scales": {}}
    eval_set = pages_df(spark, 200, seed=123, partitions=4).select("text").cache()
    eval_set.count()

    for n in (args.base_n, args.base_n * args.factor):
        # skewed_pages_df, not pages_df: the uniform generator has no
        # near-duplicate structure (0 LSH pairs — minhash/components would
        # time empty joins). The adversarial fixture carries the dup
        # family (~10%), boilerplate lines, and the hot host — the shapes
        # whose cost is the thing being scaled.
        df = skewed_pages_df(spark, n, partitions=cpus * 2).cache()
        df.count()
        level: dict = {"markers_before": _markers(spark, cpus), "ops": {}}
        ops = [
            ("minhash", lambda: op_minhash(df)),
            ("line_dedup", lambda: op_line_dedup(df)),
            ("components", lambda: op_components(df)),
            ("corpus_clean", lambda: op_corpus_clean(df, eval_set)),
        ]
        for name, fn in ops:
            fn()  # warm: codegen + caches
            # Shuffle accounting brackets exactly ONE run — "sec" is a
            # single run's wall time too, so the published bytes and
            # seconds describe the same unit of work (stages spanning the
            # whole best-of-2 loop would double the absolutes).
            with bench.stage_metrics(spark) as stages:
                t0 = time.time()
                rows = fn()
                best = time.time() - t0
            t0 = time.time()  # best-of-2 (bursty host; BASELINE.md)
            fn()
            best = min(best, time.time() - t0)
            written = [s["shuffle_write_bytes"] for s in stages]
            level["ops"][name] = {
                "sec": round(best, 3),
                "rows": rows,
                "peak_stage_shuffle_write_bytes": max(written, default=0),
                "total_shuffle_write_bytes": sum(written),
            }
            print(f"# n={n} {name}: {level['ops'][name]}", file=sys.stderr, flush=True)
        # Candidate-mass decomposition: if the minhash shuffle ratio is
        # superlinear, this says whether it is LSH candidate mass (bucket
        # occupancy growing with n while still under the cap — quadratic
        # until buckets saturate at max_band_df, linear after) or a
        # quadratic path that escaped the cap (a bug).
        rep = (
            dedup.band_df_report(df, "doc_id", "text", hash_fn="xxhash64", max_band_df=256)
            .collect()[0]
            .asDict()
        )
        level["band_report"] = {k: str(v) for k, v in rep.items()}
        print(f"# n={n} band_report: {level['band_report']}", file=sys.stderr, flush=True)
        level["markers_after"] = _markers(spark, cpus)
        result["scales"][str(n)] = level
        df.unpersist()

    lo = result["scales"][str(args.base_n)]["ops"]
    hi = result["scales"][str(args.base_n * args.factor)]["ops"]
    result["time_ratio"] = {
        k: round(hi[k]["sec"] / lo[k]["sec"], 2) for k in lo if lo[k]["sec"] > 0
    }
    result["shuffle_ratio"] = {
        k: round(
            hi[k]["total_shuffle_write_bytes"]
            / max(1, lo[k]["total_shuffle_write_bytes"]),
            2,
        )
        for k in lo
    }
    lo_rep = result["scales"][str(args.base_n)]["band_report"]
    hi_rep = result["scales"][str(args.base_n * args.factor)]["band_report"]
    result["candidate_ratio"] = {
        k: round(int(hi_rep[k]) / max(1, int(lo_rep[k])), 2)
        for k in ("uncapped_candidates", "capped_candidates")
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
