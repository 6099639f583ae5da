"""Benchmark harness — prints ONE JSON line of headline scalars.

Default: headline queries + the quality-filter scoring pipeline at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. Every query gets a warm pass (codegen +
page-cache + python-worker spin-up excluded) then best-of-2 timed passes
(the host stalls in multi-second bursts; min-of-N is the repo's
estimator under multiplicative noise). Pure-JVM ``host_marker_sec``
reference workloads run in the same window, so round-over-round deltas
are attributable to the engine vs host noise. Cross-round comparisons
should use ``stable_subset_total_sec`` (frozen round-3 query set) and the
``queries_marker_normalized`` per-query values. ``cpu_frac`` is executor
CPU time over executor run time in the timed passes: a host window that
keeps tasks off the CPU lowers it, while extra engine work raises both
times together. ``codegen_compiles`` is
the JVM's Janino compile count over the timed passes: a warm plan that
stays in the codegen cache compiles nothing. The per-query maps
(seconds, ``cpu_s``, ``cpu_frac``) go to the side file
``bench_queries.json`` in the working directory, named by the line's
``queries_file``, so the line stays under 2000 characters.

``--scaling``: runs the scoring job at two parallelism levels
(``$SPARK_GRAFT_SCALE_CORES``, default ``local[2]`` vs ``local[8]`` —
see the SCALE_CORES comment for why not 8 vs 32 on this host) on
identical input — a FIXED number of interleaved A/B pairs
(``$SPARK_GRAFT_SCALE_PAIRS``, default 3), best per level — and reports
docs/sec at both + scaling efficiency = (T_N / T_4N) / 4 (north-rule
evidence; measured numbers in BASELINE.md). Every round also times the
markers in the same window; the JSON carries all rounds, the markers,
and ``vs_jvm_reference`` (engine scaling relative to raw JVM compute,
which cancels the shared host's multiplicative noise).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# synthetic pages volume for the scoring benchmark, ∝ scale factor
PAGES_N = int(os.environ.get("SPARK_GRAFT_PAGES_N", "40000"))
# scaling rounds use a larger volume: per-task work must dominate fixed
# task/Arrow overheads or the parallelism ratio measures overhead, not work
SCALE_N = int(os.environ.get("SPARK_GRAFT_SCALE_N", "200000"))
# N and 4N parallelism levels for the scaling bench. Default 2,8: this VM
# tops out at ~22k docs/s past ~8 threads (SMT + shared-host memory
# bandwidth — verified with a pure-JVM job), so 8→32 measures the host
# ceiling, not the engine; 2→8 sits below saturation and isolates how the
# ENGINE scales with parallelism, which is the transferable signal for a
# multi-executor cluster.
_SCALE_CORES = os.environ.get("SPARK_GRAFT_SCALE_CORES", "2,8")
SCALE_LO, SCALE_HI = (int(x) for x in _SCALE_CORES.split(","))
# Quiet-host reference values for the two markers (BASELINE.md audit
# trail: the best windows observed across ten sessions on this VM). The
# headline JSON emits totals normalized to these so round-over-round
# comparisons don't require adjudicating host-noise bursts by hand.
QUIET_MARKER_SEC = 0.75
QUIET_BW_MARKER_SEC = 0.255
# volume for the skew-stress twins (uniform vs skewed fixture timed on
# the same operator set); smaller than PAGES_N to bound suite runtime
SKEW_N = int(os.environ.get("SPARK_GRAFT_SKEW_N", "10000"))
# side file for the per-query maps of the default suite (see headline_payload)
QUERIES_PATH = "bench_queries.json"


def _minhash_prod(spark, sf_dir):
    """Production-config MinHash+LSH: xxhash64 numeric minhashes, pure
    banded candidates + exact-Jaccard verify. The queries() entry uses md5
    (oracle-expressible, so the DuckDB gate can replay the bands), so the
    bench times the production configuration."""
    from data_profiler_spark.operators import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.8, hash_fn="xxhash64")


def _simhash_prod(spark, sf_dir):
    """Production simhash near-dup pairs: packed 64-bit xxhash64
    signatures, 4 bands of 16 bits (2^16 key values per band). The
    oracle's simhash_signatures entry keeps the ANSI-expressible 16-bit md5
    config. Bench-only: the two weak-flagged round-2 paths must be
    bench-visible at their production operating points."""
    from data_profiler_spark.operators import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash_pairs(df, "doc_id", "text")


def _ngram_jaccard_prod(spark, sf_dir):
    """Production-config n-gram Jaccard: document-frequency cap LOW
    enough to bind at sf0.1 (max_shingle_df=100 vs per-shingle df up to
    5k on this fixture), so the hot-shingle exact-recovery joins — the
    web-scale guardrail path — are actually exercised and timed. The
    queries() entry passes max_shingle_df=None because the DuckDB oracle
    computes the uncapped all-pairs answer."""
    from data_profiler_spark.operators import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.8, max_shingle_df=100)


def _embedding_near_dup_t09(spark, sf_dir):
    """Embedding near-dup at the pruning-representative t=0.9 via the
    banded-LSH mode (the documented high-dim default for isotropic
    spectra — the grid path at the oracle's t=0.45 is timed separately
    as embedding_near_dup)."""
    from data_profiler_spark.operators import similarity

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_near_dup_pairs(df, threshold=0.9, method="lsh", dim=64)


BENCH_OVERRIDES = {
    "minhash_lsh_dedup": _minhash_prod,
    "simhash_pairs": _simhash_prod,
    "ngram_jaccard_capped": _ngram_jaccard_prod,
    "embedding_near_dup_t09": _embedding_near_dup_t09,
}

# The 26 entries BENCH_r03.json carried (BENCH_QUERIES at round 3 +
# quality_filter_score). Later rounds add entries (skew twins, new
# operators), which makes raw suite TOTALS incomparable round-over-round;
# the stable-subset total is the number to trend. Frozen — do not extend.
STABLE_SUBSET = [
    "profile_nchars",
    "distinct_counts",
    "top10_lang",
    "hist_nchars",
    "money_validation",
    "tpch_q1",
    "top10_customers_revenue",
    "events_hourly",
    "token_stats_by_lang",
    "dedup_exact",
    "ann_cosine_top10",
    "minhash_lsh_dedup",
    "ngram_jaccard_dup",
    "ngram_jaccard_capped",
    "simhash_signatures",
    "simhash_pairs",
    "embedding_near_dup",
    "embedding_near_dup_t09",
    "user_sessions",
    "line_dedup_docs",
    "token_budget_sample",
    "html_extract_roundtrip",
    "incremental_dedup",
    "duplicated_spans",
    "quality_score_by_source",
    "quality_filter_score",
]
# the registry queries the suite times: the frozen set's, in its order;
# a new query is appended here, never to STABLE_SUBSET
BENCH_QUERIES = [n for n in STABLE_SUBSET if n != "quality_filter_score"]


def best_of_2(run) -> float:
    """Best wall time of two passes of ``run``. The host stalls in
    multi-second bursts (identical plans re-run seconds apart swung
    0.59 s → 3.42 s, BASELINE.md), and min-of-N is the repo's estimator
    under that multiplicative noise."""
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        run()
        best = min(best, time.time() - t0)
    return best


def host_marker(spark, partitions: int) -> float:
    """Pure-JVM reference workload (sha2 fold over a generated range — no
    I/O, no Python), timed in the SAME session/window as the engine. Its
    wall time moves only with host noise, so the ratio engine/marker
    cancels multiplicative host noise (a throttled window slows both
    identically). Callers keep the partition counts the quiet references
    were measured with: the suite passes CPUS, ``--scaling`` and
    scripts/scale_step.py pass cores * 2."""
    from pyspark.sql import functions as F

    t0 = time.time()
    spark.range(0, 20_000_000, 1, partitions).select(
        F.max(F.sha2(F.col("id").cast("string"), 256)).alias("h")
    ).collect()
    return time.time() - t0


def host_marker_bw(spark, partitions: int) -> float:
    """Memory-BANDWIDTH-bound reference workload: sha2 over a large cached
    string column streams ~500 MB through the hash per pass, so its wall
    time moves with DRAM contention that the cache-resident compute marker
    cannot see (BASELINE.md sessions 6/7: local[8] engine rounds capped
    while the compute marker stayed flat). Together the two markers tell
    compute-throttled from bandwidth-throttled windows."""
    from pyspark.sql import functions as F

    big = (
        spark.range(0, 2_000_000, 1, partitions)
        .select(F.repeat(F.sha2(F.col("id").cast("string"), 256), 4).alias("s"))
        .cache()
    )
    big.count()  # materialize outside the timed window
    best = best_of_2(lambda: big.select(F.max(F.sha2(F.col("s"), 256)).alias("h")).collect())
    big.unpersist()
    return best


def _alloc_marker() -> float:
    """First-touch page-fault reference: time to touch every page of a
    FRESH 256 MB anonymous mapping (driver-side numpy; no Spark). On an
    overcommitted hypervisor the host supplies new pages slowly under
    outside load — measured in round 4: first-touch over 50 MB took 103 s
    against 0.1 s re-touch, while the compute AND bandwidth markers read
    flat and /proc PSI was zero. This marker is the only one of the three
    that sees that failure mode, which is exactly the one that throttles
    python-worker Arrow/numpy batch allocation (see session.py's
    MALLOC_TRIM/MMAP pinning — the engine-side mitigation). Quiet
    reference ~0.05-0.1 s."""
    import numpy as np

    t0 = time.time()
    x = np.zeros(1 << 28, dtype=np.uint8)  # 256 MB, pages faulted on touch
    x[::4096] = 1
    del x
    return time.time() - t0


@contextmanager
def stage_metrics(spark):
    """Per-stage executor metrics of exactly the jobs run in the ``with``
    body. On exit the yielded list gets one dict per stage: ``run_s`` and
    ``cpu_s`` (executor run and CPU time over its tasks) and
    ``shuffle_write_bytes``. The body runs under its own job group; the
    listener bus is drained and that group's stages are read from Spark's
    status store, so the UI can stay off. ``perfbench/meter.py`` keeps its
    own copy: the benchmark measures from outside this file."""
    sc = spark.sparkContext
    group = f"bench-{uuid.uuid4().hex}"
    stages: list[dict] = []
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield stages
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, gw = sc.statusTracker(), sc._gateway
    ids = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    for sid in sorted(ids):
        found = jsc.statusStore().stageData(
            sid, False, gw.jvm.java.util.ArrayList(), False, gw.new_array(gw.jvm.double, 0)
        )
        attempts = [found.apply(i) for i in range(found.size())]
        stages.append({
            "run_s": sum(a.executorRunTime() for a in attempts) / 1e3,
            "cpu_s": sum(a.executorCpuTime() for a in attempts) / 1e9,
            "shuffle_write_bytes": sum(a.shuffleWriteBytes() for a in attempts),
        })


def time_scoring(spark, n_docs: int, partitions: int, timer=best_of_2) -> float:
    """Steady-state scoring time: ``timer`` over score(cached pages) → noop
    sink. Excluded from the timed window: input generation (cache+count),
    whole-stage codegen compile, and per-worker model training (full-shape
    warm-up pass — a small df with the SAME partition count warms every
    python worker; limit(N) would warm a single task).

    The sink is ``noop``, not parquet: this box has ONE local disk, and a
    parquet sink caps both parallelism levels at the same ~30 MB/s —
    measuring the disk, not the engine. On a real cluster the sink is
    distributed storage that scales with executors, so engine throughput
    is the honest scaling signal available in this sandbox (the parquet
    path is exercised and timed by the pipeline tests and perfbench)."""
    from data_profiler_spark.pipeline import score_pages
    from data_profiler_spark.synth import pages_df

    pages = pages_df(spark, n_docs, partitions=partitions).cache()
    pages.count()
    warm = pages_df(spark, partitions * 10, partitions=partitions)
    score_pages(warm).write.mode("overwrite").format("noop").save()
    sec = timer(lambda: score_pages(pages).write.mode("overwrite").format("noop").save())
    pages.unpersist()
    return sec


def _run_score_round(cores: int, n_docs: int) -> tuple[float, float, float]:
    """(scoring sec, compute marker sec, bandwidth marker sec) for one
    ``--scaling`` round at ``local[cores]``: a child process
    (``--score-subprocess``) times the markers and scoring in its own
    session over ``cores * 2`` partitions. A session stopped and rebuilt
    in one process left the JVM sending accumulator updates to the stopped
    context, one failed socket write per UDF task in the timed window."""
    out = subprocess.run(
        [sys.executable, __file__, "--score-subprocess", str(cores), str(n_docs)],
        stdout=subprocess.PIPE,
        text=True,
        check=True,
    ).stdout
    r = json.loads(out.strip().splitlines()[-1])
    return r["elapsed"], r["marker"], r["bw_marker"]


def main() -> None:
    if "--score-subprocess" in sys.argv:  # one _run_score_round child
        from data_profiler_spark.session import get_spark

        i = sys.argv.index("--score-subprocess")
        cores, n = int(sys.argv[i + 1]), int(sys.argv[i + 2])
        spark = get_spark(app_name=f"bench_score_{cores}", cores=cores)
        host_marker(spark, cores * 2)  # codegen warm-up for the marker job
        marker = host_marker(spark, cores * 2)
        bw_marker = host_marker_bw(spark, cores * 2)
        elapsed = time_scoring(spark, n, cores * 2)
        spark.stop()
        print(json.dumps({"elapsed": elapsed, "marker": marker, "bw_marker": bw_marker}))
        return

    if "--scaling" in sys.argv:
        # Interleaved A/B/A/B rounds, one child process each: the host is
        # a shared VM with time-varying capacity, so back-to-back same-level
        # rounds would confound parallelism with neighbor noise. Min per
        # level is the steady-state number.
        # The shared host's deliverable CPU fluctuates over tens of minutes
        # (sometimes throttled to ~2 effective cores, flattening every
        # parallelism level to the same throughput). Under such
        # multiplicative noise, min-per-level across SEVERAL time windows
        # estimates the unthrottled hardware at each level. A FIXED number
        # of interleaved pairs (no early stop on reaching the target —
        # optional stopping would bias the reported efficiency upward) and
        # the efficiency from all rounds is the honest estimator.
        # cores -> one (scoring sec, compute marker, bw marker) per round
        raw: dict[int, list[tuple[float, float, float]]] = {SCALE_LO: [], SCALE_HI: []}
        alloc_markers: list[float] = []
        n_pairs = int(os.environ.get("SPARK_GRAFT_SCALE_PAIRS", "3"))
        for _pair in range(n_pairs):
            for cores in (SCALE_LO, SCALE_HI):
                elapsed, marker, bw_marker = _run_score_round(cores, SCALE_N)
                raw[cores].append((elapsed, marker, bw_marker))
                alloc = _alloc_marker()
                alloc_markers.append(round(alloc, 2))
                print(
                    f"# local[{cores}]: {elapsed:.2f}s (marker {marker:.2f}s, "
                    f"bw {bw_marker:.2f}s, alloc {alloc:.2f}s)",
                    file=sys.stderr,
                    flush=True,
                )
        t_lo, t_hi = (min(r[0] for r in raw[c]) for c in (SCALE_LO, SCALE_HI))
        eff = (t_lo / t_hi) / (SCALE_HI / SCALE_LO)
        # Marker-relative scaling: R = engine_time / same-round JVM-reference
        # time — to first order both slow down together under host
        # throttling, so R is window-normalized. MEDIAN per level (min
        # would pair one round's throttled marker with another's recovered
        # score run). R_lo / R_hi ≈ 1 means the engine scales like the
        # pure-JVM reference workload between the two levels; >= 1 means
        # no worse. The marker is short, so residual within-round noise
        # remains — read alongside `rounds`/`jvm_markers`.
        med_ratio = {
            c: sorted(e / m for e, m, _ in raw[c])[len(raw[c]) // 2] for c in raw
        }
        vs_ref = med_ratio[SCALE_LO] / med_ratio[SCALE_HI]

        def per_round(i: int) -> dict[str, list[float]]:
            return {str(c): [round(r[i], 2) for r in raw[c]] for c in raw}

        print(
            json.dumps(
                {
                    "metric": "quality_filter_scaling",
                    "value": round(eff, 4),
                    "unit": "efficiency",
                    "sf": SCALE_N,
                    "queries": {
                        f"docs_per_sec_local{SCALE_LO}": round(SCALE_N / t_lo, 1),
                        f"docs_per_sec_local{SCALE_HI}": round(SCALE_N / t_hi, 1),
                        f"t_local{SCALE_LO}_sec": round(t_lo, 2),
                        f"t_local{SCALE_HI}_sec": round(t_hi, 2),
                    },
                    # every round's wall time, in order — min-per-level is
                    # the estimator, but a reader can see which windows
                    # were host-throttled (all levels flatten together)
                    "rounds": per_round(0),
                    "jvm_markers": per_round(1),
                    # bandwidth-bound twin (sessions 6/7: local[8] rounds
                    # capped while the cache-resident marker stayed flat)
                    "jvm_bw_markers": per_round(2),
                    # first-touch page-fault reference per round (quiet
                    # ~0.05-0.1 s; round-4 discovery: hypervisor page
                    # provisioning can stall 100x while BOTH jvm markers
                    # read flat — this is the marker that sees it)
                    "alloc_markers": alloc_markers,
                    # engine scaling relative to the same-window pure-JVM
                    # reference (host-noise-cancelled; >= 1.0 means the
                    # engine scales no worse than raw JVM compute)
                    "vs_jvm_reference": round(vs_ref, 4),
                }
            )
        )
        return

    import __spark_entry__ as entry_mod
    from data_profiler_spark.session import codegen_compiles, get_spark

    spark = get_spark(app_name="bench", cores=CPUS)
    timed_compiles = 0
    # name -> best-of-2 "sec", executor "cpu_s"/"run_s" per timed pass (mean of 2)
    measured: dict[str, dict[str, float]] = {}

    def timed(name: str, run) -> float:
        """Best of two passes of ``run``, recorded under ``name`` with the
        per-pass executor CPU and run time of its stages. Their Janino
        compiles add to ``timed_compiles``: every plan already ran once
        warm, so a nonzero count means warm plans were recompiled
        (see session.ENGINE_CONF)."""
        nonlocal timed_compiles
        c0 = codegen_compiles(spark)
        with stage_metrics(spark) as stages:
            sec = best_of_2(run)
        timed_compiles += codegen_compiles(spark) - c0
        cpu_s = sum(s["cpu_s"] for s in stages) / 2
        run_s = sum(s["run_s"] for s in stages) / 2
        measured[name] = {"sec": round(sec, 3), "cpu_s": cpu_s, "run_s": run_s}
        print(f"# {name}: {sec:.3f}s, cpu_s {cpu_s:.3f}", file=sys.stderr, flush=True)
        return sec

    host_marker(spark, CPUS)  # codegen warm-up for the marker itself
    marker_sec = round(host_marker(spark, CPUS), 3)
    marker_bw_sec = round(host_marker_bw(spark, CPUS), 3)
    alloc_marker_sec = round(_alloc_marker(), 3)
    qs = entry_mod.queries()
    qs.update(BENCH_OVERRIDES)
    for name in BENCH_QUERIES:
        # warm pass first: codegen compile + OS page cache + python worker
        # spin-up excluded from the timed window. Then best-of-2 (round 5):
        # a single timed pass fabricated per-query regressions out of host
        # stalls. (r3/r4 totals were single-pass: suite totals are
        # ≤-biased vs them; compare rounds via stable_subset +
        # marker-normalized fields.)
        qs[name](spark, SF_DIR).collect()
        timed(name, lambda: qs[name](spark, SF_DIR).collect())

    # quality-filter scoring throughput (same helper as --scaling); it
    # releases its page cache BEFORE the skew twins: their published
    # artifact is a ratio, and gigabytes of unrelated cached blocks
    # competing for storage memory is avoidable noise on it
    time_scoring(spark, PAGES_N, CPUS * 2, lambda run: timed("quality_filter_score", run))

    # ---- skew-stress entries (VERDICT r3 #1): the same operators timed
    # on the uniform fixture vs synth.skewed_pages_df (hot host ~35 %,
    # cross-doc boilerplate lines, a ~10 % exact-duplicate family). The
    # *_skew/*_uniform RATIO is the measured evidence that the skew
    # defenses (map-side-combinable line counts, max_band_df star routing,
    # url-hash salting) hold — not just the design assertion. Same volume
    # both sides (SKEW_N, smaller than PAGES_N to keep the suite fast);
    # suite convention: warm pass, then best of 2.
    from pyspark.sql import functions as F

    from data_profiler_spark.operators.corpus import line_dedup
    from data_profiler_spark.operators.dedup import minhash_lsh_pairs
    from data_profiler_spark.pipeline import NULL_MONTH, score_pages, url_salt
    from data_profiler_spark.synth import pages_df, skewed_pages_df

    skew = skewed_pages_df(spark, SKEW_N, partitions=CPUS * 2).cache()
    skew.count()
    # fresh generation, not pages.limit(SKEW_N): limit would collapse the
    # plan to ~one partition and the twin would time the collapse, not
    # the operator
    uniform = pages_df(spark, SKEW_N, partitions=CPUS * 2).cache()
    uniform.count()

    def _force_line_dedup(df):
        # aggregate referencing clean_text so column pruning can't skip
        # the per-doc regroup; result is one driver row
        return (
            line_dedup(df.select("doc_id", "text"))
            .agg(F.sum(F.length("clean_text")), F.sum("lines_dropped"))
            .collect()
        )

    def _force_minhash(df):
        # production config: xxhash64 minhashes, banded candidates, the
        # max_band_df=256 guardrail live (the skew fixture's duplicate
        # family floods every band bucket without it)
        return (
            minhash_lsh_pairs(
                df, "doc_id", "text", hash_fn="xxhash64", threshold=0.8, max_band_df=256
            )
            .agg(F.count(F.lit(1)), F.sum("jaccard"))
            .collect()
        )

    def _salted_write(df):
        month = F.coalesce(F.date_format("warc_ts", "yyyy-MM"), F.lit(NULL_MONTH))
        out = (
            score_pages(df)
            .withColumn("month", month)
            .withColumn("salt", url_salt(256))
        )
        out.repartition(F.col("month"), F.col("salt")).write.mode("overwrite").format(
            "noop"
        ).save()

    for name, fn, df in [
        ("line_dedup_uniform_pages", _force_line_dedup, uniform),
        ("line_dedup_skew_pages", _force_line_dedup, skew),
        ("minhash_uniform_pages", _force_minhash, uniform),
        ("minhash_skew_pages", _force_minhash, skew),
        ("salted_write_uniform_pages", _salted_write, uniform),
        ("salted_write_skew_pages", _salted_write, skew),
    ]:
        fn(df)  # warm: codegen + python workers + page cache
        # min-of-2 timed passes: the skew/uniform RATIO is the artifact,
        # and a single host-noise burst on one twin fabricates a skew
        # "regression" (measured: a 2.1× salted-write ratio in one
        # contended window that a quiet re-run showed was ~1.0)
        timed(name, lambda: fn(df))
    skew.unpersist()
    uniform.unpersist()

    headline, side = headline_payload(
        measured, marker_sec, marker_bw_sec, alloc_marker_sec, timed_compiles
    )
    with open(QUERIES_PATH, "w") as f:
        json.dump(side, f, indent=1)
    print(json.dumps(headline))

def _cpu_frac(measured) -> float | None:
    """Executor CPU time / executor run time over ``measured`` records:
    DS2's useful-time share. A stalled host window stretches run time but
    not CPU time, so the share drops; an engine regression moves both."""
    measured = list(measured)
    run_s = sum(m["run_s"] for m in measured)
    return round(sum(m["cpu_s"] for m in measured) / run_s, 3) if run_s > 0 else None


def headline_payload(
    measured: dict[str, dict[str, float]],
    marker_sec: float,
    marker_bw_sec: float,
    alloc_marker_sec: float,
    codegen_compiles: int,
) -> tuple[dict, dict]:
    """(headline, side) for the default suite from ``measured`` (name ->
    ``sec``, ``cpu_s``, ``run_s``; see ``main``'s ``timed``). The headline
    holds only scalars plus the three-entry skew ratios, so the final
    stdout line stays short enough for a 2000-char capture to parse; the
    per-query maps (``queries``, ``queries_marker_normalized``, ``cpu_s``
    and ``cpu_frac``) go to the side file at ``QUERIES_PATH``."""
    timings = {n: m["sec"] for n, m in measured.items()}
    total = round(sum(timings.values()), 3)
    score_sec = timings["quality_filter_score"]
    # Marker-normalized totals: scale the wall time to what a QUIET host
    # would have measured (quiet references from BASELINE.md's ten-session
    # audit: compute marker 0.75 s, bandwidth marker 0.255 s). This makes
    # round-over-round BENCH comparisons self-contained — a 2.5×-throttled
    # driver window self-normalizes instead of reading as a regression.
    # The true value lies BETWEEN the two normalizations (suites mix
    # compute-bound and bandwidth-bound stages); a large gap between them
    # flags a bandwidth-throttled window (bw marker degrades much more).
    norm = round(total * QUIET_MARKER_SEC / marker_sec, 3)
    norm_bw = round(total * QUIET_BW_MARKER_SEC / marker_bw_sec, 3)
    # Round-over-round comparability (VERDICT r4 #7): the suite grows, so
    # also publish the frozen round-3 subset total, plus PER-QUERY
    # marker-normalized values so a single query can be trended across
    # rounds without hand-dividing by each round's marker.
    stable_total = round(sum(timings[n] for n in STABLE_SUBSET if n in timings), 3)
    q_norm = {
        n: round(t * QUIET_MARKER_SEC / marker_sec, 3) for n, t in timings.items()
    }
    # skew resilience: >1 means the skewed fixture costs more than the
    # uniform one on the same operator at the same volume (same window,
    # so host noise largely cancels within each pair)
    skew_ratios = {
        op: round(timings[f"{op}_skew_pages"] / timings[f"{op}_uniform_pages"], 3)
        for op in ("line_dedup", "minhash", "salted_write")
    }
    headline = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "sf": SF_DIR,
        "queries_file": os.path.abspath(QUERIES_PATH),
        "stable_subset_total_sec": stable_total,
        "stable_subset_marker_normalized_sec": round(
            stable_total * QUIET_MARKER_SEC / marker_sec, 3
        ),
        "stable_subset_n": len(STABLE_SUBSET),
        "docs_per_sec_score": round(PAGES_N / score_sec, 1),
        "pages_n": PAGES_N,
        "host_marker_sec": marker_sec,
        "host_marker_bw_sec": marker_bw_sec,
        "host_alloc_marker_sec": alloc_marker_sec,
        "marker_normalized_sec": norm,
        "bw_marker_normalized_sec": norm_bw,
        "quiet_marker_ref_sec": QUIET_MARKER_SEC,
        "quiet_bw_marker_ref_sec": QUIET_BW_MARKER_SEC,
        "docs_per_sec_score_marker_normalized": round(
            PAGES_N / (score_sec * QUIET_MARKER_SEC / marker_sec), 1
        ),
        "skew_n": SKEW_N,
        "skew_vs_uniform_ratio": skew_ratios,
        # Janino compiles in the timed passes (see session.ENGINE_CONF)
        "codegen_compiles": codegen_compiles,
        "cpu_frac": _cpu_frac(measured.values()),
    }
    return headline, {
        "queries": timings,
        "queries_marker_normalized": q_norm,
        "cpu_s": {n: round(m["cpu_s"], 3) for n, m in measured.items()},
        "cpu_frac": {n: _cpu_frac([m]) for n, m in measured.items()},
    }


if __name__ == "__main__":
    main()
