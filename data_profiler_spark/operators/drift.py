"""Distribution-drift measurement between two snapshots of a metric.

A resumable 100 TB pipeline re-runs monthly; the lineage story (north rule
"per-partition lineage + metrics") needs more than each run's own
histogram — it needs to QUANTIFY how this run's score/length/perplexity
distribution moved against the last accepted run, so a crawl whose quality
profile silently shifts trips an alert before it trains anything. The
standard monitoring statistic is PSI (population stability index:
``sum((p_a - p_b) * ln(p_a / p_b))`` over fixed bins; < 0.1 stable,
0.1-0.25 moderate, > 0.25 action), plus total-variation distance as the
bounded companion.

Engine shape: per side one filter + one ≤ ``bins``-key aggregate (map-side
combinable — no skew exposure at any size), then a bins-sized outer join
and pure arithmetic. The only driver action is the shared min/max bounds
resolution (one union agg), skipped entirely when a
:func:`drift_summary` caller pins ``lo``/``hi`` (the deployment shape:
bounds fixed once per metric so runs are comparable across months).

Binning matches ``profiler.histogram`` (reference A6 semantics): width
``(hi-lo)/bins``, max folded into the last bin; values outside
caller-supplied bounds clamp into the edge bins so proportions always sum
to 1 and PSI stays defined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Proportion floor for empty bins — the standard PSI smoothing constant;
# shared verbatim with the DuckDB oracle (__spark_entry__).
PSI_EPS = 1e-6
# Decimal places of every rounded output, as in the oracle SQL.
ROUND_DIGITS = 6


def _resolve_bounds(
    df_a: DataFrame, df_b: DataFrame, col: str, lo: float | None, hi: float | None
) -> tuple[float, float]:
    if lo is None or hi is None:
        both = df_a.select(F.col(col).alias("_x")).unionByName(
            df_b.select(F.col(col).alias("_x"))
        )
        r = both.agg(F.min("_x").alias("mn"), F.max("_x").alias("mx")).collect()[0]
        # empty / all-null snapshots have no bounds; [0, 1] keeps every
        # downstream expression defined (all counts are zero anyway)
        lo = (float(r["mn"]) if r["mn"] is not None else 0.0) if lo is None else lo
        hi = (float(r["mx"]) if r["mx"] is not None else 1.0) if hi is None else hi
    return lo, hi


def _bin_counts(df: DataFrame, col: str, lo: float, width: float, bins: int) -> DataFrame:
    idx = F.greatest(
        F.least(F.floor((F.col(col) - F.lit(lo)) / F.lit(width)), F.lit(bins - 1)),
        F.lit(0),
    ).cast("int")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def distribution_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    bins: int = 10,
) -> DataFrame:
    """Per-bin drift table between ``df_a`` (baseline) and ``df_b``
    (current) on numeric ``col``: one row per bin —
    ``(bin, bin_lo, bin_hi, cnt_a, cnt_b, p_a, p_b, psi_contrib)``,
    every bin present even when one side is empty there (PSI's empty-bin
    case is exactly the signal: content appeared/vanished). Proportions
    are clamped to :data:`PSI_EPS` inside the log AND the difference —
    the standard smoothing, kept identical in the oracle so the numbers
    hash-match. Sum ``psi_contrib`` for the index (:func:`drift_summary`
    does, plus TVD). The bounds are the pooled min/max of both sides."""
    lo, hi, width, j = _joined_bins(df_a, df_b, col, bins, None, None)
    tot = j.select(
        "*",
        F.sum("cnt_a").over(_all()).alias("_na"),
        F.sum("cnt_b").over(_all()).alias("_nb"),
    )
    # an EMPTY snapshot (n=0) yields p=0 for every bin rather than an
    # ANSI divide-by-zero; the eps clamp then gives the maximal defined
    # PSI signal — "all content appeared/vanished"
    raw_pa = F.when(F.col("_na") > 0, F.col("cnt_a") / F.col("_na")).otherwise(F.lit(0.0))
    raw_pb = F.when(F.col("_nb") > 0, F.col("cnt_b") / F.col("_nb")).otherwise(F.lit(0.0))
    pa = F.greatest(raw_pa, F.lit(PSI_EPS))
    pb = F.greatest(raw_pb, F.lit(PSI_EPS))
    return tot.select(
        "bin",
        F.round(F.lit(lo) + F.col("bin") * F.lit(width), ROUND_DIGITS).alias("bin_lo"),
        F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(width), ROUND_DIGITS).alias("bin_hi"),
        "cnt_a",
        "cnt_b",
        F.round(raw_pa, ROUND_DIGITS).alias("p_a"),
        F.round(raw_pb, ROUND_DIGITS).alias("p_b"),
        F.round((pa - pb) * F.log(pa / pb), ROUND_DIGITS).alias("psi_contrib"),
    ).orderBy("bin")


def _joined_bins(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    bins: int,
    lo: float | None,
    hi: float | None,
) -> tuple[float, float, float, DataFrame]:
    """Shared construction for both drift entry points: resolved bounds,
    bin width, and the dense per-bin (bin, cnt_a, cnt_b) frame — one
    place to fix binning for both the table and the summary."""
    lo, hi = _resolve_bounds(df_a, df_b, col, lo, hi)
    width = (hi - lo) / bins if hi > lo else 1.0
    grid = df_a.sparkSession.range(bins).select(F.col("id").cast("int").alias("bin"))
    ca = _bin_counts(df_a, col, lo, width, bins).withColumnRenamed("cnt", "cnt_a")
    cb = _bin_counts(df_b, col, lo, width, bins).withColumnRenamed("cnt", "cnt_b")
    j = (
        grid.join(ca, "bin", "left")
        .join(cb, "bin", "left")
        .select(
            "bin",
            F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
            F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
        )
    )
    return lo, hi, width, j


def _all():
    from pyspark.sql import Window

    # bins-sized frame (≤ a few thousand rows) — a single-partition window
    # here is a driver-side-tiny reduction, not a data-sized sort
    return Window.partitionBy(F.lit(1))


def drift_summary(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    round_to: int = ROUND_DIGITS,
) -> DataFrame:
    """One-row drift verdict: ``(n_a, n_b, psi, tvd)`` — PSI summed over
    unrounded per-bin contributions (rounded once here) and
    total-variation distance ``0.5 * sum(|p_a - p_b|)``."""
    _, _, _, j = _joined_bins(df_a, df_b, col, bins, lo, hi)
    # array_sort pins the FP summation order to bin order — collect_list
    # after a join is otherwise nondeterministically ordered and the
    # rounded PSI could flap between runs
    tot = j.agg(
        F.sum("cnt_a").alias("_na"),
        F.sum("cnt_b").alias("_nb"),
        F.array_sort(F.collect_list(F.struct("bin", "cnt_a", "cnt_b"))).alias("_bins"),
    )

    def raw_p(cnt, n):  # empty snapshot → p = 0, never a divide-by-zero
        return F.when(n > 0, cnt / n).otherwise(F.lit(0.0))

    pa = lambda s: F.greatest(raw_p(s["cnt_a"], F.col("_na")), F.lit(PSI_EPS))  # noqa: E731
    pb = lambda s: F.greatest(raw_p(s["cnt_b"], F.col("_nb")), F.lit(PSI_EPS))  # noqa: E731
    psi = F.aggregate(
        F.col("_bins"),
        F.lit(0.0),
        lambda acc, s: acc + (pa(s) - pb(s)) * F.log(pa(s) / pb(s)),
    )
    tvd = F.aggregate(
        F.col("_bins"),
        F.lit(0.0),
        lambda acc, s: acc
        + F.abs(raw_p(s["cnt_a"], F.col("_na")) - raw_p(s["cnt_b"], F.col("_nb"))),
    ) / 2
    return tot.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(psi, round_to).alias("psi"),
        F.round(tvd, round_to).alias("tvd"),
    )


def threshold_sweep(
    df: DataFrame,
    score,
    thresholds: list[float],
) -> DataFrame:
    """Keep-rate sensitivity of a gating threshold: one row per candidate
    threshold — ``(threshold, kept, total, keep_rate)`` — from ONE scan
    and one single-row aggregate (every threshold is a conditional sum in
    the same agg; the explode that reshapes wide→long touches one row).
    The calibration companion of :func:`distribution_drift`: before
    moving a quality gate, sweep it and read how much corpus each setting
    keeps."""
    ts = [float(t) for t in thresholds]
    aggs = [F.count(F.lit(1)).alias("_total")] + [
        F.sum((score >= F.lit(t)).cast("long")).alias(f"_k{i}") for i, t in enumerate(ts)
    ]
    row = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(F.lit(t).alias("threshold"), F.col(f"_k{i}").alias("kept"))
            for i, t in enumerate(ts)
        ]
    )
    return (
        row.select(F.col("_total").alias("total"), F.explode(pairs).alias("s"))
        .select(
            F.col("s.threshold").alias("threshold"),
            F.col("s.kept").alias("kept"),
            "total",
            F.round(
                F.when(F.col("total") > 0, F.col("s.kept") / F.col("total")).otherwise(0.0),
                ROUND_DIGITS,
            ).alias("keep_rate"),
        )
        .orderBy("threshold")
    )


def quantile_buckets(
    df: DataFrame,
    score,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact quantile-bucket assignment: ``(id, score, bucket)`` with
    ``bucket`` in [0, k-1] — bucket b holds the docs strictly above the
    b'th of the k-1 exact interpolated cutpoints (ties at a cutpoint fall
    into the LOWER bucket, the rule the oracle replicates). The curation
    primitive behind curriculum mixing ("sample deciles 7-9 at 2×"):
    compose with :func:`..sampling.mixture_sample` on the bucket column.

    Exact ``percentile`` (never approx — the reference's metric
    invariant) costs one aggregate; cutpoints (k-1 doubles) come back to
    the driver and the assignment is a pure narrow map over literals —
    two passes, no join, no shuffle beyond the percentile agg."""
    if k < 1:
        raise ValueError("quantile_buckets needs k >= 1")
    scored = df.select(F.col(id_col), score.cast("double").alias("_s"))
    cuts: list[float] = []
    if k > 1:
        from decimal import ROUND_HALF_UP, Decimal

        qs = [i / k for i in range(1, k)]
        row = scored.agg(
            F.percentile("_s", F.array(*[F.lit(q) for q in qs])).alias("c")
        ).collect()[0]
        # cutpoints rounded to ROUND_DIGITS places before comparing: scores
        # carry that precision anyway, and it removes any 1-ulp interpolation
        # skew between engines from the bucket boundaries. HALF_UP, not
        # Python's banker's round — DuckDB/Spark round() are half-away-
        # from-zero and the oracle must round IDENTICALLY.
        q10 = Decimal(10) ** -ROUND_DIGITS
        cuts = [
            float(Decimal(repr(float(c))).quantize(q10, rounding=ROUND_HALF_UP))
            for c in (row["c"] or [])
        ]
    bucket = F.lit(0)
    for c in cuts:
        bucket = bucket + (F.col("_s") > F.lit(c)).cast("int")
    return scored.filter(F.col("_s").isNotNull()).select(
        F.col(id_col),
        F.round(F.col("_s"), ROUND_DIGITS).alias("score"),
        bucket.cast("int").alias("bucket"),
    )
