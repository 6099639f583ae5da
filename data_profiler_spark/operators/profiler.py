"""Exact per-column profiling as single-pass wide aggregates.

The reference streams every CSV row into one accumulator object per column
(reference ``api/routers/runs.py:477-483``) and then re-reads the whole file
once *per column* for exact distinct counting (``runs.py:496-500`` — N+1
scans).  Here the same exact metrics compile to:

* ONE wide ``agg(...)`` over all columns → one scan, partial+final
  HashAggregate, whole-stage codegen (replaces the per-row Python loop);
* ONE melted ``explode(map(...)) → groupBy(column, value)`` pass for every
  column's exact value frequencies → one shuffle total instead of N scans
  (SURVEY.md §4.1 "known anti-pattern — do not port").

Exactness is a reference invariant ("No approximations", reference
``README.md:27``): exact ``count_distinct`` and exact ``percentile`` are
used throughout — never ``approx_count_distinct`` / ``approx_percentile``.

Null semantics (reference ``api/services/profile.py:268-270``,
``distincts.py:160-174``): SQL null or empty-after-trim string counts as
null; the literal two-char string ``""`` is a separate ``empty_count``
bucket; values are trimmed before distinct counting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .validators import has_non_ascii, is_null_like

QUANTILES = [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]
QUANTILE_NAMES = ["p1", "p5", "p25", "p50", "p75", "p95", "p99"]


def numeric_stats_exprs(col: str) -> list[Column]:
    """Welford mean/stddev + exact quantiles + min/max/count for a numeric
    column — reference A1-A4 (``profile.py:133-230,288-292``) as one agg.

    Spark's ``stddev_samp`` is the same numerically-stable central-moment
    aggregate as the reference's Welford accumulator; ``percentile`` is the
    same sorted + linear-interpolation definition as ``_percentile``
    (``profile.py:206-230``).
    """
    c = F.col(col)
    exprs = [
        F.count(c).alias(f"{col}_count"),
        F.sum(is_null_like(c).cast("long")).alias(f"{col}_null_count"),
        F.min(c).alias(f"{col}_min"),
        F.max(c).alias(f"{col}_max"),
        F.avg(c).alias(f"{col}_mean"),
        F.stddev_samp(c).alias(f"{col}_stddev"),
    ]
    exprs.append(
        F.percentile(c, F.array(*[F.lit(q) for q in QUANTILES])).alias(f"{col}_quantiles")
    )
    return exprs


def string_stats_exprs(col: str) -> list[Column]:
    """String length stats + non-ASCII + char-class flags — reference A10
    (``profile.py:389-476``) and P9/P10 (``profile.py:441-451``)."""
    c = F.col(col)
    ln = F.length(c)
    return [
        F.count(c).alias(f"{col}_count"),
        F.sum(is_null_like(c).cast("long")).alias(f"{col}_null_count"),
        F.min(ln).alias(f"{col}_min_length"),
        F.max(ln).alias(f"{col}_max_length"),
        F.avg(ln).alias(f"{col}_avg_length"),
        F.max(has_non_ascii(c).cast("int")).alias(f"{col}_has_non_ascii"),
        F.max(c.rlike("[A-Za-z]").cast("int")).alias(f"{col}_has_alpha"),
        F.max(c.rlike("[0-9]").cast("int")).alias(f"{col}_has_digit"),
        F.max(c.rlike("\\s").cast("int")).alias(f"{col}_has_space"),
        F.max(c.rlike("[^A-Za-z0-9\\s]").cast("int")).alias(f"{col}_has_special"),
    ]


def melted_value_counts(df: DataFrame, cols: list[str]) -> DataFrame:
    """Every column's exact value frequencies in ONE shuffle.

    Replaces the reference's per-column full-file re-scan
    (``runs.py:496-500``) with a single
    ``explode(map(name→value)) → groupBy(column_name, value).count()``.
    Values are trimmed first (``distincts.py:172-174`` trim_whitespace
    default); nulls/empty-after-trim are excluded here and counted
    separately by :func:`distinct_report`.

    At scale: the shuffle key is (column_name, value) — column_name alone
    would put each column on one reducer, so the compound key keeps
    parallelism ∝ value cardinality. Map-side partial aggregation bounds
    shuffle volume by the number of *distinct* (col, value) pairs per task.
    """
    pairs: list[Column] = []
    for c in cols:
        pairs.extend([F.lit(c), F.trim(F.col(c).cast("string"))])
    melted = df.select(F.explode(F.create_map(*pairs)).alias("column_name", "value"))
    melted = melted.filter(F.col("value").isNotNull() & (F.col("value") != ""))
    return melted.groupBy("column_name", "value").agg(F.count(F.lit(1)).alias("cnt"))


def top_n_values(df: DataFrame, cols: list[str], n: int = 10) -> DataFrame:
    """Top-N value frequencies per column — reference A9
    (``distincts.py:77-93``) with the pinned deterministic tiebreak
    (count desc, value asc; FIXTURES.md §F4.3).

    One melted shuffle then a per-column window top-k; the window input is
    already aggregated (one row per distinct value), so the sort is over
    cardinality, not row count.
    """
    from pyspark.sql import Window

    counts = melted_value_counts(df, cols)
    w = Window.partitionBy("column_name").orderBy(F.desc("cnt"), F.asc("value"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select("column_name", "value", "cnt", "rank")
    )


def distinct_report(df: DataFrame, cols: list[str], case_sensitive: bool = True) -> DataFrame:
    """Per-column exact distinct/null/empty counts + cardinality ratio —
    reference A8/A17 (``distincts.py:144-408``, ratio ``distincts.py:219-221``
    = distinct / non-null; FIXTURES.md §F4.2 pins the denominator per
    surface).

    ``empty_count`` is the literal two-char string ``\"\"`` bucket
    (``distincts.py:166-168``). ``case_sensitive=False`` lowercases after
    trimming before distinct counting (``distincts.py:175-177``).

    Single pass: the row total rides in the same wide agg as the per-column
    counters (no separate ``df.count()`` scan).
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("_total")]
    for c in cols:
        sc = F.trim(F.col(c).cast("string"))
        if not case_sensitive:
            sc = F.lower(sc)
        aggs.append(
            F.count_distinct(
                F.when(sc.isNotNull() & (sc != ""), sc)
            ).alias(f"{c}_distinct")
        )
        aggs.append(F.sum(is_null_like(F.col(c)).cast("long")).alias(f"{c}_null"))
        aggs.append(F.sum((sc == '""').cast("long")).alias(f"{c}_empty"))
    row = df.agg(*aggs).collect()[0].asDict()
    total = row["_total"]
    out = []
    for c in cols:
        nulls = row[f"{c}_null"] or 0
        non_null = total - nulls
        distinct = row[f"{c}_distinct"] or 0
        out.append(
            (
                c,
                total,
                non_null,
                nulls,
                row[f"{c}_empty"] or 0,
                distinct,
                float(distinct) / non_null if non_null else 0.0,
            )
        )
    return df.sparkSession.createDataFrame(
        out,
        "column_name string, total_count long, non_null_count long, "
        "null_count long, empty_count long, distinct_count long, "
        "cardinality_ratio double",
    )


def histogram(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """Exact fixed-bin histogram — reference A6
    (``profile.py:326-359``): bin width ``(max-min)/bins``, max value
    folded into the last bin, two aggregate passes (min/max then counts);
    no bins when the column holds no non-null value."""
    r = df.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).collect()[0]
    mn, mx = (0.0, 0.0) if r["mn"] is None else (float(r["mn"]), float(r["mx"]))
    width = (mx - mn) / bins if mx > mn else 1.0
    bin_idx = F.least(
        F.floor((F.col(col) - F.lit(mn)) / F.lit(width)), F.lit(bins - 1)
    ).cast("int")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(bin_idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bin_lo", F.round(F.lit(mn) + F.col("bin") * F.lit(width), 6))
        .withColumn("bin_hi", F.round(F.lit(mn) + (F.col("bin") + 1) * F.lit(width), 6))
        .orderBy("bin")
    )


def raw_moments_exprs(col: str) -> list[Column]:
    """First four raw moments of a numeric column — the distributed half of
    the reference's Gaussian-ness test A7 (``profile.py:361-382``). One agg;
    the D'Agostino-Pearson statistic is pure arithmetic on these four
    numbers (``normaltest_pvalue`` below), so no data leaves the cluster."""
    c = F.col(col).cast("double")
    return [
        F.count(c).alias(f"{col}_n"),
        F.avg(c).alias(f"{col}_m1"),
        F.avg(c * c).alias(f"{col}_m2"),
        F.avg(c * c * c).alias(f"{col}_m3"),
        F.avg(c * c * c * c).alias(f"{col}_m4"),
    ]


def normaltest_pvalue(n: int, m1: float, m2: float, m3: float, m4: float) -> float | None:
    """D'Agostino-Pearson K² p-value from raw moments (A7 parity with
    ``scipy.stats.normaltest`` — same published formulas: D'Agostino 1971
    skewness z, Anscombe-Glynn 1983 kurtosis z). Driver-side pure math;
    returns None when n < 8 (reference gate, ``profile.py:367``)."""
    import math

    if n < 8:
        return None
    mu = m1
    c2 = m2 - mu * mu
    c3 = m3 - 3 * mu * m2 + 2 * mu**3
    c4 = m4 - 4 * mu * m3 + 6 * mu * mu * m2 - 3 * mu**4
    if c2 <= 0:
        return None
    g1 = c3 / c2**1.5
    g2 = c4 / (c2 * c2) - 3.0
    # skewness z (D'Agostino)
    y = g1 * math.sqrt((n + 1) * (n + 3) / (6.0 * (n - 2)))
    b2 = 3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3) / ((n - 2.0) * (n + 5) * (n + 7) * (n + 9))
    w2 = -1 + math.sqrt(2 * (b2 - 1))
    delta = 1 / math.sqrt(0.5 * math.log(w2))
    alpha = math.sqrt(2.0 / (w2 - 1))
    y = y if y != 0 else 1e-30
    zs = delta * math.log(y / alpha + math.sqrt((y / alpha) ** 2 + 1))
    # kurtosis z (Anscombe-Glynn) — b2 is NON-excess kurtosis (g2 + 3)
    e = 3.0 * (n - 1) / (n + 1)
    var = 24.0 * n * (n - 2) * (n - 3) / ((n + 1) ** 2 * (n + 3) * (n + 5))
    x = (g2 + 3.0 - e) / math.sqrt(var)
    beta = (
        6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
        * math.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    )
    a = 6.0 + 8.0 / beta * (2.0 / beta + math.sqrt(1 + 4.0 / (beta * beta)))
    denom = 1 + x * math.sqrt(2 / (a - 4.0))
    if denom <= 0:
        return None
    term = (1 - 2.0 / a) / denom
    zk = (1 - 2.0 / (9.0 * a) - term ** (1.0 / 3.0)) / math.sqrt(2.0 / (9.0 * a))
    k2 = zs * zs + zk * zk
    # p = survival of chi2 with 2 dof = exp(-k2/2)
    return math.exp(-k2 / 2.0)


def profile_table(df: DataFrame, numeric_cols: list[str], string_cols: list[str]) -> dict:
    """Driver-side orchestration of the flagship profile (SURVEY.md §7.1 M1):
    one wide agg + one melted distinct pass + top-10s. Returns a small
    driver dict (counts-not-values discipline: no raw document text leaves
    the executors except the top-N values, which are bounded). The row
    total (A21, ``runs.py:764-771``) rides in the wide agg as ``rows``."""
    exprs: list[Column] = [F.count(F.lit(1)).alias("rows")]
    for c in numeric_cols:
        exprs.extend(numeric_stats_exprs(c))
    for c in string_cols:
        exprs.extend(string_stats_exprs(c))
    wide = df.agg(*exprs).collect()[0].asDict()
    totals = {"row_count": wide.pop("rows"), "column_count": len(df.columns)}
    report = {r["column_name"]: r.asDict() for r in distinct_report(df, numeric_cols + string_cols).collect()}
    top = {}
    for r in top_n_values(df, string_cols, 10).collect():
        top.setdefault(r["column_name"], []).append((r["value"], r["cnt"]))
    return {"wide": wide, "distincts": report, "top_values": top, **totals}
