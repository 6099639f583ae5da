"""Deterministic corpus-selection operators for training-data mixes.

Two selection primitives every pretraining pipeline runs after cleaning:

* **Token-budget selection** — "take the highest-priority documents until
  the token budget is spent". The naive expression is a global
  ``Window.orderBy(priority)`` running sum, which Spark executes on a
  SINGLE partition — a non-starter at corpus scale. ``token_budget_sample``
  gets the EXACT same answer with a bounded-size priority histogram:
  one groupBy over ≤ ``bins`` keys, a driver-side threshold scan over
  that histogram, and a narrow filter. Only the single boundary bin
  (expected n/bins rows) pays a sort.
* **Exact stratified sampling** — exactly ``n`` rows per stratum,
  deterministically (hash-ranked), where ``DataFrame.sampleBy`` is only
  approximate.

Determinism discipline: ties are broken by ``md5`` of the id column
(oracle-checkable, CLAUDE.md hashing rule), never by partition order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BINS = 4096


# 13 hex chars = 52 bits: exactly representable in a long AND a double,
# so hash-bucket arithmetic never loses precision.
_HASH_BITS = 52
_HASH_LEVEL_BITS = 12  # 4096 buckets per hash refinement level
# Backstop on refinement levels; real inputs need O(log n) of them.
MAX_REFINE_LEVELS = 20
# token_budget_sample refines its boundary bin until it holds at most this
# many rows, then sorts them in one task.
BOUNDARY_CUTOFF = 100_000
# stratified_sample_exact ranks a stratum of at most this many rows in one
# window task; larger strata take the hash-threshold path first.
MAX_WINDOW_ROWS = 1_000_000


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    priority: Column,
    tokens: Column,
    id_col: str = "doc_id",
    bins: int = DEFAULT_BINS,
) -> DataFrame:
    """Select documents in priority order until the token budget is spent.

    Exact semantics (matched by the DuckDB oracle): order all docs by
    (priority DESC, md5(id) ASC); keep each doc whose running token total
    INCLUDING itself is ≤ ``budget_tokens``. Null priorities sort last
    (coalesced to 0).

    Scale shape — ITERATIVE HISTOGRAM REFINEMENT, never a global sort
    (the naive ``Window.orderBy`` cumsum runs on a single partition):

    1. Bin candidates by priority over [0, 1) into ``bins``
       buckets; one map-side-combinable agg → per-bin token totals +
       row counts (≤ ``bins`` rows on the driver).
    2. Driver scans bins highest-first: bins whose cumulative total fits
       the budget are selected WHOLE (a pure filter); the single
       boundary bin gets the leftover budget.
    3. If the boundary bin still holds > :data:`BOUNDARY_CUTOFF` rows, ZOOM:
       re-bin just those rows over the bin's own priority sub-range and
       repeat. Equal priorities never separate under zoom, so when the
       boundary bin collapses to ONE distinct priority (tracked in the
       same agg), switch the refinement key to the md5 tie-break hash —
       uniform by construction, bucketed by 12-bit prefix ranges
       (order-compatible with the ``_tb ASC`` tie-break) — which cuts
       candidates ~4096× per level regardless of data skew.
    4. The final ≤ :data:`BOUNDARY_CUTOFF` candidates get the only sort — a
       single bounded task. Driver state stays ≤ ``bins`` rows per
       level; levels are O(log(n)), with a backstop of
       :data:`MAX_REFINE_LEVELS`.

    This keeps the selection EXACT under the adversarial-but-realistic
    case of heavily tied priorities (quantized quality scores), where a
    single-level histogram would funnel most of the corpus into one
    boundary bin and sort it on one task.

    Returns ``(id, priority, tokens)`` for the selected docs. The first
    histogram spans [0, 1], the engine's quality-score range; out-of-range
    priorities clamp into the edge bins, which stays exact because zoom
    and the final sort use the raw priority, not the bin.
    """
    prio = F.coalesce(priority.cast("double"), F.lit(0.0))
    base = df.select(
        F.col(id_col),
        prio.alias("priority"),
        tokens.cast("long").alias("tokens"),
        F.md5(F.col(id_col).cast("string")).alias("_tb"),
    )
    out_cols = [id_col, "priority", "tokens"]
    hash_key = F.conv(F.substring("_tb", 1, _HASH_BITS // 4), 16, 10).cast("long")

    selected: list[DataFrame] = []
    cand = base
    budget_left = int(budget_tokens)
    mode = "prio"
    cur_lo, cur_hi = 0.0, 1.0
    hash_shift = _HASH_BITS - _HASH_LEVEL_BITS
    boundary_rows: int | None = None  # unknown before the first histogram

    for _level in range(MAX_REFINE_LEVELS):
        if boundary_rows is not None and boundary_rows <= BOUNDARY_CUTOFF:
            break
        if mode == "prio":
            span = cur_hi - cur_lo
            if span <= 0.0:
                # Float underflow of the zoomed sub-range. If the boundary
                # bin still held >1 distinct priority (ndp>1 — priorities
                # distinct but closer than float resolution), hash-mode
                # refinement would ignore priority ORDER and break the
                # documented exact (priority DESC, md5 ASC) semantics;
                # fall through to the final sort, which orders by the raw
                # priority. (ndp<=1 never reaches here — it switches to
                # hash mode at the boundary-bin bookkeeping below.)
                break
            raw = F.floor((F.col("priority") - F.lit(cur_lo)) / F.lit(span) * F.lit(bins))
            key = F.least(F.greatest(raw.cast("long"), F.lit(0)), F.lit(bins - 1))
            descending = True
        else:
            key = F.shiftright(hash_key, hash_shift).bitwiseAND(F.lit((1 << _HASH_LEVEL_BITS) - 1))
            descending = False
        hist = {
            r["k"]: r
            for r in cand.groupBy(key.alias("k"))
            .agg(
                F.sum("tokens").alias("total"),
                F.count(F.lit(1)).alias("rows"),
                F.count_distinct("priority").alias("ndp"),
            )
            .collect()
        }
        cum = 0
        full_keys: list[int] = []
        boundary_key: int | None = None
        for k in sorted(hist, reverse=descending):
            # a bin of all-NULL token counts sums to None; NULL tokens
            # consume no budget (same as the oracle's SUM, which skips
            # NULLs in the running total)
            bin_total = hist[k]["total"] or 0
            if cum + bin_total <= budget_left:
                full_keys.append(k)
                cum += bin_total
            else:
                boundary_key = k
                break
        if full_keys:
            selected.append(cand.filter(key.isin(full_keys)).select(*out_cols))
        budget_left -= cum
        if boundary_key is None:
            return _union_all(selected, base, out_cols)
        row = hist[boundary_key]
        cand = cand.filter(key == boundary_key)
        boundary_rows = row["rows"]
        if mode == "prio":
            if row["ndp"] <= 1:
                mode = "hash"
            else:
                w = (cur_hi - cur_lo) / bins
                cur_lo, cur_hi = cur_lo + boundary_key * w, cur_lo + (boundary_key + 1) * w
        else:
            hash_shift = max(hash_shift - _HASH_LEVEL_BITS, 0)

    # final bounded sort: the only per-row ordering in the whole plan
    w = Window.orderBy(F.col("priority").desc(), F.col("_tb").asc())
    partial = (
        cand.withColumn("_run", F.sum("tokens").over(w))
        .filter(F.col("_run") <= budget_left)
        .select(*out_cols)
    )
    selected.append(partial)
    return _union_all(selected, base, out_cols)


def _union_all(parts: list[DataFrame], base: DataFrame, out_cols: list[str]) -> DataFrame:
    if not parts:
        return base.filter(F.lit(False)).select(*out_cols)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _quota_expr(strata_col: str, quota: int | dict) -> Column:
    """Per-row quota: a literal for the uniform case, a ``when``-chain for
    small per-stratum dicts (languages/sources). Large dicts go through
    the broadcast-join path in :func:`_ranked_quota_filter` instead — a
    10^5-domain when-chain would be a 10^5-node codegen expression."""
    if not isinstance(quota, dict):
        return F.lit(int(quota))
    out = F.lit(0)
    for s, n in quota.items():
        cond = F.col(strata_col).isNull() if s is None else (F.col(strata_col) == s)
        out = F.when(cond, F.lit(int(n))).otherwise(out)
    return out


# Above this many strata the per-row quota switches from a when-chain
# expression to a broadcast quota-table join (per-DOMAIN mixtures can
# carry 10^5+ strata; expression trees that size break codegen).
QUOTA_WHEN_CHAIN_MAX = 64


def _ranked_quota_filter(
    part: DataFrame, strata_col: str, n_per_stratum: int | dict, w
) -> DataFrame:
    """row_number-rank ``part`` within each stratum and keep rows within
    their stratum's quota; original columns/order preserved."""
    ranked = part.withColumn("_rk", F.row_number().over(w))
    if not isinstance(n_per_stratum, dict) or len(n_per_stratum) <= QUOTA_WHEN_CHAIN_MAX:
        return ranked.filter(
            F.col("_rk") <= _quota_expr(strata_col, n_per_stratum)
        ).drop("_rk")
    none_q = int(n_per_stratum.get(None, 0))
    items = [(s, int(n)) for s, n in n_per_stratum.items() if s is not None]
    qdf = part.sparkSession.createDataFrame(items, [strata_col, "_q"])
    quota = F.when(F.col(strata_col).isNull(), F.lit(none_q)).otherwise(
        F.coalesce(F.col("_q"), F.lit(0))
    )
    return (
        ranked.join(F.broadcast(qdf), strata_col, "left")
        .filter(F.col("_rk") <= quota)
        .select(*part.columns)
    )


def _stratum_counts(df: DataFrame, strata_col: str) -> dict:
    """``{stratum: row count}`` of ``df``, one row per stratum on the
    driver (a NULL stratum is the key ``None``)."""
    return {
        r["s"]: r["c"]
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int | dict,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly ``min(n, stratum size)`` rows per stratum, chosen by
    md5-hash rank of the id — deterministic, seedless, and uniform-ish
    (hash order is independent of any data column), unlike
    ``DataFrame.sampleBy`` which is probabilistic in both membership and
    count. ``n_per_stratum`` is a single quota or a ``{stratum: n}`` dict
    (per-stratum quotas — the :func:`mixture_sample` building block;
    strata absent from the dict get quota 0).

    Skew shape: the per-stratum ranking window funnels each stratum onto
    one task, so a corpus-dominating stratum (80% one language) would
    sort a near-corpus-sized partition. Strata larger than
    :data:`MAX_WINDOW_ROWS` therefore take a HASH-THRESHOLD path first: keep
    only rows whose 52-bit hash prefix < t where
    ``t ≈ 4·n/|stratum|`` of the hash space — the n smallest hashes are
    all below t whenever ≥ n rows survive, so ranking the ~4n survivors
    is EXACT, verified per stratum and t doubled (rare: P ~ e^-n) until
    every big stratum has ≥ n survivors. Driver state = one (stratum,
    count) row per stratum (strata are languages/sources — bounded).
    """
    hash_col = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(hash_col)

    def n_of(s) -> int:
        if isinstance(n_per_stratum, dict):
            return int(n_per_stratum.get(s, 0))
        return int(n_per_stratum)

    sizes = _stratum_counts(df, strata_col)
    big = {s for s, c in sizes.items() if c > MAX_WINDOW_ROWS}
    if not big:
        return _ranked_quota_filter(df, strata_col, n_per_stratum, w)

    # NULL-safe stratum routing: a NULL stratum can itself be big (lang
    # unknown dominates real web corpora), and `~isin(...)` over a set
    # containing None is NULL-poisoned for EVERY non-matching row — both
    # would silently drop strata, so matching is built per stratum.
    def match(s) -> Column:
        return F.col(strata_col).isNull() if s is None else (F.col(strata_col) == s)

    non_null_big = [s for s in big if s is not None]
    if len(big) < len(sizes):
        small_cond = (
            ~F.coalesce(F.col(strata_col).isin(*non_null_big), F.lit(False))
            if non_null_big
            else F.lit(True)
        )
        if None in big:
            small_cond = small_cond & F.col(strata_col).isNotNull()
        small_part = df.filter(small_cond)
    else:
        small_part = None
    hash_key = F.conv(F.substring(hash_col, 1, _HASH_BITS // 4), 16, 10).cast("long")
    space = 1 << _HASH_BITS
    # per-stratum threshold, doubled until every big stratum keeps >= n
    thresholds = {
        s: min(space, max(1, (4 * max(n_of(s), 1) * space) // sizes[s])) for s in big
    }
    while True:
        cond = None
        for s in big:
            c = match(s) & (hash_key < thresholds[s])
            cond = c if cond is None else (cond | c)
        survivors = df.filter(cond)
        got = _stratum_counts(survivors, strata_col)
        short = [
            s for s in big
            if got.get(s, 0) < min(n_of(s), sizes[s]) and thresholds[s] < space
        ]
        if not short:
            break
        for s in short:
            thresholds[s] = min(space, thresholds[s] * 2)

    ranked_big = _ranked_quota_filter(survivors, strata_col, n_per_stratum, w)
    if small_part is None:
        return ranked_big
    ranked_small = _ranked_quota_filter(small_part, strata_col, n_per_stratum, w)
    return ranked_small.unionByName(ranked_big)


def mixture_allocation(
    sizes: dict, weights: dict, total: int
) -> dict:
    """Deterministic water-filling allocation of ``total`` rows across
    strata toward target ``weights`` (need not sum to 1 — normalized over
    the ACTIVE set each round), honoring per-stratum availability.

    Each round distributes the remaining budget over unfilled strata by
    largest-remainder apportionment (floor everyone, hand the leftover
    units to the largest fractional parts; ties broken by stratum repr —
    fully deterministic). Strata whose share exceeds their size clamp to
    the size and leave the active set; their unused budget re-spreads
    over the rest. Terminates in ≤ len(weights) rounds (every round
    either finishes or clamps ≥ 1 stratum). Pure driver math over one
    (stratum, count) row per stratum.
    """
    alloc = {s: 0 for s in weights if s in sizes and weights[s] > 0}
    active = dict(alloc)
    remaining = max(int(total), 0)
    while active and remaining > 0:
        wsum = sum(weights[s] for s in active)
        shares = {s: remaining * weights[s] / wsum for s in active}
        base = {s: int(shares[s]) for s in active}
        leftover = remaining - sum(base.values())
        order = sorted(active, key=lambda s: (-(shares[s] - base[s]), repr(s)))
        for s in order[:leftover]:
            base[s] += 1
        clamped = [s for s in active if base[s] >= sizes[s] - alloc[s]]
        if not clamped:
            for s in active:
                alloc[s] += base[s]
            break
        for s in clamped:
            take = sizes[s] - alloc[s]
            alloc[s] += take
            remaining -= take
            del active[s]
    return alloc


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    weights: dict,
    total: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sample a training mix: ``total`` rows distributed across strata
    (domains / languages / sources) toward target ``weights`` — the
    composition step after cleaning ("50% web, 25% code, 25% books"),
    exact and deterministic where ``sampleBy`` is approximate in both
    membership and count.

    Allocation is :func:`mixture_allocation` (largest-remainder water-
    filling over one tiny per-stratum count agg); selection is
    :func:`stratified_sample_exact` with the per-stratum quota dict, so
    membership is md5-hash-ranked and corpus-dominating strata keep the
    hash-threshold skew path. Strata not in ``weights`` are excluded.
    Returns exactly ``min(total, sum of weighted strata sizes)`` rows.
    """
    keyed = [s for s in weights if s is not None]
    cond = F.col(strata_col).isin(*keyed) if keyed else F.lit(False)
    if None in weights:
        cond = cond | F.col(strata_col).isNull()
    pool = df.filter(cond)
    sizes = _stratum_counts(pool, strata_col)
    alloc = mixture_allocation(sizes, weights, total)
    if not alloc:
        return pool.limit(0)
    return stratified_sample_exact(pool, strata_col, alloc, id_col=id_col)
