"""Similarity search over embedding columns (array<float>).

* **Brute-force cosine top-k** — the one exact search path. One narrow map
  computing the dot product against a broadcast query vector (a literal
  array — no join, no shuffle), then ``orderBy(desc).limit(k)`` which Spark
  compiles to TakeOrderedAndProject (per-partition heap + driver merge,
  never a full sort).
* **IVF coarse-quantizer codebook** — k centroids from a groupBy-avg over a
  labeled column (:func:`label_centroids`) or seeded k-means
  (:func:`kmeans_centroids`); :func:`centroid_assign` maps each vector to
  its cell (one broadcast of k×d floats + one narrow map).
* **Projection-grid near-dup blocking** — ``embedding_near_dup_pairs``:
  all-pairs cosine >= t as a LOSSLESS equi-join (triangle-inequality grid
  cells; see its docstring). Exact result, join-shaped cost — the default
  path, replacing the O(n²) crossJoin.

All vector math is JVM-side (``aggregate``/``zip_with`` fold) — at 64-1024
dims whole-stage codegen keeps this in the scan stage; for very high dims a
vectorized pandas UDF over Arrow batches is the fallback (numpy matmul),
left to the caller.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _key_pairs, _widen

# Decimal places of rounded centroids and cosines, as in the oracle SQL.
ROUND_DIGITS = 6


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def dot_expr_fixed(a: Column, b: Column, dim: int) -> Column:
    """Dot product for a KNOWN dimensionality: an unrolled left-to-right
    sum of ``element_at`` products. Bit-identical to ``dot_expr`` (same FP
    summation order as the ``aggregate`` fold), but whole-stage-codegen
    compiles it — Spark evaluates higher-order functions (``aggregate`` /
    ``zip_with``) interpreted, one lambda frame per element per row, which
    dominates any per-candidate verification hot path run n²-ish times."""
    out = F.element_at(a, 1) * F.element_at(b, 1)
    for i in range(2, dim + 1):
        out = out + F.element_at(a, i) * F.element_at(b, i)
    return out


def _lit_vec(q: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in q])


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a broadcast literal query vector."""
    a = _as_double(F.col(vec_col))
    sim = cosine_expr(a, _lit_vec(query_vec))
    return (
        df.select(id_col, F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# Seeded hyperplanes (grid directions, method='lsh' bands)
# --------------------------------------------------------------------------

def random_hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes without numpy RNG state:
    plane[p][d] from a splitmix-style integer hash of (seed, p, d), mapped
    to [-1, 1). Stable across engines and processes."""
    out = []
    for p in range(planes):
        row = []
        for d in range(dim):
            x = (seed * 0x9E3779B9 + p * 0x85EBCA6B + d * 0xC2B2AE35) & 0xFFFFFFFF
            x ^= x >> 16
            x = (x * 0x45D9F3B) & 0xFFFFFFFF
            x ^= x >> 16
            row.append((x / 0x80000000) - 1.0)
        out.append(row)
    return out


# --------------------------------------------------------------------------
# IVF-style coarse quantization
# --------------------------------------------------------------------------

def label_centroids(df: DataFrame, label_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Per-label mean vectors — the coarse quantizer codebook. Dimension-wise
    avg via posexplode → groupBy(label, dim) → re-assemble; one shuffle whose
    cardinality is labels × dims (tiny)."""
    exploded = df.select(label_col, F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x"))
    per_dim = exploded.groupBy(label_col, "dim").agg(F.avg("x").alias("m"))
    return (
        per_dim.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("pairs"))
        .select(label_col, F.transform("pairs", lambda p: p["m"]).alias("centroid"))
    )


def centroid_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (IVF cell). Centroids
    arrive as driver-side literals (k×d floats — broadcast-sized by
    construction); the argmax is a fold over a literal array of structs, so
    assignment is a pure narrow map."""
    a = _as_double(F.col(vec_col))
    scored = F.array(
        *[
            F.struct(cosine_expr(a, _lit_vec(vec)).alias("sim"), F.lit(int(lbl)).alias("cell"))
            for lbl, vec in centroids
        ]
    )
    best = F.array_max(scored)
    return df.select(
        id_col,
        best["cell"].alias("cell"),
        F.round(best["sim"], 6).alias("sim"),
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[tuple[int, list[float]]]:
    """Unsupervised IVF codebook: seeded spherical Lloyd k-means, fully
    deterministic and ANSI-reproducible (the DuckDB oracle runs the
    identical unrolled iterations — ``__spark_entry__.kmeans_cells``).

    A real 100-TB corpus has no labels, so the codebook that
    :func:`centroid_assign` consumes must come from the data itself.
    Design choices, each shared with the oracle:

    * **Init**: the ``k`` rows with smallest ``md5(seed || vec_id)``
      (hash-order sampling — deterministic, engine-agnostic, no RNG
      state), centroid ``cell`` ids in that hash order.
    * **Assign**: max-cosine against the current centroids — a pure
      narrow map over literal centroids (k×d floats broadcast in the
      plan), ties broken toward the higher cell id in both engines.
    * **Re-centroid**: dimension-wise mean via posexplode → groupBy(cell,
      dim) → avg (shuffle cardinality k×d, tiny), ROUNDED to
      :data:`ROUND_DIGITS` decimals each iteration — the rounding pins the fixed point so two
      engines summing in different orders stay bit-identical.
    * **Fixed ``iters``** (not convergence-tested): deterministic cost and
      a finitely-unrollable oracle. Cells that lose all members drop out.

    Each iteration is one scan of ``df`` (cache it) + a k×d collect;
    the codebook returns driver-side, matching ``centroid_assign``'s
    literal-centroid contract."""
    base = df.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    )
    seeds = (
        base.select(
            "_id",
            "_v",
            F.md5(F.concat(F.lit(f"s{seed}:"), F.col("_id").cast("string"))).alias("_h"),
        )
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    centroids = [(i, [float(x) for x in r["_v"]]) for i, r in enumerate(seeds)]
    for _ in range(iters):
        assigned = centroid_assign(base, centroids, id_col="_id", vec_col="_v").select(
            "_id", "cell"
        )
        per_dim = (
            base.join(assigned, "_id")
            .select("cell", F.posexplode("_v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
        )
        rows = (
            per_dim.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("p"))
            .select(
                "cell",
                F.transform("p", lambda q: F.round(q["m"], ROUND_DIGITS)).alias("c"),
            )
            .collect()
        )
        centroids = sorted((int(r["cell"]), [float(x) for x in r["c"]]) for r in rows)
    return centroids


def projection_directions(dim: int, m: int, seed: int = 7) -> list[list[float]]:
    """``m`` deterministic unit-norm projection directions (normalized
    :func:`random_hyperplanes` rows) for grid blocking."""
    out = []
    for row in random_hyperplanes(dim, m, seed):
        nrm = sum(x * x for x in row) ** 0.5 or 1.0
        out.append([x / nrm for x in row])
    return out


def principal_directions(
    df: DataFrame, vec_col: str = "embedding", m: int = 2, dim: int | None = None
) -> list[list[float]] | None:
    """Top-``m`` principal directions of the L2-NORMALIZED vectors — the
    variance-maximizing unit directions for grid blocking.

    Why not random directions: the projection of high-dimensional
    near-unit-norm vectors onto a FIXED random unit direction concentrates
    with spread ~1/sqrt(d) (0.125 at d=64, 0.036 at d=768) — far inside
    the lossless cell width ``w = sqrt(2-2t)`` (0.45 at t=0.9), so nearly
    every vector lands in the same 1-3 cells per axis and blocking
    degrades toward all-pairs. Principal directions spread the projections
    to the data's ACTUAL extent along its top-variance axes while ``w``
    stays fixed by the losslessness argument (any unit direction is
    1-Lipschitz), recovering pruning without giving up exactness.

    One extra pass over the data: per-Arrow-batch partial second moments
    (count, sum vector, Gram matrix — numpy matmul inside ``mapInPandas``,
    d² floats per BATCH, not per row) summed on the driver, then a d×d
    symmetric eigendecomposition (driver-side numpy — d ≤ a few thousand,
    trivially small next to any fixture). Deterministic for a given input
    (partial sums reduce over a deterministic partition order; signs are
    canonicalized). Returns None on an empty input.
    """
    import numpy as np

    from pyspark.sql import types as T

    df = df.filter(F.col(vec_col).isNotNull())
    n_dim = dim
    if n_dim is None:
        first = df.select(vec_col).first()
        if first is None or first[0] is None:
            return None
        n_dim = len(first[0])
    schema = T.StructType(
        [
            T.StructField("cnt", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("g", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            vecs = _np.stack(pdf.iloc[:, 0].to_numpy()).astype(_np.float64)
            norms = _np.linalg.norm(vecs, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            vecs = vecs / norms
            yield _pd.DataFrame(
                {
                    "cnt": [len(vecs)],
                    "s": [vecs.sum(axis=0).tolist()],
                    "g": [(vecs.T @ vecs).ravel().tolist()],
                }
            )

    rows = df.select(vec_col).mapInPandas(partials, schema).collect()
    if not rows:
        return None
    n = sum(r["cnt"] for r in rows)
    if n == 0:
        return None
    s = np.zeros(n_dim)
    g = np.zeros((n_dim, n_dim))
    for r in rows:
        s += np.asarray(r["s"])
        g += np.asarray(r["g"]).reshape(n_dim, n_dim)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    out = []
    for j in range(1, min(m, n_dim) + 1):
        v = vecs[:, -j]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v  # canonical sign: dominant component positive
        out.append([float(x) for x in v])
    return out


# method="grid" projects onto m directions and joins each cell to its 3^m
# neighbors; the pairs and grid_occupancy_report share this one m, so the
# report always describes the grid the pairs run.
GRID_PROJECTIONS = 2

# method="lsh" banding: p sign planes per band, b bands, seeded planes
LSH_PLANES_PER_BAND = 8
LSH_BANDS = 16
LSH_SEED = 7


def _vector_dim(df: DataFrame, vec_col: str, dim: int | None) -> int | None:
    """``dim`` when the caller gives it, else the first vector's length
    (one ``first()`` driver job); None when the input is empty."""
    if dim is None:
        first = df.select(vec_col).first()
        if first is None or first[0] is None:
            return None
        dim = len(first[0])
    return dim


def _verified_cosine(pairs: DataFrame, dim: int, threshold: float, round_to: int) -> DataFrame:
    """(id1, id2, cosine) of the candidate pairs ``(id1, id2, _v1, _n1,
    _v2, _n2)`` whose cosine reaches ``threshold``. The per-pair dot
    product is the unrolled codegen-able form, and the division matches
    :func:`cosine_expr`, so the result is bit-identical to the brute-force
    reference. The filter reads the RAW cosine; rounding happens once, in
    the final select."""
    cos = dot_expr_fixed(F.col("_v1"), F.col("_v2"), dim) / (F.col("_n1") * F.col("_n2"))
    return (
        pairs.withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select("id1", "id2", F.round("_cos", round_to).alias("cosine"))
    )


def _resolve_grid(
    df: DataFrame,
    threshold: float,
    vec_col: str,
    dim: int | None,
    direction_mode: str,
) -> tuple[float, int, list[list[float]]] | None:
    """(cell width, dim, :data:`GRID_PROJECTIONS` unit directions) for the
    projection grid, or None when the input is empty. ``dim`` given by the
    caller skips the extra ``first()`` driver job."""
    width = max((2.0 - 2.0 * threshold), 1e-12) ** 0.5
    dim = _vector_dim(df, vec_col, dim)
    if dim is None:
        return None
    if direction_mode == "pca":
        dirs = principal_directions(df, vec_col, GRID_PROJECTIONS, dim)
        if dirs is None:
            return None
    else:
        dirs = projection_directions(dim, GRID_PROJECTIONS)
    return width, dim, dirs


def _cell_key(salt_col: Column | None = None) -> Column:
    """String key of the own grid cell from the ``_c`` coordinate array;
    ``salt_col`` appends a salt component (see ``verify_salt``)."""
    parts = [F.element_at(F.col("_c"), j + 1).cast("string") for j in range(GRID_PROJECTIONS)]
    if salt_col is not None:
        parts.append(salt_col.cast("string"))
    return F.concat_ws(",", *parts)


def _neighbor_keys(salts: int = 1) -> Column:
    """All 3^m neighbor-cell keys (own cell included) from ``_c``; with
    ``salts`` > 1 each neighbor key is replicated once per salt value (the
    right side of a salted hot-cell join)."""
    keys = []
    for e in itertools.product((-1, 0, 1), repeat=GRID_PROJECTIONS):
        parts = [
            (F.element_at(F.col("_c"), j + 1) + F.lit(e[j])).cast("string")
            for j in range(GRID_PROJECTIONS)
        ]
        if salts > 1:
            keys.extend(F.concat_ws(",", *parts, F.lit(str(s))) for s in range(salts))
        else:
            keys.append(F.concat_ws(",", *parts))
    return F.array(*keys)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = ROUND_DIGITS,
    method: str = "grid",
    dim: int | None = None,
    verify_salt: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LOSSLESS projection-grid blocking.

    Default ``method='grid'``: project each L2-normalized vector onto
    :data:`GRID_PROJECTIONS` (m = 2) fixed unit directions;
    ``cosine(a,b) >= t`` implies ``||â-b̂|| <= sqrt(2-2t) =: w`` (unit
    sphere chord), and a 1-Lipschitz
    projection therefore moves by at most ``w`` — so a qualifying pair lands
    in the same or an adjacent cell of a width-``w`` grid in EVERY
    projection. The blocking join is asymmetric: the left side keys on its
    own cell, the right side on all 3^m neighbor cells, so every
    adjacent-cell pair collides exactly once per orientation — candidate
    generation has 100% recall BY CONSTRUCTION at any threshold (no LSH
    recall gamble) and needs no dedup, while the join cost is
    #adjacent-cell pairs, never O(n²). Candidates
    are then verified with exact cosine (filter on the RAW value; rounding
    happens once, in the final select, so the result is identical to the
    brute-force reference at every threshold).

    The grid projects onto the PRINCIPAL directions of the normalized
    vectors (one extra moment-gathering pass — see
    :func:`principal_directions` for why random directions silently lose
    all pruning at realistic embedding dims). The RESULT is identical under
    any unit directions (lossless blocking); only the join cost changes.
    Check the blocking factor BEFORE paying the join with
    :func:`grid_occupancy_report` (same grid; it also takes seeded random
    directions — the analog of ``dedup.shingle_df_report``).

    Pass ``dim=`` when known (skips a ``first()`` driver job); an empty
    input returns an empty pairs DataFrame either way. NULL embeddings
    are dropped up front: they can never pass the cosine filter, but
    left in they all share one grid cell key (``concat_ws`` skips
    NULLs), joining every null pair 3^m times for nothing. Pruning power also
    scales with the threshold: at near-dup thresholds (t >= 0.9, w <= 0.45)
    cells are narrow; at low thresholds the grid degrades gracefully toward
    all-pairs — which is the true output size anyway. ``method='exact'``
    keeps the O(n²) crossJoin as a debug baseline.

    **Grid limits and the high-dim default** — the lossless cell width is
    FORCED to ``w = sqrt(2-2t)`` while real high-dim embedding data can
    concentrate every 1-d projection tighter than ``w`` (isotropic spectra:
    per-axis spread ~sqrt(λ_j) ≈ 0.17 on the 64-dim fixture vs w = 0.45 at
    t = 0.9 — measured, BASELINE.md). When :func:`grid_occupancy_report`
    shows ``blocking_factor`` near 1 under EVERY direction choice, no
    lossless grid helps; use ``method='lsh'`` — banded sign-hyperplane LSH
    candidates (a pair collides when any band's ``LSH_PLANES_PER_BAND``
    sign bits all agree) with the SAME fused exact-cosine verification, so
    false positives are impossible and the only approximation is candidate
    recall: Pr[detect] = 1-(1-(1-θ/π)^p)^b — 0.996 at t = 0.9 and ~0.004
    per random orthogonal pair with p=8 planes per band and b=16 bands, i.e.
    ~250× candidate pruning on isotropic data. Recall is measured against
    the exact join in tests (planted near-dups), the reference recall
    contract of the MinHash path applied to embeddings.
    """
    df = df.filter(F.col(vec_col).isNotNull())
    base = df.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"))
    if method == "exact":
        a = base.select(F.col("_id").alias("id1"), F.col("_v").alias("_v1"))
        b = base.select(F.col("_id").alias("id2"), F.col("_v").alias("_v2"))
        return (
            a.crossJoin(b)
            .filter(F.col("id1") < F.col("id2"))
            .withColumn("_cos", cosine_expr(F.col("_v1"), F.col("_v2")))
            .filter(F.col("_cos") >= threshold)
            .select("id1", "id2", F.round("_cos", round_to).alias("cosine"))
        )
    id_type = df.schema[id_col].dataType.simpleString()
    empty_schema = f"id1 {id_type}, id2 {id_type}, cosine double"
    if method == "lsh":
        dim = _vector_dim(df, vec_col, dim)
        if dim is None:
            return df.sparkSession.createDataFrame([], empty_schema)
        base = _widen(base)
        # p·b sign projections per vector as ONE Arrow-batched numpy matmul
        # (n×d @ d×(p·b) per batch): expressing 128 unrolled codegen dots
        # per row blows the expression tree into the tens of thousands of
        # nodes (minutes of Janino compile — measured); the brief's ANN
        # guidance explicitly takes the vectorized-pandas-UDF path for
        # exactly this shape. Band keys are PACKED LONGS — (band << p) | bits —
        # so the join key is numeric, never a string build.
        import numpy as _np

        n_bands, ppb = LSH_BANDS, LSH_PLANES_PER_BAND
        planes_mat = _np.array(
            random_hyperplanes(dim, ppb * n_bands, LSH_SEED), dtype=_np.float64
        ).T  # d × (p·b)
        pw = _np.left_shift(1, _np.arange(ppb, dtype=_np.int64))

        @F.pandas_udf("array<long>")
        def _band_keys(vs: pd.Series) -> pd.Series:
            if len(vs) == 0:
                return pd.Series([], dtype=object)
            x = _np.stack(vs.to_numpy()).astype(_np.float64)
            bits = (x @ planes_mat >= 0).astype(_np.int64)  # n × (p·b)
            packed = bits.reshape(len(x), n_bands, ppb) @ pw  # n × b
            keys = packed | (_np.arange(n_bands, dtype=_np.int64) << ppb)
            return pd.Series(list(keys))

        keyed = base.select(
            "_id", "_v", norm_expr(F.col("_v")).alias("_n"), _band_keys("_v").alias("_keys")
        ).select("_id", "_v", "_n", F.explode_outer("_keys").alias("_k"))
        # verification fused into the band join (same shape as the grid
        # path); a pair colliding in k bands is verified k times and
        # deduped AFTER the threshold filter, so the distinct shuffles only
        # the (tiny) surviving output, never the candidate stream
        pairs = _key_pairs(keyed, keyed, ["_k"], carry=("_v", "_n"))
        return _verified_cosine(pairs, dim, threshold, round_to).distinct()
    grid = _resolve_grid(df, threshold, vec_col, dim, direction_mode="pca")
    if grid is None:
        return df.sparkSession.createDataFrame([], empty_schema)
    width, dim, dirs = grid
    # Under-partitioned input (one small parquet file → few tasks) would
    # serialize the blocking join and the per-candidate cosine verification
    # (a broadcast join inherits the probe side's partitioning). Widening
    # the thin (id, vector) rows is a negligible shuffle; large inputs
    # don't pay it (no-op when the scan already has enough splits).
    base = _widen(base)
    # Materialize the projections as their own attribute before deriving the
    # 2^m keys from them — inlining the m dot products into every key would
    # duplicate the expensive fold 2^m times in codegen (CLAUDE.md perf rule).
    # The vector and its norm ride along so verification fuses into the
    # blocking join itself — per-vector work (norms) happens here, n times,
    # never per-candidate.
    proj = base.select(
        "_id",
        "_v",
        norm_expr(F.col("_v")).alias("_n"),
        F.array(
            *[
                F.floor(cosine_expr(F.col("_v"), _lit_vec(u)) / F.lit(width)).cast("long")
                for u in dirs
            ]
        ).alias("_c"),
    )
    # Asymmetric emission makes the blocking join EXACTLY-ONCE with no
    # dedup: the left side emits only its own cell key; the right side
    # emits all 3^m neighbor-cell keys. A pair with per-axis cell distance
    # |d_j| <= 1 (the lossless adjacency condition) collides exactly once
    # per orientation — cell(a) appears exactly once in neighbors(b) — so
    # `id1 < id2` leaves one row per unordered pair and the old
    # `.distinct()` shuffle over the candidate stream (plus the 2^m-corner
    # duplicate join rows feeding it) disappears entirely.
    # verify_salt > 1 splits each HOT CELL's verification work across S
    # join keys: the left side appends pmod(xxhash64(id), S) to its cell
    # key, the right side replicates each neighbor key once per salt value.
    # Exactly-once is preserved (the right's copy with s == left's salt is
    # the unique collision), the result is identical, and a low-threshold /
    # coarse-grid run where a handful of giant cells would otherwise pin
    # the whole verification onto a handful of tasks fans back out to
    # S × #cells tasks — at the price of S× the right side's shuffle
    # volume, so size S from grid_occupancy_report (few giant cells → S up
    # to the per-task budget; fine grids don't need it).
    salt_col = (
        F.pmod(F.xxhash64(F.col("_id")), F.lit(verify_salt)) if verify_salt > 1 else None
    )
    cell_key = _cell_key(salt_col)
    neighbor_keys = _neighbor_keys(verify_salt)
    own = proj.select("_id", "_v", "_n", cell_key.alias("_k"))
    # explode_outer: keeps the projection expression above the exchange
    # (same implicit-size()>0 pushdown trap as operators/dedup.py).
    neighbors = proj.select("_id", "_v", "_n", F.explode_outer(neighbor_keys).alias("_k"))
    # ONE join does blocking AND verification: the cosine filter fuses into
    # the join condition, so the n²-ish candidate stream is generated,
    # verified, and reduced to surviving pairs inside a single stage — it is
    # never shuffled (the old cand→join(v1)→join(v2) shape re-shuffled the
    # candidate stream twice at scale just to re-attach vectors). Shuffle
    # volume is O(n·3^m·dim) input rows, independent of candidate count.
    pairs = _key_pairs(own, neighbors, ["_k"], carry=("_v", "_n"))
    return _verified_cosine(pairs, dim, threshold, round_to)


def grid_occupancy_report(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    dim: int | None = None,
    direction_mode: str = "pca",
) -> DataFrame:
    """Blocking-factor report for :func:`embedding_near_dup_pairs`' grid —
    the analog of ``dedup.shingle_df_report``: SEE the join cost before
    paying it, so silent all-pairs degradation (concentrated projections,
    too-low threshold) is visible from one cheap aggregate.

    One row: ``n_vectors``, ``n_cells``, ``max_occupancy``,
    ``avg_occupancy``, ``candidate_pairs`` (exactly the number of verified
    pairs the blocking join will generate — per-cell counts self-joined on
    the 3^m neighbor keys, cost |cells|·3^m, never touching vectors),
    ``total_pairs`` (n·(n-1)/2) and ``blocking_factor`` =
    candidate_pairs / total_pairs (1.0 = degraded to all-pairs). Uses the
    same :data:`GRID_PROJECTIONS`, directions and width resolution as the
    pairs function, so the numbers are exact for the run they predict.
    NULL embeddings are excluded, matching the pairs function."""
    df = df.filter(F.col(vec_col).isNotNull())
    grid = _resolve_grid(df, threshold, vec_col, dim, direction_mode)
    spark = df.sparkSession
    if grid is None:
        return spark.range(1).select(
            F.lit(0).alias("n_vectors"),
            F.lit(0).alias("n_cells"),
            F.lit(0).alias("max_occupancy"),
            F.lit(0.0).alias("avg_occupancy"),
            F.lit(0).alias("candidate_pairs"),
            F.lit(0).alias("total_pairs"),
            F.lit(0.0).alias("blocking_factor"),
        )
    width, dim, dirs = grid
    v = _as_double(F.col(vec_col))
    cells = (
        df.select(
            F.array(
                *[
                    F.floor(cosine_expr(v, _lit_vec(u)) / F.lit(width)).cast("long")
                    for u in dirs
                ]
            ).alias("_c")
        )
        .groupBy("_c")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    occ = cells.agg(
        F.sum("_cnt").alias("n_vectors"),
        F.count(F.lit(1)).alias("n_cells"),
        F.max("_cnt").alias("max_occupancy"),
        F.round(F.avg("_cnt"), 3).alias("avg_occupancy"),
    )
    # ordered collision count T = Σ_a Σ_{b∈N27(a)} c_a·c_b (self included);
    # the asymmetric join emits each unordered pair once → (T - n) / 2
    ka = cells.select(_cell_key().alias("_k"), F.col("_cnt").alias("_ca"))
    kb = cells.select(F.explode_outer(_neighbor_keys()).alias("_k"), F.col("_cnt").alias("_cb"))
    t = ka.join(kb, "_k").agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_t"))
    return (
        occ.crossJoin(t)
        .select(
            "n_vectors",
            "n_cells",
            "max_occupancy",
            "avg_occupancy",
            ((F.col("_t") - F.col("n_vectors")) / 2).cast("long").alias("candidate_pairs"),
            (F.col("n_vectors") * (F.col("n_vectors") - 1) / 2).cast("long").alias("total_pairs"),
            F.round(
                (F.col("_t") - F.col("n_vectors"))
                / F.greatest(F.col("n_vectors") * (F.col("n_vectors") - 1), F.lit(1)),
                6,
            ).alias("blocking_factor"),
        )
    )
