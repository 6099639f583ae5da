"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference's duplicate detection is a single-node group-by-key pass
(reference ``api/services/keys.py:222-364``); these operators generalize it
to content-level near-duplicate detection for web-scale training-data
pipelines (task brief: "dedup as first-class components").

Design for 10^12 documents:

* **Exact dedup** — one ``groupBy(sha2(text))`` shuffle; map-side partial
  aggregation bounds shuffle volume by distinct-hash count per task.
* **MinHash+LSH** — shingle → minhash signature (narrow map, no shuffle)
  → band keys → bucket self-join (shuffle on band key, cardinality ≈
  num_bands × docs) → candidate pairs → exact-Jaccard verification on the
  candidates only. Cost is O(docs × bands + candidate_pairs), never
  O(docs²).
* **SimHash** — banded Hamming join. With the 64-bit signature split into
  ``SIMHASH_PAIR_BANDS`` equal slices, any pair with Hamming distance <
  that band count shares at least one identical slice (pigeonhole), so the
  banded join is **lossless** for ``max_hamming <= bands - 1`` — exact
  result, join-shaped cost.
* **n-gram Jaccard (exact all-pairs)** — inverted-index join on shingle
  (explode → self-join → distinct pairs → verify). Exact for any
  threshold > 0 since J(a,b) > 0 requires a shared shingle. At web scale,
  drop ultra-frequent shingles first (document-frequency cap) — that keeps
  exactness for thresholds above the dropped mass and collapses the join
  fan-out; here the fixture is small enough to keep all shingles.

Hashing: MinHash permutations default to ``md5`` of a salted shingle, kept
as the first 16 **hex characters** — lexicographic order on fixed-length hex
equals numeric order, so ``array_min`` over hex strings is a valid minhash
and the same computation is expressible in any ANSI engine (the DuckDB
oracle runs the identical scheme). ``hash_fn="xxhash64"`` switches to
numeric 64-bit minhashes — the production configuration (cheaper per
shingle, JVM-native, not oracle-expressible; candidate quality is the same
S-curve, verified in tests against the exact join). :func:`simhash_pairs`
hashes tokens with xxhash64 (bit *i* of a token's signature vote is bit *i*
of its hash); md5 appears in SimHash only for the oracle-checked 16-bit
signature (:func:`simhash_from_hashes`), where bit *i* is the high bit of
hex char *i* of the token's md5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from data_profiler_spark.functions.textstats import words_expr
from data_profiler_spark.operators.checkpoints import materialize

DEFAULT_NUM_PERM = 16
DEFAULT_ROWS_PER_BAND = 2
DEFAULT_SHINGLE = 3


def _widen(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the input arrives
    under-partitioned (e.g. one small parquet file → one partition, which
    would serialize the whole shingle/minhash computation onto one task).
    No-op when the scan already has enough splits — large inputs never pay
    an extra shuffle here.

    The split estimate prefers driver-side file metadata
    (``inputFiles()`` + local file sizes / 128 MB split budget) over
    ``df.rdd.getNumPartitions()`` — the RDD conversion builds the whole
    physical plan per call and pins it pre-AQE (round-2 nit); the metadata
    path is a pure catalog lookup. It is only trusted when the LOGICAL
    plan cannot have shrunk the scan's partitioning (an explicit
    ``coalesce(1)``/``repartition(2)``/``limit`` below the caller would
    make file counts overstate parallelism and skip the widening this
    function exists for); such plans — and non-local / non-file ones —
    fall back to the RDD check unchanged."""
    target = df.sparkSession.sparkContext.defaultParallelism
    splits: int | None = None
    try:
        files = df.inputFiles()
        lp = df._jdf.queryExecution().logical().toString()
        if "Repartition" in lp or "GlobalLimit" in lp:
            files = []
    except Exception:
        files = []
    if files and all(f.startswith("file:") for f in files):
        import os
        from urllib.parse import unquote, urlparse

        try:
            split_budget = 128 * 1024 * 1024  # default spark.sql.files.maxPartitionBytes
            sizes = [os.path.getsize(unquote(urlparse(f).path)) for f in files]
            splits = sum(max(1, -(-s // split_budget)) for s in sizes)
        except OSError:
            splits = None
    if splits is None:
        splits = df.rdd.getNumPartitions()
    if splits < target:
        return df.repartition(target)
    return df


def shingles_from_tokens(toks: Column, n: int = DEFAULT_SHINGLE) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED token-array
    attribute; docs shorter than n words fall back to one whole-text
    shingle (so short docs still dedup exactly). Pass an attribute, not
    an inline tokenization — this expression references the array ~4
    times (sizes, slice lambda, fallback) and codegen re-evaluates
    inline subtrees per reference (measured 5.4× at sf0.1)."""
    ngrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, ngrams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def _minhash_one(sh: Column, perm: int, hash_fn: str = "md5") -> Column:
    """One permutation: min over salted hashes of the shingles.

    ``md5``: 16-hex-char prefixes (lexicographic == numeric for
    fixed-length hex) — expressible in any ANSI engine, so the DuckDB
    oracle can run the identical scheme. ``xxhash64``: numeric 64-bit
    minhash — the production configuration (measured ~3-4× cheaper per
    shingle than md5), JVM-only."""
    if hash_fn == "xxhash64":
        return F.array_min(F.transform(sh, lambda x: F.xxhash64(F.lit(f"p{perm}:"), x)))
    return F.array_min(
        F.transform(sh, lambda x: F.substring(F.md5(F.concat(F.lit(f"p{perm}:"), x)), 1, 16))
    )


def minhash_signature_expr(
    sh: Column, num_perm: int = DEFAULT_NUM_PERM, hash_fn: str = "md5"
) -> Column:
    """Array of ``num_perm`` minhash values (hex strings for ``md5``,
    longs for ``xxhash64``) for a shingle set."""
    return F.array(*[_minhash_one(sh, p, hash_fn) for p in range(num_perm)])


def lsh_band_keys_expr(sig: Column, num_perm: int, rows_per_band: int) -> Column:
    """Band keys: md5 of each ``rows_per_band``-slice of the signature
    (stringified — works for hex and numeric signatures alike; cost is
    per-document, not per-shingle). Pr[band match] = J^rows_per_band per
    band."""
    bands = num_perm // rows_per_band
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.slice(sig, b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                )
            )
            for b in range(bands)
        ]
    )


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, shingle: int) -> DataFrame:
    toks = _widen(df).select(
        F.col(id_col).alias("_id"), words_expr(F.col(text_col)).alias("_tk")
    )
    return toks.select("_id", shingles_from_tokens(F.col("_tk"), shingle).alias("_sh"))


def _verify_pairs(cand: DataFrame, sets: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Join candidate (id1, id2) pairs back to shingle sets and keep exact
    Jaccard >= threshold. Both joins shuffle on the id — at scale sets is
    the big side and candidates the small one; AQE broadcasts candidates."""
    s1 = sets.select(F.col("_id").alias("id1"), F.col("_sh").alias("_sh1"))
    s2 = sets.select(F.col("_id").alias("id2"), F.col("_sh").alias("_sh2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("jaccard", jaccard_expr(F.col("_sh1"), F.col("_sh2")))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))
    )


DEFAULT_MAX_BAND_DF = 10_000


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    shingle: int = DEFAULT_SHINGLE,
    threshold: float = 0.8,
    union_exact_candidates: bool = False,
    hash_fn: str = "md5",
    max_band_df: int | None = DEFAULT_MAX_BAND_DF,
) -> DataFrame:
    """Near-duplicate pairs via MinHash+LSH, verified with exact Jaccard.

    Returns (id1, id2, jaccard) with id1 < id2. Candidate generation is
    probabilistic (Pr[detect] = 1-(1-J^r)^b), verification exact — false
    positives are impossible, false negatives exponentially unlikely above
    the (r, b) S-curve threshold.

    ``union_exact_candidates=True`` unions the LSH band candidates with the
    exact inverted-index candidates (shared-shingle pairs) before the
    verification join, making the RESULT deterministic and exactly equal to
    the brute-force threshold join — the LSH path is still fully exercised,
    but a correctness gate comparing against an exact oracle can't flap on
    the ~(1-J^r)^b per-pair miss probability. Costs one extra self-join at
    fixture scale; leave off at web scale where the S-curve miss rate is
    the accepted contract.

    ``max_band_df`` is the hot-band guardrail (ON by default, mirroring
    ``ngram_jaccard_pairs``'s ``max_shingle_df``): a corpus with massive
    exact-duplicate families — the realistic CommonCrawl shape whenever
    ``exact_dedup`` was skipped — puts the whole family into the SAME
    bucket of EVERY band, and the pairwise band self-join detonates at
    O(family²) per band. A (band_id, key) bucket holding more than
    ``max_band_df`` docs is therefore routed through exact_dedup-style
    STAR grouping instead of pairwise expansion: the bucket's min-id doc
    becomes the representative and only (rep, member) edges are emitted —
    O(family), connectivity-preserving (downstream
    ``near_dup_components`` / keep-list results are identical for true
    duplicate families, where every star edge verifies at jaccard 1.0).
    The honest contract change: within a CAPPED bucket, member↔member
    pairs are not individually emitted, and a member whose similarity to
    the REPRESENTATIVE is below ``threshold`` loses its (probabilistic)
    candidacy from that bucket — the standard production LSH tradeoff.
    Size the exposure before paying for the join with
    :func:`band_df_report` (``hot_buckets == 0`` ⇒ the capped run is
    exactly the uncapped result). Pass ``None`` to disable.

    Cost shape with the cap on: the hot-bucket agg is a SECOND consumer
    of the band stream (the self-join's a/b exchanges canonicalize and
    reuse, so they count as one), which would re-run the dominant
    shingle→minhash computation over the full text. To avoid that, the
    per-doc ``bands`` projection (num_perm longs + band keys, ~hundreds
    of bytes/doc vs the ~KB text it derives from) is materialized via
    :func:`~data_profiler_spark.operators.checkpoints.materialize` (lazy
    ``localCheckpoint``, or a reliable ``checkpoint`` when the session has
    a checkpoint dir — executor-loss-safe on clusters) so every consumer
    reads it instead of recomputing. The uncapped path has a single
    consumer chain and skips the checkpoint entirely.

    **The default guard is lazy** — plan construction runs NO Spark job
    (``explain()``/plan inspection stays free; building the DataFrame
    without executing it costs nothing): the hot-bucket list is computed
    in-plan and LEFT-joined onto the band stream with no broadcast hint,
    so AQE's runtime statistics decide broadcast-vs-shuffle for the
    data-dependent build side (zero hot buckets ⇒ an empty build side
    that AQE broadcast-converts, every row unmarked, result identical to
    skipping the join).
    """
    sets = _shingle_sets(df, id_col, text_col, shingle)
    # Two-step projection (shingles → signature → bands) so each band key
    # references the signature ATTRIBUTE, not a copy of its expression:
    # inlining the 16-perm signature into all 8 band keys would blow the
    # expression tree up ~128× (whole-stage codegen compile measured in
    # tens of seconds). CollapseProject keeps multi-referenced expensive
    # aliases materialized, so these stay separate projections.
    sig = sets.select(
        "_id", minhash_signature_expr(F.col("_sh"), num_perm, hash_fn).alias("_sig")
    )
    bands = sig.select(
        "_id", lsh_band_keys_expr(F.col("_sig"), num_perm, rows_per_band).alias("_bands")
    )
    # posexplode_OUTER: plain posexplode adds an implicit `size(_bands) > 0`
    # filter whose predicate embeds the ENTIRE minhash expression; predicate
    # pushdown then drags that below the repartition exchange and evaluates
    # it on the raw (possibly single-partition) scan — serializing the whole
    # signature computation. The bands array is a literal-width F.array, so
    # the outer variant is semantically identical and keeps the heavy
    # expression above the exchange.
    if max_band_df is not None:
        # Two consumers below (guard agg + self-join) — materialize the
        # small per-doc band projection so neither re-runs the minhash.
        bands = materialize(bands)
    melted = bands.select("_id", F.posexplode_outer("_bands").alias("band_id", "key"))
    star = None
    if max_band_df is not None:
        # Hot-bucket split. The bucket-size agg is count-shaped and
        # map-side combinable (partial agg collapses each hot bucket to
        # one row per input partition before the shuffle). Excising hot
        # buckets happens BEFORE the join exchange ever hashes on
        # (band_id, key), which is what keeps the self-join skew-free (a
        # window/count-over-partition alternative would shuffle the hot
        # bucket onto one task — exactly the pathology being defused).
        freq = melted.groupBy("band_id", "key").agg(
            F.count(F.lit(1)).alias("_bdf"), F.min("_id").alias("_rep")
        )
        hot = freq.filter(F.col("_bdf") > max_band_df).select("band_id", "key", "_rep")
        # lazy guard (see docstring): no broadcast hint, AQE decides
        marked = melted.join(hot, ["band_id", "key"], "left")
        star = (
            marked.filter(F.col("_rep").isNotNull() & (F.col("_id") != F.col("_rep")))
            # _rep is the bucket min ⇒ id1 < id2 holds by construction
            .select(F.col("_rep").alias("id1"), F.col("_id").alias("id2"))
        )
        melted = marked.filter(F.col("_rep").isNull()).select("_id", "band_id", "key")
    a = melted.select(F.col("_id").alias("id1"), "band_id", "key")
    b = melted.select(F.col("_id").alias("id2"), "band_id", "key")
    cand = a.join(b, ["band_id", "key"]).filter(F.col("id1") < F.col("id2")).select("id1", "id2")
    if star is not None:
        cand = cand.unionByName(star)
    cand = cand.distinct()
    if union_exact_candidates:
        inv = sets.select("_id", F.explode_outer("_sh").alias("shingle")).filter(
            F.col("shingle").isNotNull()
        )
        ia = inv.select(F.col("_id").alias("id1"), "shingle")
        ib = inv.select(F.col("_id").alias("id2"), "shingle")
        exact_cand = (
            ia.join(ib, "shingle").filter(F.col("id1") < F.col("id2")).select("id1", "id2")
        )
        cand = cand.unionByName(exact_cand).distinct()
    return _verify_pairs(cand, sets, id_col, threshold)


def band_df_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    shingle: int = DEFAULT_SHINGLE,
    max_band_df: int | None = DEFAULT_MAX_BAND_DF,
    hash_fn: str = "md5",
) -> DataFrame:
    """Bucket-occupancy report for the ``max_band_df`` guardrail: one row
    quantifying the LSH band self-join BEFORE you pay for it —
    ``uncapped_candidates`` (Σ per-bucket C(df,2), what the pairwise join
    would generate) vs ``capped_candidates`` (hot buckets contribute df-1
    star edges instead). ``hot_buckets == 0`` certifies a capped
    :func:`minhash_lsh_pairs` run identical to the uncapped one; a large
    uncapped/capped ratio is the duplicate-family detonation the cap
    defuses. Same one-cheap-agg shape as :func:`shingle_df_report` /
    ``similarity.grid_occupancy_report``.
    """
    sets = _shingle_sets(df, id_col, text_col, shingle)
    sig = sets.select(
        "_id", minhash_signature_expr(F.col("_sh"), num_perm, hash_fn).alias("_sig")
    )
    bands = sig.select(
        "_id", lsh_band_keys_expr(F.col("_sig"), num_perm, rows_per_band).alias("_bands")
    )
    melted = bands.select("_id", F.posexplode_outer("_bands").alias("band_id", "key"))
    freq = melted.groupBy("band_id", "key").agg(F.count(F.lit(1)).alias("bdf"))
    # C(df,2) is carried in decimal(38,0), not long: one 10^10-doc duplicate
    # family gives ~5e19 uncapped candidates > 2^63 — the exact detonation
    # case the report exists to expose would overflow (ANSI exception, or a
    # silent negative with ANSI off). Decimal keeps the count exact to
    # 10^38; the product is even so the /2 is exact integer division.
    cap = F.lit(max_band_df if max_band_df is not None else 2**62)
    bdf_dec = F.col("bdf").cast("decimal(38,0)")
    pairwise = (bdf_dec * (bdf_dec - F.lit(1)) / F.lit(2)).cast("decimal(38,0)")
    return freq.agg(
        F.count(F.lit(1)).alias("total_buckets"),
        F.sum((F.col("bdf") > cap).cast("long")).alias("hot_buckets"),
        F.max("bdf").alias("max_bucket_docs"),
        F.sum(pairwise).cast("decimal(38,0)").alias("uncapped_candidates"),
        F.sum(F.when(F.col("bdf") > cap, bdf_dec - F.lit(1)).otherwise(pairwise))
        .cast("decimal(38,0)")
        .alias("capped_candidates"),
    )


DEFAULT_MAX_SHINGLE_DF = 10_000


def shingle_df_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = DEFAULT_SHINGLE,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Dropped-shingle-mass report for the ``max_shingle_df`` cap: one row
    with total/dropped shingle counts and the (shingle, id) posting mass the
    cap removes from candidate generation. Makes the exactness bound of a
    capped :func:`ngram_jaccard_pairs` run explicit — a pair is missed only
    if EVERY shared shingle is above the cap, so ``dropped_shingles == 0``
    certifies the capped run exact."""
    sets = _shingle_sets(df, id_col, text_col, shingle)
    inv = sets.select("_id", F.explode_outer("_sh").alias("shingle")).filter(
        F.col("shingle").isNotNull()
    )
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    cap = F.lit(max_shingle_df if max_shingle_df is not None else 2**62)
    return freq.agg(
        F.count(F.lit(1)).alias("total_shingles"),
        F.sum((F.col("df") > cap).cast("long")).alias("dropped_shingles"),
        F.sum(F.when(F.col("df") > cap, F.col("df")).otherwise(F.lit(0))).alias(
            "dropped_posting_mass"
        ),
        F.sum("df").alias("total_posting_mass"),
        F.max("df").alias("max_df"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = DEFAULT_SHINGLE,
    threshold: float = 0.8,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard join via inverted index on shingle.

    Without a cap the whole computation is count-shaped — no shingle arrays
    ever cross a shuffle: the pair-wise shared-shingle count comes straight
    from ``groupBy(id1, id2).count()`` over the inverted-index self-join,
    and ``J = shared / (|A| + |B| - shared)`` needs only the two set sizes
    (a tiny broadcast-sized side table). This is the at-scale shape: shuffle
    volume is (shingle, id) pairs + candidate pairs, never documents.

    ``max_shingle_df`` (document-frequency cap) is the web-scale guardrail
    and is ON by default (``DEFAULT_MAX_SHINGLE_DF``): the inverted-index
    self-join is quadratic in per-shingle document frequency, so one
    boilerplate shingle ("all rights reserved …") at 10^12 docs would
    otherwise detonate the join. A shingle above the cap is dropped from
    CANDIDATE GENERATION only; the hot shingles' contribution to each
    candidate's intersection is recovered exactly with candidate-keyed
    joins against the dropped postings (per-doc hot shingles are few, so
    that is linear in candidates) — the capped path is count-shaped
    end-to-end and a qualifying pair is missed only if every one of its
    shared shingles is ultra-frequent. Quantify that bound with
    :func:`shingle_df_report` (``dropped_shingles == 0`` ⇒ the capped run
    is exactly the uncapped result). Pass ``None`` to force the uncapped
    single-self-join path.
    """
    sets = _shingle_sets(df, id_col, text_col, shingle)
    # explode_outer + null-filter: see the posexplode_outer note in
    # minhash_lsh_pairs — plain explode's implicit size()>0 filter would
    # push the whole shingle expression below the repartition exchange.
    inv = sets.select("_id", F.explode_outer("_sh").alias("shingle")).filter(
        F.col("shingle").isNotNull()
    )
    sizes = sets.select("_id", F.size("_sh").alias("_sz"))
    s1 = sizes.select(F.col("_id").alias("id1"), F.col("_sz").alias("_sz1"))
    s2 = sizes.select(F.col("_id").alias("id2"), F.col("_sz").alias("_sz2"))

    def _from_shared(shared: DataFrame) -> DataFrame:
        return (
            shared.join(s1, "id1")
            .join(s2, "id2")
            .withColumn(
                "jaccard", F.col("_shared") / (F.col("_sz1") + F.col("_sz2") - F.col("_shared"))
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))
        )

    if max_shingle_df is not None:
        # Count-shaped even WITH the cap: candidate generation self-joins
        # only the pruned (rare-shingle) postings; the dropped (hot-shingle)
        # share of each candidate's intersection is then recovered with two
        # candidate-keyed joins against the dropped postings — per-doc hot
        # shingles are few by definition, so this is linear in candidates,
        # and NO shingle array ever crosses a shuffle. Exactness bound
        # unchanged: only pairs whose EVERY shared shingle is hot are missed
        # (quantify with shingle_df_report).
        freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        kept = inv.join(freq.filter(F.col("df") <= max_shingle_df).select("shingle"), "shingle")
        dropped = inv.join(freq.filter(F.col("df") > max_shingle_df).select("shingle"), "shingle")
        a = kept.select(F.col("_id").alias("id1"), "shingle")
        b = kept.select(F.col("_id").alias("id2"), "shingle")
        shared_kept = (
            a.join(b, "shingle")
            .filter(F.col("id1") < F.col("id2"))
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("_shared_kept"))
        )
        d1 = dropped.select(F.col("_id").alias("id1"), "shingle")
        d2 = dropped.select(F.col("_id").alias("id2"), "shingle")
        shared_dropped = (
            shared_kept.select("id1", "id2")
            .join(d1, "id1")
            .join(d2, ["id2", "shingle"])
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("_shared_dropped"))
        )
        shared = shared_kept.join(shared_dropped, ["id1", "id2"], "left").select(
            "id1",
            "id2",
            (F.col("_shared_kept") + F.coalesce(F.col("_shared_dropped"), F.lit(0))).alias(
                "_shared"
            ),
        )
        return _from_shared(shared)
    a = inv.select(F.col("_id").alias("id1"), "shingle")
    b = inv.select(F.col("_id").alias("id2"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    return _from_shared(shared)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 16
_HI_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash_from_hashes(hx: Column, n: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash as a ``bits``-char '0'/'1' string from a MATERIALIZED array
    of md5-hex token hashes (``transform(toks, md5)`` aliased in a prior
    projection) and the token count: bit *i* = majority vote over tokens
    of the high bit of hex char *i*. Hashing runs once per token instead
    of once per (token, bit). This md5-string form exists for the
    oracle-checked ``simhash_signatures`` query; :func:`simhash_pairs`
    uses the packed xxhash64 signature."""
    votes = [
        F.size(F.filter(hx, lambda h: F.substring(h, i + 1, 1).isin(*_HI_HEX)))
        for i in range(bits)
    ]
    return F.concat(*[F.when(v * 2 > n, F.lit("1")).otherwise(F.lit("0")) for v in votes])


SIMHASH_PAIR_BITS = 64
SIMHASH_PAIR_BANDS = 8


def simhash64_from_tokens(toks: Column, bits: int = SIMHASH_PAIR_BITS) -> Column:
    """Packed simhash as ONE long: bit *i* = majority vote over tokens of
    bit *i* of ``xxhash64(token)`` — 64 independent vote bits from a single
    JVM-native hash per token (no md5, no strings).

    NOTE: the ``transform(toks, xxhash64)`` subtree is duplicated per
    vote bit here and codegen does NOT eliminate it (measured 2.4× at
    sf0.1). Plan-building call sites (``simhash_pairs``) materialize the
    hash array as its own projection and call
    :func:`simhash64_from_hashes`; this form stays for single-expression
    contexts and tests."""
    return simhash64_from_hashes(
        F.transform(toks, lambda t: F.xxhash64(t)), F.size(toks), bits
    )


def simhash64_from_hashes(hs: Column, n: Column, bits: int = SIMHASH_PAIR_BITS) -> Column:
    """Packed 64-bit simhash from a MATERIALIZED ``array<long>`` of
    xxhash64 token hashes and the token count — hashing runs once per
    token, the 64 vote filters reference the array attribute."""
    assert bits <= 64
    sig = F.lit(0).cast("long")
    for i in range(bits):
        vote = F.size(
            F.filter(hs, lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1)
        )
        sig = sig.bitwiseOR(
            F.when(vote * 2 > n, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with simhash Hamming distance <= max_hamming.

    Banded join: ``SIMHASH_PAIR_BANDS`` equal slices of the signature; a
    pair within ``max_hamming <= bands - 1`` differing bits must agree on
    >= 1 whole slice (pigeonhole) — candidate generation is LOSSLESS, so
    the result equals the brute-force O(n^2) scan at join cost.

    Signatures are 64-bit packed longs (:func:`simhash64_from_hashes`
    over xxhash64 token hashes), 8 bands of 8 bits — each band key ranges
    over 2^8 values so a corpus of n docs self-joins ~n²/(2·2^8) per band
    WHEN signatures are uniform, vs the ~n²/64 joined rows at ANY corpus
    size that 4-bit band keys (16 values) would give. Band keys and the
    Hamming verdict are pure long arithmetic (``shiftright``/``bit_count``),
    no strings."""
    bands = SIMHASH_PAIR_BANDS
    assert max_hamming <= bands - 1, "banded join only lossless for max_hamming <= bands-1"
    width = SIMHASH_PAIR_BITS // bands
    toks = (
        _widen(df)
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(words_expr(F.col(text_col))).alias("_toks"),
        )
    )
    # materialize the token-hash array: the 64 vote filters otherwise
    # each re-hash every token (no codegen CSE; measured 2.4×)
    hashed = toks.select(
        "_id",
        F.transform("_toks", lambda t: F.xxhash64(t)).alias("_hs"),
        F.size("_toks").alias("_n"),
    )
    sh = hashed.select("_id", simhash64_from_hashes(F.col("_hs"), F.col("_n")).alias("_sim"))
    mask = F.lit((1 << width) - 1)
    band_cols = F.array(
        *[
            F.shiftright(F.col("_sim"), b * width)
            .bitwiseAND(mask)
            .bitwiseOR(F.lit((b + 1) << width))
            for b in range(bands)
        ]
    )
    hamming = F.bit_count(F.col("_s1").bitwiseXOR(F.col("_s2")))
    # explode_outer: see minhash_lsh_pairs — avoids the implicit size()>0
    # pushdown filter that would serialize simhash computation at the scan.
    melted = sh.select("_id", "_sim", F.explode_outer(band_cols).alias("key"))
    a = melted.select(F.col("_id").alias("id1"), F.col("_sim").alias("_s1"), "key")
    b = melted.select(F.col("_id").alias("id2"), F.col("_sim").alias("_s2"), "key")
    return (
        a.join(b, "key")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# Near-dup components (pair graph → clusters → keep list)
# --------------------------------------------------------------------------

def near_dup_components(
    pairs: DataFrame, max_iter: int = 50, method: str = "star"
) -> DataFrame:
    """Connected components over a near-dup pair graph: (doc_id, group_id)
    for every id that appears in >= 1 pair, with ``group_id`` = the min id
    of its component — the step between pair generation
    (:func:`minhash_lsh_pairs` etc.) and "keep one representative per
    cluster" that an at-scale dedup pipeline actually executes.

    Engine: alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each round
    re-points every vertex's strictly-larger neighbors (large-star) then
    its smaller-or-equal neighbors (small-star) at the neighborhood
    minimum — two groupBy-min + join rounds over the EDGE set, provably
    O(log n) rounds on ANY graph. ``method`` accepts only ``"star"``.

    A (count, checksum) of the edge set, observed on the round's
    materializing job, detects convergence (inherent to any fixed-point
    loop), so a round runs one job. Each round's state is materialized
    (reliable ``checkpoint`` when a checkpoint dir is configured, else
    ``localCheckpoint`` — see ``operators.checkpoints``) so the plan
    doesn't grow with iterations. Skewed keys (a giant component
    concentrates its root's key) are absorbed by AQE skew-join splitting
    (on in session.py).
    """
    if method != "star":
        raise ValueError(f"near_dup_components: unknown method {method!r} (only 'star')")
    labels, _ = _star_components_with_rounds(pairs, max_iter)
    return labels


def _star_components_with_rounds(
    pairs: DataFrame, max_iter: int = 50
) -> tuple[DataFrame, int]:
    """(components, rounds-to-converge) for the large-star/small-star
    engine — see :func:`near_dup_components`.

    Edge invariant: the working set holds directed edges (u, v) with
    u > v (child → smaller parent). large-star(n): every neighbor x > n
    re-points to m = min(neighborhood(n) ∪ {n}); small-star(n): every
    neighbor x ≤ n (and n itself) re-points to m. Both emits preserve
    u > v, keep connectivity, and strictly shrink the potential function
    Σ dist-to-root, reaching the star fixed point (every u directly on
    its component min) in O(log n) rounds. Convergence = (count, xxhash
    checksum) of the edge set unchanged, observed on the job that
    materializes the round.
    """
    def _materialize(e: DataFrame) -> tuple[DataFrame, tuple]:
        # The (count, checksum) rides the materializing job as an
        # observation: one job per round instead of a second agg job.
        # bit_xor, not sum: a set checksum that can't hit ANSI-mode long
        # overflow (edges are distinct, so xor is order- and dup-free).
        obs = Observation()
        out = materialize(
            e.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("h"),
            ),
            eager=True,
        )
        try:
            r = obs.get
        except Exception:
            # AQE can replace an empty edge set with an empty LocalRelation;
            # CollectMetrics then never runs and the observation comes back
            # schemaless (toPyRow asserts). Confirm the emptiness from the
            # materialized rows; (0, None) is what the agg gives on none.
            if not out.isEmpty():
                raise
            return out, (0, None)
        return out, (r["n"], r["h"])

    def _large_star(e: DataFrame) -> DataFrame:
        bid = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bid.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            bid.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # edges already oriented u > v, so neighborhood(u) here is exactly
        # the smaller-or-equal neighbors the operator re-points
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        j = e.join(mins, "u")
        repointed = j.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edge = mins.select(F.col("u"), F.col("m").alias("v"))
        return repointed.unionByName(self_edge).distinct()

    edges, sig = _materialize(
        pairs.select(
            F.greatest("id1", "id2").alias("u"), F.least("id1", "id2").alias("v")
        ).distinct()
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        edges, new_sig = _materialize(_small_star(_large_star(edges)))
        if new_sig == sig:
            break
        sig = new_sig
    # star fixed point: every u points straight at its component min; the
    # roots label themselves. The groupBy-min (a no-op at the fixed point,
    # where each u has exactly one parent) guards the one-row-per-doc_id
    # contract if max_iter exhausted before convergence — a non-star edge
    # set would otherwise fan vertices with several parents into several
    # conflicting rows, breaking dedup_keep_ids downstream.
    verts = pairs.select(F.col("id1").alias("doc_id")).unionByName(
        pairs.select(F.col("id2").alias("doc_id"))
    ).distinct()
    parents = edges.groupBy(F.col("u").alias("doc_id")).agg(F.min("v").alias("_p"))
    return (
        verts.join(parents, "doc_id", "left").select(
            "doc_id", F.coalesce(F.col("_p"), F.col("doc_id")).alias("group_id")
        ),
        rounds,
    )


def dedup_keep_ids(ids: DataFrame, components: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep list: every id minus non-representative near-dup members (the
    component's min id survives). One left-anti join against the (small)
    drop set — ids outside any component are untouched."""
    drops = components.filter(F.col("doc_id") != F.col("group_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return ids.select(id_col).join(drops, id_col, "left_anti")


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: keep the min-id representative per sha256(text).
    One shuffle on the 256-bit content hash; hash-grouping never compares
    full documents twice (reference A20 semantics, content-hash key)."""
    h = F.sha2(F.col(text_col).cast("string"), 256)
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min(id_col).alias("kept_id"), F.count(F.lit(1)).alias("group_size"))
        .select("kept_id", "group_size")
    )


def corpus_content_hashes(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct sha256(text) of an existing corpus — the (tiny-per-row,
    32-byte) hash table an incremental ingest anti-joins against. At
    deployment this is a MAINTAINED table (written bucketed / Iceberg
    bloom-filtered on ``content_hash``), appended after every accepted
    batch, so each new crawl joins against hashes without rescanning
    100 TB of text — only the hash column is read (column pruning) even
    when derived from the full corpus directly.

    Hash choice: sha256, matching :func:`exact_dedup` (the same content
    identity across one-shot and incremental dedup). This deviates from
    the CLAUDE.md md5 default deliberately — that rule exists for hash-
    ORDER arithmetic (lexicographic = numeric prefix tricks); a persisted
    corpus-wide content-identity table wants the collision margin of 256
    bits, and both engines ship sha256, so the oracle still runs."""
    return (
        corpus.select(F.sha2(F.col(text_col).cast("string"), 256).alias("content_hash"))
        .distinct()
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_is_hashes: bool = False,
) -> DataFrame:
    """Incremental exact dedup: the rows of ``new_df`` (this crawl) that
    survive against an EXISTING corpus — the recurring-ingest shape of
    :func:`exact_dedup` (a fresh crawl is 1-5% new content; re-dedup-ing
    the union from scratch would rescan the whole corpus every cycle).

    Two stages, one content-hash shuffle each side:

    1. **Within-batch keep-first** — ``row_number`` over
       ``(hash, order by id)`` keeps the min-id copy of content repeated
       INSIDE the new batch (the window's exchange doubles as the join
       exchange below — the new side shuffles once).
    2. **Anti join vs corpus hashes** — drop content the corpus already
       holds. ``corpus_is_hashes=True`` takes a precomputed
       ``content_hash`` table (:func:`corpus_content_hashes` — the
       maintained-table deployment shape); otherwise hashes are derived
       on the fly with only (text) read from the corpus scan.

    Returns the surviving rows of ``new_df``, all original columns plus
    ``content_hash`` (callers append exactly this column to the
    maintained hash table after accepting the batch — lineage-complete).
    Null texts hash to a NULL content_hash; the within-batch window
    groups them (NULL is a window partition value) and the anti join is
    NULL-SAFE (``<=>``), so a corpus that already holds a null-text doc
    rejects new ones — without the null-safe condition a null key never
    matches and one null-text doc would slip through on EVERY crawl
    cycle. The oracle mirrors this with ``IS NOT DISTINCT FROM``.
    """
    hashes = (
        corpus.select(F.col("content_hash"))
        if corpus_is_hashes
        else corpus_content_hashes(corpus, text_col)
    ).alias("_corpus")
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    batch = (
        new_df.withColumn(
            "content_hash", F.sha2(F.col(text_col).cast("string"), 256)
        )
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
        .alias("_batch")
    )
    cond = F.col("_batch.content_hash").eqNullSafe(F.col("_corpus.content_hash"))
    return batch.join(hashes, cond, "left_anti")
