"""Corpus-level cleaning operators for web-text training pipelines.

Three families the reference's per-file profiler has no analog for, but a
100 TB pretraining pipeline runs on every crawl (task-brief extensions,
same tier as ``operators/dedup.py``):

* **Cross-corpus line dedup** (C4-style): any line occurring more than
  ``max_occurrences`` times across the ENTIRE corpus is dropped from
  every document except its first occurrence. This is the classic
  boilerplate-killer (nav bars, cookie banners, footers repeat across a
  domain); it is inherently a corpus-wide operator — a per-document rule
  cannot see the repetition.
* **Benchmark-contamination screening**: flag documents sharing any word
  n-gram with a (small, broadcastable) evaluation set — the standard
  decontamination step before pretraining.
* **URL host / registered-domain extraction + blocklist filtering**: the
  first filter every web pipeline applies, before any text is read.

:func:`clean_corpus` chains them (with normalization and the
repeated-span drop) into the corpus-clean stage that
``jobs/corpus_clean_job.py``, ``scripts/scale_step.py`` and the
``corpus_clean_end_to_end`` oracle query all run.

Scale notes (100 TB shapes):

* ``line_dedup`` is explode → hash-keyed count agg → hash join → per-doc
  regroup: three shuffles, all on bounded keys. The count agg is
  partial-aggregation (map-side combine) so hot boilerplate lines do NOT
  skew it; the join back IS probe-side-skewed on those same hot lines,
  which AQE's skew-join splitting handles (each probe row's work is
  O(1)). Lines shorter than ``min_chars`` are exempt from counting —
  they are structural ("", "-", headers) and would otherwise be the
  hottest keys in the corpus for no cleaning benefit.
* ``contamination_report`` broadcasts the eval n-gram set (eval suites
  are ~1e6 n-grams — megabytes); the corpus side is one explode + one
  broadcast probe + one per-doc count agg. No all-to-all shuffle at any
  size.
* URL expressions are pure JVM regex/array ops — whole-stage codegen,
  no UDFs, usable as pushed-down filters at the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_profiler_spark.functions.textanalysis import normalize_text_expr
from data_profiler_spark.functions.textstats import words_expr
from data_profiler_spark.operators.checkpoints import materialize

# ---------------------------------------------------------------------------
# C4-style cross-corpus line dedup
# ---------------------------------------------------------------------------

DEFAULT_LINE_MIN_CHARS = 5


def _lines(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, line) — one row per line, 0-based position. ``split``
    with its default limit keeps trailing empty lines, matching DuckDB's
    ``string_split`` so the oracle sees identical line sets. Null texts
    produce a single null line (posexplode_outer) so those docs survive
    the round trip."""
    return df.select(
        F.col(id_col),
        F.posexplode_outer(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )


def line_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = DEFAULT_LINE_MIN_CHARS,
) -> DataFrame:
    """Corpus-wide occurrence count per (countable) line.

    Returns ``(line_hash, line, n_occurrences, first_id, first_pos)``
    where *first* is the lexicographically smallest ``(id, pos)``
    occurrence — the one ``line_dedup`` keeps. Grouping key is
    ``md5(line)`` (oracle-checkable hash per CLAUDE.md); the agg is
    map-side combinable so corpus-hot boilerplate lines stay skew-safe.
    """
    lines = _lines(df, id_col, text_col)
    countable = lines.filter(F.length("line") >= min_chars)
    return countable.groupBy(F.md5(F.col("line")).alias("line_hash")).agg(
        F.min("line").alias("line"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min(F.struct(F.col(id_col).alias("id"), F.col("pos").alias("p"))).alias("_first"),
    ).select(
        "line_hash",
        "line",
        "n_occurrences",
        F.col("_first.id").alias("first_id"),
        F.col("_first.p").alias("first_pos"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occurrences: int = 1,
    min_chars: int = DEFAULT_LINE_MIN_CHARS,
) -> DataFrame:
    """Drop corpus-duplicated lines from every document (C4 §2.2 rule,
    re-expressed corpus-wide): a line with more than ``max_occurrences``
    occurrences across the corpus is kept ONLY at its first occurrence
    (smallest ``(id, pos)``) and removed everywhere else. Lines shorter
    than ``min_chars`` are always kept (structural, and exempting them
    keeps the hottest degenerate keys out of the count agg).

    Returns one row per input document:
    ``(id, clean_text, lines_kept, lines_dropped)`` — ``clean_text`` is
    the surviving lines re-joined with ``\\n`` in original order (null
    text stays null).

    Plan shape: explode → count agg (partial-agg, skew-safe) →
    materialized over-threshold counts → hash join back → per-doc
    regroup. Line text crosses the wire once per stage; the join is keyed
    on ``md5(line)`` so the build side carries no text payload. The build
    side is pre-filtered to OVER-THRESHOLD lines only (a singleton line is
    kept by definition, so ``NULL`` after the left join means keep): on
    real corpora the overwhelming majority of lines are singletons, so the
    join's build side shrinks from |distinct lines| to |duplicated lines|
    and AQE routinely broadcast-converts it.

    The filtered counts are materialized before the join (reliable
    ``checkpoint`` when the session has a checkpoint dir — the
    executor-loss-safe cluster configuration — else ``localCheckpoint``;
    see ``operators.checkpoints``). Measured finding
    (tests/test_skew_stress.py): AQE's skew-join split only matches an SMJ
    whose children are BOTH ``Sort(ShuffleQueryStage)`` — with the count
    aggregate's final HashAggregate sitting between Sort and the shuffle
    stage, the rule can't split even the PROBE side, and one boilerplate
    line at 10^12 docs pins its whole partition on one task. Materializing
    the (small, duplicates-only) counts makes both join children plain
    shuffle stages, so the hot ``md5(line)`` partitions split. On 10,000
    uniform or skewed bench pages at local[4], where the build side
    broadcasts, the materialized shape runs the same 9 stages as the plain
    join, at a median wall time within run-to-run noise (BASELINE.md).
    """
    lines = _lines(df, id_col, text_col)
    counts = (
        line_counts(df, id_col, text_col, min_chars=min_chars)
        .filter(F.col("n_occurrences") > max_occurrences)
        .select("line_hash", "first_id", "first_pos")
    )
    counts = materialize(counts)
    joined = lines.join(
        counts, F.md5(F.col("line")) == counts["line_hash"], "left"
    )
    keep = (
        F.col("line").isNull()  # null-text doc marker row
        | (F.length("line") < min_chars)
        | F.col("line_hash").isNull()  # not over-threshold ⇒ always kept
        | ((F.col("first_id") == F.col(id_col)) & (F.col("first_pos") == F.col("pos")))
    )
    marked = joined.select(
        F.col(id_col),
        "pos",
        "line",
        keep.alias("keep"),
    )
    return marked.groupBy(id_col).agg(
        F.when(
            F.count("line") > 0,
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct(F.col("pos").alias("p"), F.col("line").alias("l")))
                        )
                    ),
                    lambda x: x["l"],
                ),
            ),
        ).alias("clean_text"),
        F.sum(F.when(F.col("keep") & F.col("line").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("lines_kept"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long").alias("lines_dropped"),
    )


def line_dedup_within_doc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document line dedup: each line survives only at its FIRST
    occurrence within its own document (repeated boilerplate inside one
    page). Unlike :func:`line_dedup` this needs no corpus-wide state, so
    it is a pure narrow map — ZERO shuffles, pushdown-transparent, and
    composes into any scoring pipeline for free.

    Keep rule: line *i* kept iff it is structural (shorter than
    :data:`DEFAULT_LINE_MIN_CHARS` — blank paragraph separators, "-"
    rules, headers; the same exemption as :func:`line_dedup`, without
    which every multi-paragraph document would lose its blank separators
    and silently reflow) or ``array_position(lines, lines[i]) == i+1`` (first index
    of that exact text). ``array_position`` is O(L) per line → O(L²) per
    doc in line count — fine for real documents (hundreds of lines);
    corpus-wide repetition is the scale problem and lives in
    :func:`line_dedup`.

    Returns ``(id, clean_text, lines_kept, lines_dropped)`` — same shape
    as :func:`line_dedup`; null text stays null.
    """
    lines = F.split(F.col(text_col), "\n")
    base = df.select(F.col(id_col), lines.alias("_ls"))
    kept = F.filter(
        F.transform(F.col("_ls"), lambda x, i: F.struct(x.alias("l"), i.alias("p"))),
        lambda s: (F.length(s["l"]) < DEFAULT_LINE_MIN_CHARS)
        | (F.array_position(F.col("_ls"), s["l"]) == s["p"] + 1),
    )
    marked = base.select(
        F.col(id_col),
        kept.alias("_keep"),
        F.size("_ls").alias("_total"),
    )
    return marked.select(
        F.col(id_col),
        F.when(
            F.col("_total") >= 0,
            F.concat_ws("\n", F.transform(F.col("_keep"), lambda s: s["l"])),
        ).alias("clean_text"),
        F.when(F.col("_total") >= 0, F.size("_keep")).otherwise(F.lit(0))
        .cast("long")
        .alias("lines_kept"),
        F.when(F.col("_total") >= 0, F.col("_total") - F.size("_keep"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("lines_dropped"),
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination screening
# ---------------------------------------------------------------------------


def word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """POSITIONAL word n-grams (not distinct, unlike the dedup shingle
    sets of ``dedup._shingle_sets``, so ``total_ngrams`` is the true
    positional denominator for a contamination fraction) from a
    MATERIALIZED token-array attribute (an inline tokenization would be
    re-run once per reference). Docs with fewer
    than ``n`` tokens yield an empty array (no fallback shingle: a
    3-word doc cannot contain a 13-gram)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def eval_ngram_set(eval_df: DataFrame, text_col: str = "text", n: int = 13) -> DataFrame:
    """Distinct word n-grams of the evaluation set, as a one-column DF
    (``ngram``). Small by construction (eval suites are thousands of
    docs) — callers broadcast it."""
    toks = eval_df.select(words_expr(F.col(text_col)).alias("_tk"))
    return (
        toks.select(F.explode(word_ngrams_from_tokens(F.col("_tk"), n)).alias("ngram"))
        .distinct()
    )


def contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Per-document overlap with an evaluation set: the standard
    pre-training decontamination screen (flag-and-drop docs that leak
    benchmark text).

    Returns ``(id, total_ngrams, hits, contamination_frac,
    contaminated)`` for EVERY corpus doc (zero-hit docs included —
    posexplode_outer keeps them). ``hits`` counts positional n-gram
    occurrences that appear anywhere in the eval set.

    Plan shape: eval n-grams → distinct → **broadcast**; corpus →
    explode → broadcast left probe → per-doc count agg. One shuffle
    (the final per-doc agg, map-side combinable); the corpus never
    shuffles its n-grams.
    """
    evl = F.broadcast(eval_ngram_set(eval_df, text_col=text_col, n=n))
    toks = corpus.select(F.col(id_col), words_expr(F.col(text_col)).alias("_tk"))
    exploded = toks.select(
        F.col(id_col),
        F.posexplode_outer(word_ngrams_from_tokens(F.col("_tk"), n)).alias("_i", "ngram"),
    )
    probed = exploded.join(evl.withColumn("_hit", F.lit(1)), "ngram", "left")
    return probed.groupBy(id_col).agg(
        F.count("ngram").cast("long").alias("total_ngrams"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("hits"),
    ).select(
        F.col(id_col),
        "total_ngrams",
        "hits",
        F.round(
            F.when(F.col("total_ngrams") > 0, F.col("hits") / F.col("total_ngrams")).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("contamination_frac"),
        (F.col("hits") > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# URL host / registered domain / blocklist filter
# ---------------------------------------------------------------------------

# scheme://[userinfo@]host[:port][/...] — explicit ASCII classes so the
# JVM and RE2/DuckDB agree byte-for-byte (CLAUDE.md invariant).
_HOST_RE = "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)"

# Minimal multi-label public-suffix set — a real deployment swaps in the
# full PSL as a broadcast table; the EXPRESSION shape (suffix-aware label
# slice) is what matters here and is identical either way.
MULTI_SUFFIXES = ("co.uk", "com.au", "co.jp", "com.br", "co.in")


def url_host_expr(c: Column) -> Column:
    """Lowercased host part of a URL ('' when the URL does not parse)."""
    return F.lower(F.regexp_extract(c, _HOST_RE, 1))


def url_registered_domain_expr(c: Column) -> Column:
    """eTLD+1 under :data:`MULTI_SUFFIXES`: last two host labels, or last
    three when the last two form a listed multi-label suffix. Pure array
    ops — codegen-friendly, usable in a scan filter."""
    host = url_host_expr(c)
    labels = F.split(host, "\\.")
    nlab = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, nlab - 1, 2))
    take = F.when(
        (nlab >= 3) & last2.isin(*MULTI_SUFFIXES), F.lit(3)
    ).otherwise(F.lit(2))
    return F.when(
        nlab >= take, F.concat_ws(".", F.slice(labels, nlab - take + 1, 10))
    ).otherwise(host)


def url_filter(
    df: DataFrame,
    blocked_domains: list[str] | DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Annotate rows with ``registered_domain`` and ``url_blocked``.

    ``blocked_domains`` as a Python list (≲10k entries) becomes an
    ``isin`` literal — a pushdown-able scan filter, zero joins. A
    DataFrame blocklist (millions of domains) becomes a broadcast
    left-semi-style join instead. Callers drop with
    ``.filter(~F.col('url_blocked'))``.
    """
    dom = url_registered_domain_expr(F.col(url_col))
    out = df.withColumn("registered_domain", dom)
    if isinstance(blocked_domains, DataFrame):
        bl = F.broadcast(
            blocked_domains.toDF("registered_domain").withColumn("_blk", F.lit(1))
        )
        return (
            out.join(bl, "registered_domain", "left")
            .withColumn("url_blocked", F.col("_blk").isNotNull())
            .drop("_blk")
        )
    return out.withColumn(
        "url_blocked",
        F.col("registered_domain").isin(*blocked_domains)
        if blocked_domains
        else F.lit(False),
    )


# ---------------------------------------------------------------------------
# Cross-document repeated-span measurement
# ---------------------------------------------------------------------------

DEFAULT_SPAN_TOKENS = 15
DEFAULT_SPAN_STRIDE = 5
# winnowing materializes one md5 per token position as an in-row array
# (~32 B/token); a pathological 10M-token page would be a ~300 MB row.
# Cap the analyzed prefix — standard practice for overlap detection, and
# 50k tokens ≫ any real web page.
DEFAULT_SPAN_MAX_TOKENS = 50_000
# A span fingerprint is duplicated once this many distinct docs hold it.
SPAN_MIN_DOCS = 2


def all_span_hashes_from_tokens(toks: Column, window: int) -> Column:
    """md5 hash of EVERY ``window``-token window (n_tok - window + 1 of
    them); empty array for docs shorter than ``window``. Input must be a
    materialized token-array attribute (lambda-capture re-evaluation,
    CLAUDE.md perf rule)."""
    n = F.size(toks) - (window - 1)
    return F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, window))),
        ),
    ).otherwise(F.array().cast("array<string>"))


def winnow_fingerprints(hashes: Column, stride: int) -> Column:
    """Winnowing selection (Schleimer/Wilkerson/Aiken 2003, the MOSS
    fingerprinting scheme): from the full window-hash sequence keep the
    MINIMUM of every ``stride`` consecutive hashes, deduplicated. The
    selection is CONTENT-defined, not position-defined — two copies of
    the same span at different offsets select the same fingerprints —
    which fixed-position strided sampling cannot do (the sampled
    span-relative offsets differ by the copies' phase mod stride and
    never line up). Guarantee: a verbatim overlap spanning ≥ stride
    consecutive window hashes (i.e. ≥ window + stride - 1 tokens) shares
    at least one selected fingerprint on both sides, because the shared
    stride-run's minimum is selected in both documents. Expected density
    2/(stride+1), so ~2·n/stride fingerprints leave each doc.
    ``hashes`` must be a materialized attribute — the sliding ``slice``
    references it stride-many times."""
    n = F.size(hashes)
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.when(n <= stride, F.array(F.array_min(hashes))).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - (stride - 1)),
                    lambda j: F.array_min(F.slice(hashes, j, stride)),
                )
            )
        )
    )


def duplicated_span_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = DEFAULT_SPAN_TOKENS,
    stride: int = DEFAULT_SPAN_STRIDE,
) -> DataFrame:
    """Per-document fraction of winnowed span fingerprints that also
    occur in OTHER documents — the repeated-substring signal behind
    suffix-array dedup (RefinedWeb-style), made corpus-scalable with
    MOSS-style winnowing (:func:`winnow_fingerprints`): any verbatim
    overlap of ≥ ``window + stride - 1`` tokens is GUARANTEED to share a
    fingerprint between the documents, at an expected ~2·n/stride
    fingerprints per doc crossing the wire.

    Returns ``(id, spans, dup_spans, dup_frac)`` for every doc —
    ``spans`` = selected fingerprints (0 for docs shorter than
    ``window`` tokens). A fingerprint counts as duplicated when it
    appears in ≥ :data:`SPAN_MIN_DOCS` DISTINCT documents — within-doc
    repetition is the cheap narrow-map rule
    (``textstats.dup_2gram_fraction``), not this operator's job.

    Plan shape (the ``line_dedup`` family): tokens → window hashes →
    winnow (both materialized attributes — the selection slices
    reference them stride-many times) → explode → hash-count agg
    (map-side combinable, 32-char keys) → join back → per-doc rollup.
    The count agg is immune to hot spans (partial agg); the join back is
    probe-side skewed on boilerplate spans, which AQE skew-split handles.
    Only the first :data:`DEFAULT_SPAN_MAX_TOKENS` tokens per document
    are analyzed — the window-hash array is one md5 per token position IN
    THE ROW, so an unbounded pathological page would be a multi-hundred-MB
    row; 50k tokens exceeds any real web page and overlap detection on a
    long prefix is standard practice.
    """
    toks = df.select(
        F.col(id_col),
        F.slice(words_expr(F.col(text_col)), 1, DEFAULT_SPAN_MAX_TOKENS).alias("_tk"),
    )
    hashed = toks.select(
        F.col(id_col), all_span_hashes_from_tokens(F.col("_tk"), window).alias("_hs")
    )
    spans = hashed.select(
        F.col(id_col),
        F.explode_outer(winnow_fingerprints(F.col("_hs"), stride)).alias("_h"),
    )
    counts = (
        spans.filter(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(F.count_distinct(id_col).alias("_docs"))
    )
    per_span = spans.join(counts, "_h", "left")
    dup = F.sum(F.when(F.col("_docs") >= SPAN_MIN_DOCS, 1).otherwise(0))
    return per_span.groupBy(id_col).agg(
        F.count("_h").cast("long").alias("spans"),
        dup.cast("long").alias("dup_spans"),
        F.round(
            F.when(F.count("_h") > 0, dup / F.count("_h")).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# The corpus-clean chain
# ---------------------------------------------------------------------------


def clean_corpus(
    docs: DataFrame,
    blocked_domains: list[str] | None = None,
    eval_docs: DataFrame | None = None,
    ngram: int = 13,
    normalize: bool = False,
    span_dup_threshold: float | None = None,
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """The corpus-clean stage over ``(doc_id, text[, url, ...])`` docs.
    Stages, cheapest first; one whose argument is unset is skipped:

    1. ``blocked_domains``: :func:`url_filter` drop (``ValueError`` if
       ``docs`` has no ``url`` column, rather than keeping every row);
    2. ``eval_docs``: drop docs sharing a word ``ngram``-gram with them
       (:func:`contamination_report`);
    3. ``normalize``: ``normalize_text_expr`` on ``text``;
    4. ``span_dup_threshold``: drop docs whose
       :func:`duplicated_span_report` ``dup_frac`` meets it;
    5. :func:`line_dedup`.

    Returns ``(cleaned, cached)``: ``docs`` minus ``text`` joined to the
    line-dedup columns, and the frames stage 4 persists (empty if it is
    skipped): the docs entering it, which the span report and the
    anti-join both read, and the docs surviving it, which the line
    explode, the line counts and the final join all read. ``persist``,
    not ``localCheckpoint``, so lost blocks recompute from lineage. The
    caller unpersists them once ``cleaned`` is consumed.
    """
    if blocked_domains is not None:
        if "url" not in docs.columns:
            raise ValueError(
                f"blocked_domains needs a 'url' column; docs has {docs.columns}"
            )
        docs = url_filter(docs, blocked_domains).filter(~F.col("url_blocked")).drop(
            "url_blocked", "registered_domain"
        )
    if eval_docs is not None:
        rep = contamination_report(docs, eval_docs, n=ngram)
        docs = docs.join(
            rep.filter("contaminated").select("doc_id"), "doc_id", "left_anti"
        )
    if normalize:
        docs = docs.withColumn("text", normalize_text_expr(F.col("text")))
    cached: tuple[DataFrame, ...] = ()
    if span_dup_threshold is not None:
        spanned = docs.persist()
        rep = duplicated_span_report(spanned)
        docs = spanned.join(
            rep.filter(F.col("dup_frac") >= span_dup_threshold).select("doc_id"),
            "doc_id",
            "left_anti",
        ).persist()
        cached = (spanned, docs)
    return docs.drop("text").join(line_dedup(docs), "doc_id"), cached
