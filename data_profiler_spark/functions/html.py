"""HTML → text extraction as pure JVM expressions.

The input table (BASELINE.json ``input_hint``) carries BOTH ``html:binary``
and ``text:string``; the per-row invariant vs the reference is
*byte-identical extracted text per url*. This module makes that invariant
executable: a deterministic, engine-agnostic extraction chain that recovers
``text`` from ``html`` byte-for-byte on well-formed pages, plus a report
operator that measures the invariant corpus-wide.

Design constraints (CLAUDE.md invariants):

* **No UDFs** — the whole chain is ``decode``/``regexp_replace``/``replace``
  built-ins, so it rides whole-stage codegen and is expressible 1:1 in
  ANSI SQL for the DuckDB oracle (``__spark_entry__.oracle_sql()['html_extract_roundtrip']``).
* **Java-regex ↔ RE2 parity** — patterns use explicit ASCII classes,
  inline ``(?is)`` flags, and non-greedy ``.*?`` only, all of which the
  JVM and RE2 interpret identically; entity decoding uses literal
  ``replace`` (no regex at all).
* **Whitespace is never touched** — extraction strips markup but must not
  reflow the document, or byte-identity (and every downstream offset-based
  check: PII scrub spans, UTF-8 byte offsets) silently breaks.

Reference parity note: the reference profiles CSVs and has no HTML path;
this operator exists for the north-rule input shape (Common-Crawl-style
pages), the same tier as ``operators/corpus.py``.

Scale: one narrow map — zero shuffles, zero Python. At 100 TB the chain
runs inside the scan stage next to the UTF-8 gate (``io/intake.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Non-content containers whose INNER TEXT must be dropped, not just the
# tags: scripts, styles, and the whole <head>. (?is) = case-insensitive +
# dotall; non-greedy so adjacent blocks don't merge. Identical semantics
# in java.util.regex and RE2.
_DROP_BLOCKS = (
    "(?is)<script[^>]*>.*?</script>",
    "(?is)<style[^>]*>.*?</style>",
    "(?is)<head[^>]*>.*?</head>",
    "(?s)<!--.*?-->",
)

# Any remaining tag. [^>]* cannot backtrack pathologically and parses the
# same under both engines.
_ANY_TAG_RE = "(?s)</?[A-Za-z!][^>]*>"

# Minimal named/numeric entities, decoded with literal replace (no regex).
# Order matters: '&amp;' LAST, so '&amp;lt;' decodes to the literal text
# '&lt;' exactly as a browser would, never to '<'.
ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_to_text_expr(html_str: Column) -> Column:
    """Extracted text of an HTML STRING column (use :func:`decode_html_expr`
    for the binary column). Pipeline order — drop non-content blocks, strip
    tags, decode entities — mirrors every classic extractor; each step is
    one ``regexp_replace``/``replace`` so the whole chain fuses into a
    single projection."""
    out = html_str
    for pat in _DROP_BLOCKS:
        out = F.regexp_replace(out, pat, "")
    out = F.regexp_replace(out, _ANY_TAG_RE, "")
    for ent, ch in ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def decode_html_expr(html_bin: Column) -> Column:
    """Extracted text of the ``html:binary`` column. UTF-8 decode happens
    first via ``cast(string)`` — invalid bytes decode to U+FFFD (Spark 4's
    ``decode`` builtin instead THROWS on malformed input unless a legacy
    conf is set), which is why the pipeline runs the exact-byte-offset
    UTF-8 gate (``io/intake.py::utf8_report``) BEFORE trusting
    extraction — same ordering as the reference's catastrophic-encoding
    gate."""
    return html_to_text_expr(html_bin.cast("string"))


def extraction_report(
    df: DataFrame,
    html_col: str = "html",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide check of the byte-identical-extraction invariant.

    One row: ``docs``, ``extract_matches`` (extracted == stored text,
    byte-for-byte), ``extract_mismatches``, ``null_html`` — a lineage
    metric the same shape as the profiler rollups, at the cost of one
    narrow map + one tiny agg. Library API: no run calls it."""
    extracted = decode_html_expr(F.col(html_col))
    return df.select(
        F.col(id_col),
        F.col(html_col).isNull().alias("_nh"),
        (extracted == F.col(text_col)).alias("_m"),
    ).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("_m"), 1).otherwise(0)).cast("long").alias("extract_matches"),
        F.sum(F.when(~F.coalesce(F.col("_m"), F.lit(False)) & ~F.col("_nh"), 1).otherwise(0))
        .cast("long")
        .alias("extract_mismatches"),
        F.sum(F.when(F.col("_nh"), 1).otherwise(0)).cast("long").alias("null_html"),
    )
