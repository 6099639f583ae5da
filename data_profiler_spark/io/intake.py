"""Ingest-side validation — reference S2-S7 re-expressed for Spark.

* **UTF-8 validation with exact byte offset** (S2, reference
  ``api/services/ingest.py:81-279``): Spark's readers silently replace bad
  bytes, so the catastrophic-with-offset semantics run over a ``binary``
  column inside a vectorized pandas UDF (``bytes.decode`` surfaces the
  exact failing offset in ``UnicodeDecodeError.start`` — the same state
  machine outcome without hand-rolling one).
* **Line-ending detection** (S3, ``ingest.py:282-448``): pure
  length-delta expressions, no UDF (normalizing is ``NORMALIZE_STEPS[0]``).
* **Delimiter + quoting sniff** (S4/S5, ``ingest.py:451-665``): driver-side
  over a tiny head sample — the reference samples 8 KB; distributing a
  8 KB problem would be overhead, not parallelism.
* **Jagged-row detection** (S7, ``ingest.py:873-896``): a quote-aware
  per-line field-count check over ``spark.read.text``
  (:func:`csv_row_errors`) beside a PERMISSIVE csv read carrying
  ``_corrupt`` (:func:`read_csv_with_errors`).

Catastrophic-error gating (SURVEY.md §7.3.6): these validators are cheap
aggregates run BEFORE the expensive stage — ``jobs/profile_job.py`` stops a
CSV profile before type inference, the pipeline stops scoring on S2 — the
reference's stop-at-first-bad-byte, with full-pass counts instead of
sequential early exit.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# S2 — UTF-8 validation (binary column, exact byte offset)
# --------------------------------------------------------------------------

_UTF8_SCHEMA = T.StructType(
    [
        T.StructField("valid", T.BooleanType()),
        T.StructField("error_offset", T.LongType()),
        T.StructField("error_reason", T.StringType()),
    ]
)


@F.pandas_udf(_UTF8_SCHEMA)
def utf8_validity_udf(payload: pd.Series) -> pd.DataFrame:
    """Vectorized UTF-8 check: (valid, first-bad-byte offset, reason).

    ``bytes.decode`` runs the full UTF-8 state machine in C (continuation /
    overlong / surrogate / >U+10FFFF all covered) and reports the exact
    byte offset — the same verdicts as the reference's hand-rolled
    validator at C speed."""
    valid, offset, reason = [], [], []
    for b in payload:
        if b is None:
            valid.append(True)
            offset.append(None)
            reason.append(None)
            continue
        try:
            bytes(b).decode("utf-8", errors="strict")
            valid.append(True)
            offset.append(None)
            reason.append(None)
        except UnicodeDecodeError as e:
            valid.append(False)
            offset.append(e.start)
            reason.append(e.reason)
    return pd.DataFrame({"valid": valid, "error_offset": offset, "error_reason": reason})


def utf8_report(df: DataFrame, binary_col: str = "html") -> DataFrame:
    """Aggregate UTF-8 verdicts: total/invalid counts + first offending
    offsets (bounded examples, counts-not-values discipline)."""
    v = utf8_validity_udf(F.col(binary_col))
    checked = df.select(v["valid"].alias("valid"), v["error_offset"].alias("error_offset"))
    return checked.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((~F.col("valid")).cast("long")).alias("invalid_count"),
        F.min("error_offset").alias("min_error_offset"),
        F.max("error_offset").alias("max_error_offset"),
    )


# --------------------------------------------------------------------------
# S3 — line endings
# --------------------------------------------------------------------------

def _occurrences(c: Column, token: str) -> Column:
    return (F.length(c) - F.length(F.replace(c, F.lit(token), F.lit("")))) / len(token)


def line_ending_counts_exprs(col: str = "text") -> list[Column]:
    """CRLF / bare-LF / bare-CR exact counts (reference ``ingest.py:312-430``)
    as pure length-delta aggregates."""
    c = F.col(col)
    crlf = _occurrences(c, "\r\n")
    cr_total = _occurrences(c, "\r")
    lf_total = _occurrences(c, "\n")
    return [
        F.sum(crlf).cast("long").alias("crlf_count"),
        F.sum(lf_total - crlf).cast("long").alias("lf_count"),
        F.sum(cr_total - crlf).cast("long").alias("cr_count"),
    ]


def line_ending_style(agg_row: dict) -> tuple[str, bool]:
    """(majority style, mixed?) from the counts row — driver-side vote.
    A mixed verdict should be recorded as ``W_MIXED_LINE_ENDINGS`` through
    :func:`warnings_df` (non-catastrophic, reference ``ingest.py:312-430``
    warning semantics)."""
    counts = {k: agg_row.get(f"{k}_count", 0) or 0 for k in ("crlf", "lf", "cr")}
    present = [k for k, v in counts.items() if v > 0]
    if not present:
        return "lf", False
    style = max(counts, key=lambda k: (counts[k], k))
    return style, len(present) > 1


def line_ending_warnings(agg_row: dict) -> list[str]:
    """Warning codes from the S3 counts row — feeds ``warnings_df`` →
    ``error_rollup``."""
    _, mixed = line_ending_style(agg_row)
    return ["W_MIXED_LINE_ENDINGS"] if mixed else []


# --------------------------------------------------------------------------
# S4/S5 — delimiter + quoting sniff (driver-side, tiny sample)
# --------------------------------------------------------------------------

CANDIDATE_DELIMS = ("|", ",", "\t", ";")


def sniff_delimiter(lines: list[str]) -> tuple[str, float]:
    """Count-consistency vote over a head sample (reference
    ``ingest.py:451-548``): the winning delimiter has the most lines
    agreeing on a constant, non-zero field count."""
    best, best_conf = ",", 0.0
    for d in CANDIDATE_DELIMS:
        counts = Counter(line.count(d) for line in lines if line)
        if not counts:
            continue
        mode, freq = counts.most_common(1)[0]
        if mode == 0:
            continue
        conf = freq / sum(counts.values())
        if conf > best_conf:
            best, best_conf = d, conf
    return best, best_conf


def sniff_quoting(lines: list[str], delimiter: str) -> tuple[bool, float]:
    """Quoting-evidence vote (reference ``QuotingDetector``,
    ``ingest.py:551-665``): three independent signals over the sample —

    * quote-initiated fields (a line starts with ``"`` or contains
      ``<delim>"``) — the base density;
    * ``""`` escape sequences — only meaningful under RFC-4180 quoting,
      so each escaping line adds half a vote;
    * delimiters INSIDE quoted sections — quoting that actually protects
      embedded delimiters is the strongest functional evidence, half a
      vote per line.

    Confidence is the capped sum; >= 0.2 sniffs quoted. The extra signals
    keep an escape-heavy file from mis-sniffing on density alone."""
    if not lines:
        return False, 0.0
    import re as _re

    qre = _re.compile(r'"(?:[^"]|"")*"')
    n = len(lines)
    quoted_field = sum(
        1 for line in lines if line.startswith('"') or f'{delimiter}"' in line
    )
    escapes = sum(1 for line in lines if '""' in line)
    embedded = sum(
        1 for line in lines if any(delimiter in m for m in qre.findall(line))
    )
    conf = min(1.0, quoted_field / n + 0.5 * escapes / n + 0.5 * embedded / n)
    return conf >= 0.2, round(conf, 4)


def sniff_csv(spark: SparkSession, path: str) -> dict:
    """Driver-side sniff of delimiter + quoting from the file head:
    ``delimiter``/``quoted`` are what downstream parsing should use, with
    their vote confidences."""
    lines = [r["value"] for r in spark.read.text(path).limit(20).collect()]
    delim, dconf = sniff_delimiter(lines)
    quoted, qconf = sniff_quoting(lines, delim)
    return {
        "delimiter": delim,
        "delimiter_confidence": round(dconf, 4),
        "quoted": quoted,
        "quoting_confidence": round(qconf, 4),
    }


def warnings_df(spark: SparkSession, warnings: list[str]) -> DataFrame:
    """File-level warnings (:func:`line_ending_warnings`) as error-schema
    rows (line 0 = file-level) so they flow through the same
    ``error_rollup`` as parse errors."""
    from ..operators.errors import ERROR_SCHEMA

    return spark.createDataFrame([(w, 0, None) for w in warnings], ERROR_SCHEMA)


# --------------------------------------------------------------------------
# S6/S7 — CSV parse with jagged-row / corrupt-record rollup
# --------------------------------------------------------------------------

def csv_row_errors(spark: SparkSession, path: str, delimiter: str, quoted: bool = True) -> DataFrame:
    """S7 per-row shape classification with the reference's carve-outs
    (``ingest.py:868-890``), as one narrow scan over raw lines:

    * trailing empty fields beyond the header's count are trimmed first
      (``a|b|c|`` parses clean against a 3-column header);
    * exactly ONE extra column while quoting is enabled →
      ``E_UNQUOTED_DELIM``, non-catastrophic (likely an unquoted delimiter
      inside a value);
    * any other count mismatch → ``E_JAGGED_ROW``, catastrophic.

    Quoted sections (with ``""`` escapes) become a non-empty ``\\x01``
    sentinel before the split, so an embedded delimiter does not count and
    a quoted trailing extra field (``a|b|c|"x"``) is ``E_UNQUOTED_DELIM``,
    not a trimmed empty. Returns ``(code, line_number, column)`` rows
    (1-based data-row numbers) for ``operators.errors.error_rollup``.

    ``line_number`` is a per-split ``row_number`` ordered by
    ``monotonically_increasing_id`` plus the split's offset (one collected
    count row per split, broadcast back), so no window funnels the scan
    through one task. It assumes text splits enumerate in file-offset
    order, as the id's high bits do.
    """
    import re as _re

    from pyspark.sql import Window

    raw = spark.read.text(path).select(
        "value",
        F.spark_partition_id().alias("_pid"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    # one row per split — bounded driver state (a 100 TB scan at 128 MB
    # splits is ~800 k rows of (int, long): fine to collect)
    counts = sorted(
        (r["_pid"], r["_c"])
        for r in raw.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c")).collect()
    )
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy("_mid")
    numbered = raw.withColumn("_lrn", F.row_number().over(w)).join(
        F.broadcast(off_df), "_pid"
    ).withColumn("_rn", (F.col("_lrn") + F.col("_off")).cast("int"))
    # line 1 is split 0's first row: a limit(1) read, not a pass over the plan
    header = spark.read.text(path).limit(1).collect()[0]["value"]
    expected_cols = len(header.split(delimiter))
    data = numbered.filter(F.col("_rn") > 1).select(
        (F.col("_rn") - 1).alias("line_number"), "value"
    )
    line = F.col("value")
    if quoted:
        # non-empty sentinel, not deletion: the trailing-trim logic below
        # must see quoted fields as occupied (reference ingest.py:868-878
        # trims only genuinely-empty trailing fields)
        line = F.regexp_replace(line, '"([^"]|"")*"', "\x01")
    fields = F.split(line, _re.escape(delimiter), -1)
    n = F.size(fields)
    nonempty_pos = F.filter(
        F.transform(fields, lambda x, i: F.when(x != "", i + 1)), lambda v: v.isNotNull()
    )
    last_nonempty = F.coalesce(F.array_max(nonempty_pos), F.lit(0))
    eff = F.when(n > expected_cols, F.greatest(F.lit(expected_cols), last_nonempty)).otherwise(n)
    code = (
        F.when(eff == expected_cols, F.lit(None).cast("string"))
        .when((eff == expected_cols + 1) & F.lit(bool(quoted)), F.lit("E_UNQUOTED_DELIM"))
        .otherwise(F.lit("E_JAGGED_ROW"))
    )
    return (
        data.select("line_number", code.alias("code"))
        .filter(F.col("code").isNotNull())
        .select("code", "line_number", F.lit(None).cast("string").alias("column"))
    )


def read_csv_with_errors(spark: SparkSession, path: str, delimiter: str = "|", quoted: bool = True) -> DataFrame:
    """Cached PERMISSIVE csv read carrying a ``_corrupt`` column (the
    reference's count-and-continue parse, ``ingest.py:953-963``).

    Spark rejects a query over only the corrupt column of a raw CSV scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); the cache is
    the documented workaround, and a profile scans the frame several times
    anyway."""
    # Spark only materializes the corrupt-record column when it appears in
    # an explicit schema; the reference's model is all-strings anyway
    # (SURVEY.md §1.2), so: header sniff → all-string schema + _corrupt.
    header = spark.read.text(path).limit(1).collect()[0]["value"]
    schema = ", ".join(
        f"`{c.strip()}` string" for c in header.split(delimiter)
    ) + ", _corrupt string"
    df = (
        spark.read.option("header", True)
        .option("sep", delimiter)
        .option("quote", '"' if quoted else "\u0000")  # NUL disables quoting
        .option("escape", '"')  # RFC-4180 doubled quotes, as csv_row_errors counts them
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema(schema)
        .csv(path)
    )
    return df.cache()
