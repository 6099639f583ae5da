"""Format validators as pure DataFrame expressions.

Reference semantics (code-is-truth, SURVEY.md §1.2/§2.2): validation never
normalizes data — it only detects and counts violations (reference
``api/services/types.py:77``).  Every predicate here therefore operates on
the raw string and returns a boolean Column; counting happens in wide
aggregates, JVM-side, one scan.

Regex classes are explicit ``[0-9]``/``[A-Za-z]`` (never ``\\d``/``\\w``)
so the JVM and Python regex engines agree byte-for-byte (FIXTURES.md §F4.5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Reference patterns — api/services/types.py:81-83 (anchored, no sign,
# no thousands separators).
NUMERIC_RE = "^[0-9]+(\\.[0-9]+)?$"
MONEY_RE = "^[0-9]+\\.[0-9]{2}$"
ALPHA_RE = "^[a-zA-Z]+$"

# Date formats in reference preference order — api/services/types.py:86-92,
# profile.py:688-697 (DATE_PATTERNS, incl. the datetime entry).
DATE_FORMATS = [
    ("YYYYMMDD", "^[0-9]{8}$", "yyyyMMdd"),
    ("YYYY-MM-DD", "^[0-9]{4}-[0-9]{2}-[0-9]{2}$", "yyyy-MM-dd"),
    ("YYYY/MM/DD", "^[0-9]{4}/[0-9]{2}/[0-9]{2}$", "yyyy/MM/dd"),
    ("MM/DD/YYYY", "^[0-9]{2}/[0-9]{2}/[0-9]{4}$", "MM/dd/yyyy"),
    ("MM-DD-YYYY", "^[0-9]{2}-[0-9]{2}-[0-9]{4}$", "MM-dd-yyyy"),
    (
        "YYYY-MM-DD HH:MM:SS",
        "^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}$",
        "yyyy-MM-dd HH:mm:ss",
    ),
]

# DD/MM/YYYY — same lexical shape as MM/DD/YYYY, different interpretation
# (reference profile.py:699-700 DD_MM_YYYY_PATTERN). Counted separately and
# only credited when NO value in the column parses as MM/DD/YYYY (reference
# detect_format profile.py:851-859), so day>12 values flip the column's
# interpretation instead of silently counting as invalid.
DD_MM_YYYY = ("DD/MM/YYYY", "^[0-9]{2}/[0-9]{2}/[0-9]{4}$", "dd/MM/yyyy")


def is_null_like(c: Column) -> Column:
    """P1 — ``value is None or value.strip()==''`` (``profile.py:504-514``).
    Any input type, via a string cast (a no-op the optimizer drops on
    string columns)."""
    return c.isNull() | (F.trim(c.cast("string")) == "")


def is_numeric(c: Column) -> Column:
    """P2 (``types.py:81``)."""
    return c.rlike(NUMERIC_RE)


def is_money(c: Column) -> Column:
    """P3 strict no-strip variant: a whitespace-padded value is invalid
    (``profile.py:529-535``)."""
    return c.rlike(MONEY_RE) & (c == F.trim(c))


def is_alpha(c: Column) -> Column:
    """P4 (``types.py:83``)."""
    return c.rlike(ALPHA_RE)


def is_numeric_with_violations(c: Column) -> Column:
    """P5 — dirty numeric: contains ``$ , ( )`` but cleans to numeric
    (``types.py:432-451``)."""
    cleaned = F.regexp_replace(c, "[$,()]", "")
    return c.rlike("[$,()]") & cleaned.rlike(NUMERIC_RE) & (F.length(cleaned) > 0)


def is_money_with_violations(c: Column) -> Column:
    """P6 — violation symbol AND cleaned value money/decimal-like
    (``types.py:453-479``)."""
    cleaned = F.regexp_replace(c, "[$,()]", "")
    return c.rlike("[$,()]") & cleaned.rlike("^[0-9]+(\\.[0-9]+)?$") & (F.length(cleaned) > 0)


def parsed_date(c: Column, fmt_pattern: str, spark_fmt: str) -> Column:
    """P7 — regex gate + real-calendar parse in one built-in: ``to_date``
    returns null on impossible dates (``types.py:481-502``,
    ``profile.py:747-819``)."""
    return F.when(c.rlike(fmt_pattern), F.try_to_timestamp(c, F.lit(spark_fmt)).cast("date"))


def date_any_format(c: Column) -> Column:
    """First-matching-format parse in reference preference order. Each
    :func:`parsed_date` is already regex-gated and null on parse failure,
    so coalesce = first format that matches AND parses — one
    ``try_to_timestamp`` per format instead of the two a when-chain costs."""
    return F.coalesce(*[parsed_date(c, pat, sf) for _, pat, sf in DATE_FORMATS])


def is_date_in_range(d: Column) -> Column:
    """P8 — ``1900 <= year <= current_year + 1`` (``types.py:669-707``,
    ``profile.py:717-719``)."""
    return F.year(d).between(F.lit(1900), F.year(F.current_date()) + 1)


def has_non_ascii(c: Column) -> Column:
    """P9 (``profile.py:441-443``)."""
    return c.rlike("[^\\x00-\\x7F]")


def csv_injection_sanitize(c: Column) -> Column:
    """P11 — prefix ``'`` when cell starts with ``= + - @``
    (``runs.py:1012-1036``)."""
    return F.when(
        F.substring(c, 1, 1).isin("=", "+", "-", "@"), F.concat(F.lit("'"), c)
    ).otherwise(c)


def json_numeric_sanitize(c: Column) -> Column:
    """P12 — inf/NaN → null (``runs.py:184-208``)."""
    return F.when(F.isnan(c) | (F.abs(c) == float("inf")), F.lit(None)).otherwise(c)


def money_rollup_exprs(col: str, max_examples: int = 3) -> list[Column]:
    """A11 — categorized money-violation counts + bounded examples +
    min/max of valid values (``profile.py:585-673``).

    dollar_sign / comma / parentheses / wrong_decimals, ≤3 examples each,
    all in one agg pass.
    """
    c = F.col(col)
    nn = ~is_null_like(c)
    valid = is_money(c)
    wrong_dec = nn & ~valid & c.rlike("^[0-9]+(\\.[0-9]*)?$")
    cats = {
        "dollar_sign": nn & c.contains("$"),
        "comma": nn & c.contains(","),
        "parentheses": nn & (c.contains("(") | c.contains(")")),
        "wrong_decimals": wrong_dec,
    }
    exprs = [
        F.sum((nn & valid).cast("long")).alias(f"{col}_valid_count"),
        F.sum((nn & ~valid).cast("long")).alias(f"{col}_invalid_count"),
        F.sum(is_null_like(c).cast("long")).alias(f"{col}_null_count"),
        F.min(F.when(valid, c.cast("decimal(18,2)"))).alias(f"{col}_min_valid"),
        F.max(F.when(valid, c.cast("decimal(18,2)"))).alias(f"{col}_max_valid"),
    ]
    for name, cond in cats.items():
        exprs.append(F.sum(cond.cast("long")).alias(f"{col}_{name}_count"))
        exprs.append(
            F.slice(
                F.sort_array(F.collect_set(F.when(cond, c))), 1, max_examples
            ).alias(f"{col}_{name}_examples")
        )
    return exprs


def date_format_counts_exprs(col: str) -> list[Column]:
    """A12 — per-format valid-parse counts for majority-vote format
    detection (``profile.py:826-887``); the vote itself is
    :func:`detect_date_format` on the collected row. Includes the raw
    DD/MM/YYYY parse count — its crediting rule (only when MM/DD/YYYY has
    zero matches) is applied driver-side by the vote."""
    c = F.col(col)
    exprs = []
    for name, pat, sf in DATE_FORMATS:
        exprs.append(
            F.sum(parsed_date(c, pat, sf).isNotNull().cast("long")).alias(f"{col}_fmt_{name}")
        )
    exprs.append(
        F.sum(parsed_date(c, DD_MM_YYYY[1], DD_MM_YYYY[2]).isNotNull().cast("long")).alias(
            f"{col}_fmt_{DD_MM_YYYY[0]}"
        )
    )
    exprs.append(F.sum((~is_null_like(c)).cast("long")).alias(f"{col}_non_null"))
    return exprs


def detect_date_format(agg_row: dict, col: str, prefer_format: str | None = None) -> dict:
    """Majority vote over the A12 aggregate row — most-common format wins,
    confidence = matched share (``profile.py:826-887``). Driver-side pure
    function (testable).

    Reference semantics (profile.py:851-886), with one DELIBERATE
    divergence:

    * DD/MM/YYYY is credited only when NO value parsed as MM/DD/YYYY —
      a column of day>12 slash dates flips to the DD/MM interpretation
      instead of under-counting as invalid MM/DD. The reference applies
      this check PER VALUE during its sequential scan (DD/MM values seen
      before the first MM/DD-parseable value still count), so on columns
      mixing day>12 and day<=12 slash dates its format_counts depend on
      row order. A distributed engine has no row order; this vote applies
      the rule COLUMN-level (order-independent — any MM/DD match zeroes
      the DD/MM count), which is deterministic under partitioning and
      agrees with the reference whenever the column is purely one
      interpretation (the common case and every fixture).
    * ``has_ambiguity`` is true when any slash-date interpretation matched
      (every MM/DD value is lexically also a DD/MM candidate) or when more
      than one format matched.
    * ``prefer_format`` breaks exact count ties (reference's
      ``prefer_format`` hint, profile.py:701-720); otherwise reference
      preference order wins.

    Returned dict keys: format, confidence, ambiguous (legacy alias),
    has_ambiguity.
    """
    order = [n for n, _, _ in DATE_FORMATS] + [DD_MM_YYYY[0]]
    counts = {name: agg_row.get(f"{col}_fmt_{name}", 0) or 0 for name in order}
    non_null = agg_row.get(f"{col}_non_null", 0) or 0
    if counts["MM/DD/YYYY"] > 0:
        counts[DD_MM_YYYY[0]] = 0  # reference: DD/MM only counts when MM/DD absent
    matched = {k: v for k, v in counts.items() if v > 0}
    if not matched or non_null == 0:
        return {"format": None, "confidence": 0.0, "ambiguous": False, "has_ambiguity": False}
    best = max(
        matched,
        key=lambda k: (matched[k], k == prefer_format, -order.index(k)),
    )
    has_ambiguity = (
        counts["MM/DD/YYYY"] > 0 or counts[DD_MM_YYYY[0]] > 0 or len(matched) > 1
    )
    # confidence denominator = total format matches (reference
    # profile.py:866-868), not non-null count
    total_matches = sum(matched.values())
    return {
        "format": best,
        "confidence": matched[best] / total_matches if total_matches else 0.0,
        "ambiguous": has_ambiguity,
        "has_ambiguity": has_ambiguity,
    }


def date_distribution(df: DataFrame, col: str, fmt: str | None = None) -> dict[str, DataFrame]:
    """A13 — counts by month / year / day-of-week over parsed dates
    (``profile.py:889-998``). Three independent groupBys over the
    already-parsed date column; each is a small-cardinality exact agg."""
    d = date_any_format(F.col(col)) if fmt is None else parsed_date(
        F.col(col), dict((n, p) for n, p, _ in DATE_FORMATS)[fmt],
        dict((n, s) for n, _, s in DATE_FORMATS)[fmt],
    )
    parsed = df.select(d.alias("d")).filter(F.col("d").isNotNull())
    return {
        "by_month": parsed.groupBy(F.date_format("d", "yyyy-MM").alias("month")).agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        "by_year": parsed.groupBy(F.year("d").alias("year")).agg(F.count(F.lit(1)).alias("cnt")),
        "by_dow": parsed.groupBy(F.date_format("d", "EEEE").alias("dow")).agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        "span": parsed.agg(
            F.min("d").alias("min_date"),
            F.max("d").alias("max_date"),
            F.datediff(F.max("d"), F.min("d")).alias("span_days"),
        ),
    }


def out_of_range_date_count_expr(col: str, fmt_name: str) -> Column:
    """A14 — count of parsed dates with year <1900 or >current+1
    (``profile.py:940-946``); counts-only, no warning strings (PHI
    discipline)."""
    pat = dict((n, p) for n, p, _ in DATE_FORMATS)[fmt_name]
    sf = dict((n, s) for n, _, s in DATE_FORMATS)[fmt_name]
    d = parsed_date(F.col(col), pat, sf)
    return F.sum((d.isNotNull() & ~is_date_in_range(d)).cast("long")).alias(
        f"{col}_out_of_range_count"
    )


def validity_counts_exprs(col: str, valid_pred: Column) -> list[Column]:
    """A5 — tri-bucket null/valid/invalid counters for any predicate
    (``profile.py:261-292``)."""
    c = F.col(col)
    nn = ~is_null_like(c)
    return [
        F.sum(is_null_like(c).cast("long")).alias(f"{col}_null_count"),
        F.sum((nn & valid_pred).cast("long")).alias(f"{col}_valid_count"),
        F.sum((nn & ~valid_pred).cast("long")).alias(f"{col}_invalid_count"),
    ]
