"""PII scrubber — compiled-regex chain with per-category exact counts.

Reuses the reference's exact-metric PHI discipline: detect and count,
never store raw matched values (reference ``api/services/audit.py:37-58``
"PII-free events — hashes, counts, codes"); categorized violation rollup
mirrors the MoneyValidator category pattern
(``api/services/profile.py:585-673``).

:func:`batch_scrub` runs on the batch's ``pyarrow`` string array inside the
scoring ``arrow_udf`` (functions/langid.py), so each text crosses to Python
once: one precompiled ``re.subn`` per rule returns the scrubbed text and
that rule's count in one sweep, each count taken on the text as it looks
*when that rule runs*. A rule runs only on the texts it can match: the
card, SSN and phone rules need an ASCII digit and the email rule an ``@``,
found for the whole batch by two pyarrow.compute kernels. The prefilters
are exact, because no replacement token holds a digit or an ``@``.

Patterns use explicit ``[0-9]``/``[A-Za-z]`` classes (never ``\\d``/``\\w``)
and only constructs with identical semantics in Java regex, RE2 and Python
``re`` (FIXTURES.md §F4.5), so the JVM ``rlike``/``regexp_count`` of the
``q_pii_email_scan`` oracle query and the single-process labeler agree
with the scrub byte for byte — the north-rule gate.

Order matters and is pinned: credit card → SSN → phone → email (longest
digit runs first so a card number is never half-eaten by the phone rule).
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .textstats import _flags

# (category, pattern, replacement) — applied in order.
PATTERNS: list[tuple[str, str, str]] = [
    (
        "credit_card",
        "(?<![0-9])[0-9]{4}([ -]?)[0-9]{4}\\1[0-9]{4}\\1[0-9]{4}(?![0-9])",
        "<CREDIT_CARD>",
    ),
    (
        "ssn",
        "(?<![0-9])[0-9]{3}-[0-9]{2}-[0-9]{4}(?![0-9-])",
        "<SSN>",
    ),
    (
        "phone",
        "(\\([0-9]{3}\\) ?|(?<![0-9])[0-9]{3}[-.])[0-9]{3}[-.][0-9]{4}(?![0-9])",
        "<PHONE>",
    ),
    (
        "email",
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
]

CATEGORIES = tuple(name for name, _, _ in PATTERNS)
COUNTS_TYPE = T.StructType([T.StructField(name, T.IntegerType()) for name in CATEGORIES])
SCRUB_TYPE = T.StructType(
    [T.StructField("scrubbed_text", T.StringType()), T.StructField("pii_counts", COUNTS_TYPE)]
)

_COMPILED = [(name, re.compile(pattern), repl) for name, pattern, repl in PATTERNS]


def batch_scrub(texts: pa.Array) -> tuple[pa.Array, pa.StructArray]:
    """Scrubbed texts (same array type as ``texts``) and their per-category
    counts as a :data:`COUNTS_TYPE` struct array. A null text gives a null
    scrubbed text and null counts."""
    has_digit = pc.fill_null(pc.match_substring_regex(texts, "[0-9]"), False)
    has_at = pc.fill_null(pc.match_substring(texts, "@"), False)
    rows = np.flatnonzero(_flags(pc.or_(has_digit, has_at)))
    values = texts.take(rows).to_pylist()
    digit, at = _flags(has_digit.take(rows)), _flags(has_at.take(rows))
    counts = np.zeros((len(CATEGORIES), len(texts)), dtype=np.int32)
    for k, (name, rx, repl) in enumerate(_COMPILED):
        sel = np.flatnonzero(at if name == "email" else digit).tolist()
        swept = [rx.subn(repl, values[j]) for j in sel]
        for j, (value, _) in zip(sel, swept):
            values[j] = value
        counts[k, rows[sel]] = [n for _, n in swept]

    changed = counts.any(axis=0)
    scrubbed = pc.replace_with_mask(
        texts,
        pa.array(changed),
        pa.array([v for v, c in zip(values, changed[rows]) if c], texts.type),
    )
    nulls = _flags(texts.is_null()) if texts.null_count else None
    return scrubbed, pa.StructArray.from_arrays(
        [pa.array(col, pa.int32(), mask=nulls) for col in counts], names=list(CATEGORIES)
    )


@F.arrow_udf(SCRUB_TYPE)
def _scrub_udf(texts: pa.Array) -> pa.Array:
    scrubbed, counts = batch_scrub(texts)
    return pa.StructArray.from_arrays([scrubbed, counts], names=SCRUB_TYPE.fieldNames())


def counts_struct(c: Column) -> Column:
    """A non-null ``pii_counts`` struct from the count fields of ``c``."""
    return F.struct(*[c[name].alias(name) for name in CATEGORIES])


def scrub_expr(c: Column) -> Column:
    """Scrubbed text of ``c``, one :func:`batch_scrub` pass."""
    return _scrub_udf(c)["scrubbed_text"]


def pii_counts_expr(c: Column) -> Column:
    """Per-category match counts of ``c``, one :func:`batch_scrub` pass."""
    return counts_struct(_scrub_udf(c)["pii_counts"])
