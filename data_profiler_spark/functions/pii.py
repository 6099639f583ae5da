"""PII scrubber — compiled-regex chain with per-category exact counts.

Reuses the reference's exact-metric PHI discipline: detect and count,
never store raw matched values (reference ``api/services/audit.py:37-58``
"PII-free events — hashes, counts, codes"); categorized violation rollup
mirrors the MoneyValidator category pattern
(``api/services/profile.py:585-673``).

The Spark path is a nested ``regexp_replace`` chain + ``regexp_count`` —
pure JVM expressions, no UDF. Patterns use explicit ``[0-9]``/``[A-Za-z]``
classes (never ``\\d``/``\\w``) and only constructs with identical
semantics in Java regex and Python ``re`` (FIXTURES.md §F4.5), so the
single-process labeler's ``re.subn`` over the same PATTERNS produces
byte-identical scrubbed text — the north-rule gate.

Order matters and is pinned: credit card → SSN → phone → email (longest
digit runs first so a card number is never half-eaten by the phone rule).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

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


def scrub_expr(c: Column) -> Column:
    """Scrubbed text: the full replacement chain as nested JVM regex."""
    out = c
    for _, pattern, repl in PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def pii_counts_expr(c: Column) -> Column:
    """Struct of per-category match counts, each counted on the text as it
    looks *when that rule runs* (same intermediate states as the scrub
    chain / the labeler's sequential ``re.subn``)."""
    fields = []
    cur = c
    for name, pattern, repl in PATTERNS:
        fields.append(F.regexp_count(cur, F.lit(pattern)).alias(name))
        cur = F.regexp_replace(cur, pattern, repl)
    return F.struct(*fields)
