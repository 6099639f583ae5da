"""Text analysis for training-data pipelines — language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All pure JVM expressions (no UDFs): each is a narrow map over the text
column, fused by whole-stage codegen into the scan stage. The model-based
langid (the scoring Arrow UDF, functions/langid.py) is the precise path and
scores every document; the n-gram heuristic here is a JVM-only baseline
(oracle ``lang_guess_confusion``), not a gate in front of the model.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import corpus
from .textstats import words_expr

# Per-language marker words: the most-frequent function words per language
# (prefix of the seeded corpus inventories — deterministic, public words).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    lang: tuple(words[:12]) for lang, words in corpus.WORDS.items()
}
# Fixed priority order for argmax ties (first wins).
LANG_PRIORITY = ("en", "fr", "es", "de", "it")


def _lower_tokens(c: Column) -> Column:
    return F.transform(words_expr(c), F.lower)


def lang_marker_hits_expr(c: Column, lang: str) -> Column:
    """Distinct marker words of ``lang`` present in the document."""
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.array_intersect(markers, _lower_tokens(c)))


def lang_guess_expr(c: Column) -> Column:
    """n-gram/marker-word language heuristic: argmax of per-language
    distinct-marker hits, ties broken by LANG_PRIORITY order; 'und' when no
    marker of any language appears."""
    hits = {lang: lang_marker_hits_expr(c, lang) for lang in LANG_PRIORITY}
    best = F.greatest(*hits.values())
    out = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        out = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(out)
    return out


# BPE-ish pre-tokenizer: letter runs | digit runs | single other non-space
# (the classic GPT-2-style coarse split, explicit ASCII classes only so any
# regex engine agrees).
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"


def bpe_token_count_expr(c: Column) -> Column:
    """Count of BPE-ish pre-tokens."""
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), F.lit(0)))


def quality_score_expr(c: Column) -> Column:
    """Composite document quality score in [0, 1]: equal-weight blend of
    length-band membership, stopword evidence, alphabetic-word fraction,
    and punctuation sparsity. A scoring (not gating) counterpart of the
    keep/drop rules in rules.py — useful for threshold sweeps/histograms."""
    toks = words_expr(c)
    wc = F.size(toks)
    stop = F.array(*[F.lit(s) for s in LANG_MARKERS["en"][:10]])
    stop_hits = F.size(F.array_intersect(stop, F.transform(toks, F.lower)))
    alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    punct = F.size(F.regexp_extract_all(c, F.lit("[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"), F.lit(0)))
    len_band = F.when((wc >= 10) & (wc <= 20000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_part = F.least(stop_hits / F.lit(5.0), F.lit(1.0))
    alpha_part = F.when(wc > 0, alpha / wc).otherwise(F.lit(0.0))
    punct_part = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.when(wc > 0, punct / wc).otherwise(F.lit(1.0))
    )
    return F.round((len_band + stop_part + alpha_part + punct_part) / 4.0, 6)


# Character n-gram width and sketch size of the document fingerprint.
FINGERPRINT_CHARS = 5
FINGERPRINT_K = 4


def chargram_minhash_fingerprint_expr(c: Column) -> Column:
    """Document fingerprint: min-k sketch over rolling character n-grams.

    The rolling window is ``substring(text, i, n)`` for every offset, with
    n = :data:`FINGERPRINT_CHARS` — hashed (md5-hex, fixed width so
    lexicographic = numeric order) and reduced to the k =
    :data:`FINGERPRINT_K` smallest values, concatenated. Two documents
    share a fingerprint component iff they share a char n-gram that hashes
    into the global minimum region — a winnowing-style content signature
    robust to small edits (unlike sha2 of the whole text).

    Cost: one array of (len-n+1) hashes per doc in the scan stage; at
    web scale sample offsets (stride) to bound it.
    """
    n = FINGERPRINT_CHARS
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
        lambda i: c.substr(i, F.lit(n)),
    )
    hashes = F.array_sort(F.array_distinct(F.transform(grams, lambda g: F.substring(F.md5(g), 1, 16))))
    return F.concat_ws("|", F.slice(hashes, 1, FINGERPRINT_K))


# normalization chain shared (pattern-for-pattern) with the DuckDB oracle;
# explicit ASCII classes per the CLAUDE.md Java-regex/RE2 parity rule
NORMALIZE_STEPS: tuple[tuple[str, str], ...] = (
    ("\\r\\n|\\r", "\n"),                                   # CRLF/CR → LF
    ("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),        # control chars (keep \t \n)
    ("[ \\t]{2,}", " "),                                    # collapse space/tab runs
    ("\\n{3,}", "\n\n"),                                    # ≥3 newlines → paragraph break
    ("^[ \\t\\n]+|[ \\t\\n]+$", ""),                        # trim outer whitespace
)


def normalize_text_expr(c: Column) -> Column:
    """Canonical text cleanup before tokenization/dedup: line-ending
    normalization, control-char strip, intra-line whitespace collapse,
    paragraph-run collapse, outer trim — five ``regexp_replace`` steps
    fused into one projection (pure JVM, scan-stage). Normalizing BEFORE
    hashing/shingling makes exact and near-dup keys insensitive to
    whitespace-only variation between crawls of the same page — run it
    ahead of ``operators/dedup`` when crawl hygiene varies. NOT applied
    inside the scoring pipeline by default: the north-rule scrub contract
    is byte-identical output, so normalization is an explicit opt-in
    stage, never a silent default."""
    out = c
    for pat, rep in NORMALIZE_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out
