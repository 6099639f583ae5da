"""Property-based checks (hypothesis) for the corpus-selection operators:
randomized inputs vs independent pure-Python references. One Spark job
per example is too slow, so each property generates a BATCH of random
docs, runs the operator once, and checks every doc."""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_profiler_spark.functions.textstats import words_expr
from data_profiler_spark.operators import corpus, sampling

_LINE = st.text(alphabet="ab X-", min_size=0, max_size=8)
_TEXT = st.lists(_LINE, min_size=1, max_size=6).map(lambda ls: "\n".join(ls))


def _py_within(text, min_chars=5):
    seen, kept, dropped = set(), [], 0
    for line in text.split("\n"):
        if len(line) >= min_chars and line in seen:
            dropped += 1
        else:
            seen.add(line)
            kept.append(line)
    return "\n".join(kept), len(kept), dropped


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_TEXT, min_size=1, max_size=12))
def test_line_dedup_within_doc_property(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["lines_kept"], r["lines_dropped"])
        for r in corpus.line_dedup_within_doc(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_within(t), repr(t)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.tuples(st.floats(0, 1), st.integers(0, 50)), min_size=1, max_size=40),
    st.integers(0, 400),
)
def test_token_budget_sample_property(spark, rows, budget):
    data = [(i, p, t) for i, (p, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, prio double, toks long")
    got = {
        r["doc_id"]
        for r in sampling.token_budget_sample(
            df, budget, priority=F.col("prio"), tokens=F.col("toks"), bins=8
        ).collect()
    }
    ordered = sorted(
        data, key=lambda r: (-r[1], hashlib.md5(str(r[0]).encode()).hexdigest())
    )
    want, cum = set(), 0
    for i, _, t in ordered:
        if cum + t > budget:
            break
        cum += t
        want.add(i)
    assert got == want


def test_normalize_text_matches_python_reference(spark):
    import re

    from pyspark.sql import functions as F

    from data_profiler_spark.functions.textanalysis import (
        NORMALIZE_STEPS,
        normalize_text_expr,
    )

    def py_norm(s: str) -> str:
        for pat, rep in NORMALIZE_STEPS:
            s = re.sub(pat.replace("\\\\", "\\"), rep, s)
        return s

    cases = [
        "a\r\nb\rc\nd",                      # mixed line endings
        "col1\tcol2   col3\t\t tabs",        # space/tab runs
        "p1\n\n\n\n\np2",                    # paragraph run
        "  \n\t lead and trail \n\n",        # outer whitespace
        "ctrl\x00\x01\x08\x0b\x0c\x1f\x7fchars",
        "already clean\nsecond line",
        "",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, t string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_text_expr(F.col("t")).alias("n")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == py_norm(c), repr(c)
    assert got[0] == "a\nb\nc\nd"
    assert got[1] == "col1\tcol2 col3 tabs"  # runs (incl. mixed tab+space) collapse; lone tab kept
    assert got[2] == "p1\n\np2"
    assert got[3] == "lead and trail"
    assert got[4] == "ctrlchars"


def _py_winnow(tokens, window=5, stride=3):
    """Independent winnowing reference (MOSS selection over md5 window
    hashes)."""
    n = len(tokens) - (window - 1)
    if n < 1:
        return set()
    hall = [
        hashlib.md5(" ".join(tokens[i : i + window]).encode()).hexdigest()
        for i in range(n)
    ]
    if len(hall) <= stride:
        return {min(hall)}
    return {min(hall[j : j + stride]) for j in range(len(hall) - stride + 1)}


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.lists(st.sampled_from("ab cd ef gh xy".split()), min_size=0, max_size=30), min_size=1, max_size=8))
def test_winnow_fingerprints_match_python_reference(spark, token_lists):
    texts = [" ".join(toks) for toks in token_lists]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    from pyspark.sql import functions as F

    toks = df.select(
        "doc_id", words_expr(F.col("text")).alias("_tk")
    )
    hashed = toks.select(
        "doc_id", corpus.all_span_hashes_from_tokens(F.col("_tk"), 5).alias("_hs")
    )
    got = {
        r["doc_id"]: set(r["fp"])
        for r in hashed.select(
            "doc_id", corpus.winnow_fingerprints(F.col("_hs"), 3).alias("fp")
        ).collect()
    }
    for i, toks_i in enumerate(token_lists):
        assert got[i] == _py_winnow(toks_i, window=5, stride=3), toks_i


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.dictionaries(st.sampled_from("abcdef"), st.integers(0, 50), min_size=1, max_size=6),
    st.dictionaries(st.sampled_from("abcdef"), st.floats(0.01, 1.0), min_size=1, max_size=6),
    st.integers(0, 150),
)
def test_mixture_allocation_properties(sizes, weights, total):
    alloc = sampling.mixture_allocation(sizes, weights, total)
    weighted = {s for s in weights if s in sizes and weights[s] > 0}
    available = sum(sizes[s] for s in weighted)
    assert set(alloc) == weighted
    for s, n in alloc.items():
        assert 0 <= n <= sizes[s]
    assert sum(alloc.values()) == min(total, available)
