"""Corpus-level cleaning operators (operators/corpus.py): C4-style line
dedup, benchmark-contamination screening, URL domain filtering — each
checked against an independent pure-Python reference on a small fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_profiler_spark.operators import corpus


# ---------------------------------------------------------------------------
# line dedup
# ---------------------------------------------------------------------------

_DOCS = [
    (0, "unique opening line\nshared cookie banner line\nalso unique here"),
    (1, "shared cookie banner line\nanother distinct sentence"),
    (2, "shared cookie banner line\nshared cookie banner line\ntail text line"),
    (3, "-\n-\n-"),  # short structural lines: always kept
    (4, ""),  # empty text -> single empty line, kept
    (5, None),  # null text -> stays null
]


def _py_line_dedup(docs, max_occurrences=1, min_chars=5):
    """Independent reference: count countable lines corpus-wide, keep
    first occurrence only for over-threshold lines."""
    occ = {}
    for did, text in docs:
        if text is None:
            continue
        for pos, line in enumerate(text.split("\n")):
            if len(line) >= min_chars:
                occ.setdefault(line, []).append((did, pos))
    out = {}
    for did, text in docs:
        if text is None:
            out[did] = (None, 0, 0)
            continue
        kept, dropped = [], 0
        for pos, line in enumerate(text.split("\n")):
            if len(line) < min_chars:
                kept.append(line)
            elif len(occ[line]) <= max_occurrences or min(occ[line]) == (did, pos):
                kept.append(line)
            else:
                dropped += 1
        out[did] = ("\n".join(kept), len(kept), dropped)
    return out


def test_line_dedup_matches_python_reference(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["lines_kept"], r["lines_dropped"])
        for r in corpus.line_dedup(df, max_occurrences=1, min_chars=5).collect()
    }
    assert got == _py_line_dedup(_DOCS)
    # spot-check the semantics directly: the banner survives only at its
    # first occurrence (doc 0), short lines and empty text are untouched
    assert got[0][0].count("shared cookie banner line") == 1
    assert got[1][0] == "another distinct sentence"
    assert got[2] == ("tail text line", 1, 2)
    assert got[3] == ("-\n-\n-", 3, 0)
    assert got[4] == ("", 1, 0)
    assert got[5] == (None, 0, 0)


def test_line_dedup_max_occurrences_threshold(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: r["lines_dropped"]
        for r in corpus.line_dedup(df, max_occurrences=4, min_chars=5).collect()
    }
    # banner occurs 4 times corpus-wide <= 4 -> nothing dropped anywhere
    assert got == {i: 0 for i in range(6)}


def test_line_dedup_oracle_parity_with_null_text(spark, tmp_path):
    """Regression for the latent Spark/DuckDB-oracle divergence on
    null-text docs (round-3 ADVICE): DuckDB's string_split(NULL) unnests
    to zero rows, so the old oracle silently DROPPED null-text docs while
    Spark kept them with NULL clean_text. The oracle now LEFT JOINs from
    the base table — hash-compare both engines on a fixture that actually
    contains a null text (the driver's sf0.01 fixture has none)."""
    import duckdb

    import __spark_entry__ as entry

    # store with ' a ' in place of newlines: both the Spark query fn and
    # the oracle derive multi-line text via replace(' a ' -> newline)
    docs = [(i, t.replace("\n", " a ") if t is not None else None) for i, t in _DOCS]
    pq = str(tmp_path / "documents.parquet")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    oracles = entry.oracle_sql()
    for name, qfn in (
        ("line_dedup_docs", entry.q_line_dedup_docs),
        ("line_dedup_within", entry.q_line_dedup_within),
    ):
        got = {
            r["doc_id"]: (r["clean_text"], r["lines_kept"], r["lines_dropped"])
            for r in qfn(spark, str(tmp_path)).collect()
        }
        want = {
            did: (ct, int(k), int(d))
            for did, ct, k, d in con.execute(oracles[name]).fetchall()
        }
        assert got == want, name
        assert got[5] == (None, 0, 0), name  # the null-text doc survives


def test_line_counts_first_occurrence(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    rows = {r["line"]: r for r in corpus.line_counts(df, min_chars=5).collect()}
    banner = rows["shared cookie banner line"]
    assert banner["n_occurrences"] == 4
    assert (banner["first_id"], banner["first_pos"]) == (0, 1)
    # structural "-" lines are below min_chars: never counted
    assert "-" not in rows


def test_line_dedup_within_doc(spark):
    docs = [
        (0, "repeat me\nunique a\nrepeat me\nunique b\nrepeat me"),
        (1, "repeat me\nother text"),  # cross-doc repeats are NOT deduped
        (2, ""),
        (3, None),
        (4, "para one\n\npara two\n\npara three"),  # blank separators survive
        (5, "-\nlist body\n-\nmore body\n-"),  # short structural lines exempt
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["lines_kept"], r["lines_dropped"])
        for r in corpus.line_dedup_within_doc(df).collect()
    }
    assert got[0] == ("repeat me\nunique a\nunique b", 3, 2)
    assert got[1] == ("repeat me\nother text", 2, 0)
    assert got[2] == ("", 1, 0)
    assert got[3] == (None, 0, 0)
    assert got[4] == ("para one\n\npara two\n\npara three", 5, 0)
    assert got[5] == ("-\nlist body\n-\nmore body\n-", 5, 0)
    # narrow map: no exchange in the plan
    plan = corpus.line_dedup_within_doc(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# contamination
# ---------------------------------------------------------------------------


def test_contamination_report_counts(spark):
    corpus_df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "pack my box with five dozen liquor jugs"),
            (2, "the quick brown fox sat still"),
            (3, "tiny"),  # shorter than n tokens -> zero ngrams
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps today")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["total_ngrams"], r["hits"], r["contaminated"])
        for r in corpus.contamination_report(corpus_df, eval_df, n=4).collect()
    }
    # eval 4-grams include "the quick brown fox" and "quick brown fox jumps"
    assert got[0] == (6, 2, True)
    assert got[1] == (5, 0, False)
    assert got[2] == (3, 1, True)
    assert got[3] == (0, 0, False)


def test_contamination_eval_side_is_broadcast(spark):
    corpus_df = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    eval_df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    plan = (
        corpus.contamination_report(corpus_df, eval_df, n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# URL filtering
# ---------------------------------------------------------------------------

_URL_CASES = [
    ("https://www.Example.COM/path?q=1", "www.example.com", "example.com"),
    ("http://sub.a.news.co.uk/x", "sub.a.news.co.uk", "news.co.uk"),
    ("https://user:pw@host7.example.org:8443/p", "host7.example.org", "example.org"),
    ("ftp://single/x", "single", "single"),
    ("not a url", "", ""),
]


def test_url_host_and_registered_domain(spark):
    df = spark.createDataFrame([(u,) for u, _, _ in _URL_CASES], "url string")
    got = {
        r["url"]: (r["host"], r["dom"])
        for r in df.select(
            "url",
            corpus.url_host_expr(F.col("url")).alias("host"),
            corpus.url_registered_domain_expr(F.col("url")).alias("dom"),
        ).collect()
    }
    for url, host, dom in _URL_CASES:
        assert got[url] == (host, dom), url


def test_url_filter_list_and_df_blocklists(spark, pages):
    annotated = corpus.url_filter(pages, ["host3.example"], url_col="url")
    blocked = annotated.filter("url_blocked").select("registered_domain").distinct().collect()
    assert [r[0] for r in blocked] == ["host3.example"]
    n_blocked = annotated.filter("url_blocked").count()
    assert 0 < n_blocked < pages.count()
    # DataFrame blocklist (broadcast-join path) agrees with the isin path
    bl_df = pages.sparkSession.createDataFrame([("host3.example",)], "d string")
    annotated2 = corpus.url_filter(pages, bl_df, url_col="url")
    assert annotated2.filter("url_blocked").count() == n_blocked
    plan = annotated2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_url_list_blocklist_is_scan_pushable(spark, pages):
    """The isin-literal path must stay a pure Filter (no join) so it can
    run at the scan before any text is materialized."""
    plan = (
        corpus.url_filter(pages, ["host3.example"])
        .filter(~F.col("url_blocked"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# duplicated spans
# ---------------------------------------------------------------------------


def test_duplicated_span_report(spark):
    shared = " ".join(f"w{i}" for i in range(25))  # 25-token verbatim overlap
    docs = [
        (0, shared + " " + " ".join(f"a{i}" for i in range(30))),
        (1, " ".join(f"b{i}" for i in range(30)) + " " + shared),
        (2, " ".join(f"c{i}" for i in range(60))),  # unique content
        (3, "too short"),
        (4, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in corpus.duplicated_span_report(df, window=15, stride=5).collect()
    }
    # 25 shared tokens >= window + stride - 1 = 19 → at least one sampled
    # window lands fully inside the overlap on BOTH docs
    assert got[0]["dup_spans"] >= 1 and got[1]["dup_spans"] >= 1
    assert got[2]["dup_spans"] == 0 and got[2]["spans"] > 0
    assert got[3]["spans"] == 0 and got[3]["dup_frac"] == 0.0
    assert got[4]["spans"] == 0
    for r in got.values():
        if r["spans"]:
            assert abs(r["dup_frac"] - r["dup_spans"] / r["spans"]) < 1e-6


def test_duplicated_span_alignment_guarantee(spark):
    """Doc 1's copy of the span starts at an arbitrary offset — strided
    sampling must still catch it (window + stride - 1 guarantee)."""
    span = " ".join(f"s{i}" for i in range(19))  # exactly window+stride-1
    for offset in range(5):
        prefix = " ".join(f"p{i}" for i in range(offset)) if offset else ""
        a = (span + " " + " ".join(f"x{i}" for i in range(20))).strip()
        b = ((prefix + " " + span).strip() + " " + " ".join(f"y{i}" for i in range(20))).strip()
        df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
        got = {
            r["doc_id"]: r["dup_spans"]
            for r in corpus.duplicated_span_report(df, window=15, stride=5).collect()
        }
        assert got[0] >= 1 and got[1] >= 1, f"missed at offset {offset}"


def test_duplicated_span_max_tokens_cap(spark, monkeypatch):
    """Overlap beyond the analyzed prefix is (by design) invisible; the
    cap bounds per-row state for pathological documents."""
    span = " ".join(f"z{i}" for i in range(25))
    head = " ".join(f"h{i}" for i in range(30))
    docs = [(0, head + " " + span), (1, span + " tail text here now")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    full = {r["doc_id"]: r["dup_spans"] for r in corpus.duplicated_span_report(df).collect()}
    monkeypatch.setattr(corpus, "DEFAULT_SPAN_MAX_TOKENS", 30)
    capped = {
        r["doc_id"]: r["dup_spans"] for r in corpus.duplicated_span_report(df).collect()
    }
    assert full[0] >= 1 and full[1] >= 1      # overlap seen uncapped
    assert capped[0] == 0                     # doc 0's copy lies past the cap
