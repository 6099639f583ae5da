"""North-rule correctness gate: keep/drop F1 vs the single-process reference
labeler + byte-identical scrubbed text per document (BASELINE.json metric)."""

from __future__ import annotations

import pytest

from data_profiler_spark.pipeline import score_pages
from data_profiler_spark.synth import gen_doc

from . import reference_labeler as ref


@pytest.fixture(scope="module")
def scored_vs_ref(pages):
    rows = (
        score_pages(pages)
        .select("doc_id", "text", "lang", "lang_pred", "log_ppl", "signals",
                "drop_reasons", "keep", "scrubbed_text", "pii_counts")
        .collect()
    )
    texts = [r["text"] for r in rows]
    labels = ref.label_batch(texts)
    return rows, labels


def test_keep_drop_f1(scored_vs_ref):
    rows, labels = scored_vs_ref
    tp = fp = fn = agree = 0
    for r, l in zip(rows, labels):
        if r["keep"] and l["keep"]:
            tp += 1
        elif r["keep"] and not l["keep"]:
            fp += 1
        elif not r["keep"] and l["keep"]:
            fn += 1
        if r["keep"] == l["keep"]:
            agree += 1
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, f"F1={f1} (tp={tp} fp={fp} fn={fn}, agree={agree}/{len(rows)})"
    # both kept and dropped classes must actually occur in the fixture
    assert tp > 0 and (fp + fn) < len(rows)
    assert any(not l["keep"] for l in labels)


def test_scrubbed_text_byte_identical(scored_vs_ref):
    rows, labels = scored_vs_ref
    mismatches = [
        (r["doc_id"], r["scrubbed_text"], l["scrubbed_text"])
        for r, l in zip(rows, labels)
        if r["scrubbed_text"] != l["scrubbed_text"]
    ]
    assert not mismatches, f"{len(mismatches)} scrub mismatches; first: {mismatches[0]}"
    # PII actually present and scrubbed in the fixture
    assert any("<EMAIL>" in l["scrubbed_text"] for l in labels)
    assert any("<SSN>" in l["scrubbed_text"] for l in labels)
    assert any("<CREDIT_CARD>" in l["scrubbed_text"] for l in labels)
    assert any("<PHONE>" in l["scrubbed_text"] for l in labels)


def test_drop_reasons_match(scored_vs_ref):
    rows, labels = scored_vs_ref
    bad = [
        (r["doc_id"], list(r["drop_reasons"]), l["drop_reasons"])
        for r, l in zip(rows, labels)
        if list(r["drop_reasons"]) != l["drop_reasons"]
    ]
    assert not bad, f"{len(bad)} reason mismatches; first: {bad[0]}"


def test_pii_counts_match(scored_vs_ref):
    rows, labels = scored_vs_ref
    for r, l in zip(rows, labels):
        assert r["pii_counts"].asDict() == l["pii_counts"], r["doc_id"]


def test_signals_match(scored_vs_ref):
    rows, labels = scored_vs_ref
    for r, l in zip(rows, labels):
        s, e = r["signals"].asDict(), l["signals"]
        for k, v in e.items():
            got = s[k]
            assert got == pytest.approx(v, abs=1e-9), (r["doc_id"], k, got, v)


def test_langid_accuracy_on_ground_truth(scored_vs_ref):
    """The seeded langid model must be reliable on the synthetic fixture —
    otherwise the lang gate is noise, not signal."""
    rows, _ = scored_vs_ref
    ok = sum(1 for r in rows if r["lang_pred"] == r["lang"])
    assert ok / len(rows) >= 0.98, f"langid accuracy {ok}/{len(rows)}"


def test_determinism_same_doc():
    a, b = gen_doc(123), gen_doc(123)
    assert a == b


def test_dup_2gram_rule_fires(spark):
    """Gopher-style n-gram repetition (north_star 'repetition n-gram dedup
    counts'): looped boilerplate trips dup_2grams, clean prose doesn't, and
    the Spark expression agrees with the labeler on both and on the
    boundaries: no words, one word (no 2-grams), one 2-gram, a repeat,
    and an interleaved repeat."""
    from pyspark.sql import functions as F

    from data_profiler_spark.functions.textstats import (
        heuristic_drop_reasons_expr,
        with_signals,
    )

    looped = " ".join(["buy now"] * 50)
    clean = (
        "The quick brown fox jumps over the lazy dog and then rests with a "
        "friend in the shade of an old oak tree near the river bank."
    )
    texts = [looped, clean, "", "a", "a a", "a a a", "a b a b c"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in with_signals(df)
        .withColumn("reasons", heuristic_drop_reasons_expr(F.col("signals")))
        .collect()
    }
    assert "dup_2grams" in out[0]["reasons"]
    assert "dup_2grams" not in out[1]["reasons"]
    for i, text in enumerate(texts):
        sig = ref.signals(text)
        got = out[i]["signals"].asDict()["dup_2gram_fraction"]
        assert got == pytest.approx(sig["dup_2gram_fraction"], abs=1e-9), text
    assert out[0]["signals"]["dup_2gram_fraction"] > 0.9
    assert [out[i]["signals"]["dup_2gram_fraction"] for i in (2, 3, 4, 5)] == [
        0.0, 0.0, 0.0, 0.5
    ]


def test_mean_line_length_rule_fires(spark):
    """north_star 'mean line length': an unbroken minified-style blob trips
    mean_line_length; normal multi-line prose does not; Spark and labeler
    agree on the signal value."""
    from pyspark.sql import functions as F

    from data_profiler_spark.functions.textstats import (
        heuristic_drop_reasons_expr,
        with_signals,
    )

    blob = "var a=1;" * 400  # one 3200-char line
    prose = "The cat sat on the mat with a friend.\n" * 20
    df = spark.createDataFrame([(0, blob), (1, prose)], "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in with_signals(df)
        .withColumn("reasons", heuristic_drop_reasons_expr(F.col("signals")))
        .collect()
    }
    assert "mean_line_length" in out[0]["reasons"]
    assert "mean_line_length" not in out[1]["reasons"]
    for i, text in ((0, blob), (1, prose)):
        sig = ref.signals(text)
        got = out[i]["signals"].asDict()["mean_line_length"]
        assert got == pytest.approx(sig["mean_line_length"], abs=1e-9)


def test_null_text_scores_as_empty_text(spark):
    """A null text gets the signals and drop reasons of ``""``; its
    scrubbed text stays null, so the manifest's ``null_text`` counts it."""
    df = spark.createDataFrame([(0, None), (1, "")], "doc_id int, text string")
    rows = {r["doc_id"]: r for r in score_pages(df).collect()}
    assert rows[0]["signals"] == rows[1]["signals"]
    assert list(rows[0]["drop_reasons"]) == list(rows[1]["drop_reasons"])
    assert list(rows[1]["drop_reasons"]) == ref.label_batch([""])[0]["drop_reasons"]
    assert rows[0]["scrubbed_text"] is None and rows[1]["scrubbed_text"] == ""


def test_score_pages_plan_is_one_arrow_pass(pages):
    """Scoring crosses to Python once (one ArrowEvalPython node for the
    models, the signals and the PII scrub) and leaves no higher-order lambda
    in the JVM plan: those run interpreted, outside whole-stage codegen.
    Nor does it leave a JVM regex: the scrub and its counts come from the
    same Arrow pass, not from a second sweep over UTF-16 copies."""
    plan = score_pages(pages)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython ") == 1, plan
    assert "lambdafunction" not in plan, plan
    assert "regexp_replace" not in plan and "regexp_count" not in plan, plan
