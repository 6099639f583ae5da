"""The scoring UDF's Arrow cores, checked without a Spark session.

``textstats.batch_signals`` and ``pii.batch_scrub`` must equal the
plain-Python reference labeler field by field, exactly (no tolerance), and
the n-gram models' buffer core must give bit-identical results however the
batch's string array is laid out: sliced, ``string`` or ``large_string``,
empty, or all empty texts.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from data_profiler_spark.functions.pii import PATTERNS, batch_scrub
from data_profiler_spark.functions.textmodel import langid_model, perplexity_model
from data_profiler_spark.functions.textstats import SIGNAL_FIELDS, batch_signals
from data_profiler_spark.synth import pages_pandas

from . import reference_labeler as ref

EDGE_TEXTS = [
    "",
    None,
    "\r",
    "\x0b",
    "\x0c",
    "•",  # bullet
    "…",  # ellipsis
    "a",
    "a a",
    "a a a",
    "a b a b c",
    "###...#....",
    "  - x\n* y\n•z\n...\nend…",
    "   \n \n  text  \n   ",
    " \t lead and trail \r\n",
    "café naïve über 中文 a b the",
    # case-mapping trap: simple lowercasing maps U+0130 to "i", which would
    # count "in" as a stopword; Python and Java map it to "i̇n"
    "İN the a",
    "THE",
    "K",  # Kelvin sign, lowercases to ASCII "k"
    "The THE the tHe and AND of To",
    "dup line\ndup line\n  dup line  \nother",
]


PII_EDGE_TEXTS = [
    "",
    None,
    # replacement tokens already in the raw text are left as they are
    "<SSN> <EMAIL> <CREDIT_CARD> <PHONE>",
    "write to <EMAIL> or jo@example.org about 123-45-6789",
    # an @ with no digit, and digits with no @
    "mail ann.lee@mail.example.com now",
    "not an address: a@b, @, x@y.",
    "call (555) 123-4567 or 555.123.4567, ssn 078-05-1120, year 2024",
    # a card the phone rule must not half-eat, in each separator style
    "card 4111 1111 1111 1111 / 4111-1111-1111-1111 / 4111111111111111",
    "mixed separators 4111 1111-1111 1111 and 5551234567890123456",
    "ssn-like 123-45-6789-0 and 123-45-67890",
    "zeros only: 000-00-0000, (000) 000-0000",
    "full-width ３ and Arabic-Indic ٣ digits, café@例え.jp",
]


def _fixture_texts() -> list[str | None]:
    texts: list[str | None] = []
    for seed in (1, 7):
        texts += pages_pandas(2000, seed=seed)["text"].tolist()
    return texts + EDGE_TEXTS + PII_EDGE_TEXTS


def test_signals_equal_reference_labeler_exactly():
    texts = _fixture_texts()
    got = batch_signals(pa.array(texts, pa.string())).to_pylist()
    assert len(got) == len(texts)
    bad = [
        (text, field, g[field], want[field])
        for text, g in zip(texts, got)
        for want in [ref.signals(text or "")]
        for field in SIGNAL_FIELDS
        if g[field] != want[field] or type(g[field]) is not type(want[field])
    ]
    assert not bad, f"{len(bad)} signal mismatches; first: {bad[:3]}"


def test_scrub_equals_reference_labeler_exactly():
    texts = _fixture_texts()
    scrubbed, counts = batch_scrub(pa.array(texts, pa.string()))
    names = [name for name, _, _ in PATTERNS]
    assert [f.name for f in counts.type] == names
    got = list(zip(scrubbed.to_pylist(), counts.to_pylist()))
    want = [ref.scrub(t) if t is not None else (None, dict.fromkeys(names)) for t in texts]
    bad = [(t, g, w) for t, g, w in zip(texts, got, want) if g != w]
    assert not bad, f"{len(bad)} scrub mismatches; first: {bad[:3]}"
    # the fixture exercises every rule and both prefilter outcomes
    assert all(any(c[name] for _, c in want if c) for name in names)
    assert any(t and "@" not in t and not any(ch in "0123456789" for ch in t) for t in texts)


def test_stopwords_use_full_case_mapping():
    got = batch_signals(pa.array(["İN the a", "THE", "K"])).to_pylist()
    assert [g["stopword_hits"] for g in got] == [2, 1, 0]


def _model_outputs(texts: pa.Array) -> tuple[list, np.ndarray, np.ndarray]:
    labels, margins = langid_model().predict(texts)
    return labels.to_pylist(), margins, perplexity_model().log_perplexity(texts)


def _scrub_outputs(texts: pa.Array) -> tuple[list, list]:
    scrubbed, counts = batch_scrub(texts)
    assert scrubbed.type == texts.type
    return scrubbed.to_pylist(), counts.to_pylist()


def _assert_same(a, b):
    assert a[0] == b[0]
    assert a[1].tobytes() == b[1].tobytes()
    assert a[2].tobytes() == b[2].tobytes()


@pytest.fixture(scope="module")
def texts() -> list[str | None]:
    return pages_pandas(300, seed=3)["text"].tolist() + EDGE_TEXTS + PII_EDGE_TEXTS


def test_buffer_core_sliced_array(texts):
    whole = pa.array(texts, pa.string())
    sliced = whole.slice(17, 250)
    assert sliced.offset == 17
    _assert_same(_model_outputs(sliced), _model_outputs(pa.array(texts[17:267], pa.string())))
    assert batch_signals(sliced).to_pylist() == batch_signals(whole).to_pylist()[17:267]
    want = _scrub_outputs(whole)
    assert _scrub_outputs(sliced) == (want[0][17:267], want[1][17:267])
    tail = len(PII_EDGE_TEXTS) - 1
    assert _scrub_outputs(whole.slice(len(texts) - tail)) == (want[0][-tail:], want[1][-tail:])


def test_buffer_core_string_and_large_string(texts):
    small = pa.array(texts, pa.string())
    large = pa.array(texts, pa.large_string())
    _assert_same(_model_outputs(small), _model_outputs(large))
    assert batch_signals(small).to_pylist() == batch_signals(large).to_pylist()
    assert _scrub_outputs(small) == _scrub_outputs(large)


def test_buffer_core_matches_list_entry_points(texts):
    labels, margins = langid_model().predict_batch(texts)
    ppl = perplexity_model().log_perplexity_batch(texts)
    _assert_same(_model_outputs(pa.array(texts, pa.string())), (labels, margins, ppl))


def test_buffer_core_empty_batch():
    labels, margins, ppl = _model_outputs(pa.array([], pa.string()))
    assert labels == [] and margins.size == 0 and ppl.size == 0
    assert len(batch_signals(pa.array([], pa.string()))) == 0
    assert _scrub_outputs(pa.array([], pa.string())) == ([], [])


@pytest.mark.parametrize("typ", [pa.string(), pa.large_string()])
def test_buffer_core_all_empty_texts(typ):
    arr = pa.array(["", "", None], typ)
    labels, margins, ppl = _model_outputs(arr)
    want = _model_outputs(pa.array(["", "", ""], pa.string()))
    _assert_same((labels, margins, ppl), want)
    assert np.isinf(ppl).all()
    # the same docs in a sliced array whose value buffer is not empty
    tail = pa.array(["some text", "", "", ""], typ).slice(1)
    _assert_same(_model_outputs(tail), want)
    zero = ref.signals("")
    assert batch_signals(arr).to_pylist() == [zero] * 3
    none = dict.fromkeys(ref.scrub("")[1])
    assert _scrub_outputs(arr) == (["", "", None], [ref.scrub("")[1]] * 2 + [none])
    assert _scrub_outputs(pa.array([None, None], typ)) == ([None, None], [none, none])
