"""Sequence-packing assignment (operators/packing.py)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_profiler_spark.operators.packing import pack_sequences


def _py_pack(rows, seq_len):
    """Single-process reference: md5-ordered concat-then-chunk."""
    order = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    out, acc = {}, 0
    for did, tok in order:
        t = tok or 0
        out[did] = (t, acc, acc // seq_len, acc % seq_len)
        acc += t
    return out


def test_pack_matches_global_reference(spark):
    rows = [(i, (i * 7) % 90 + 1) for i in range(200)] + [(999, None)]
    df = spark.createDataFrame(rows, "doc_id long, tk int")
    got = {
        r["doc_id"]: (r["tokens"], r["global_offset"], r["seq_id"], r["offset_in_seq"])
        for r in pack_sequences(df, F.col("tk"), seq_len=512).collect()
    }
    assert got == _py_pack(rows, 512)


def test_pack_offsets_are_gapless_and_deterministic(documents):
    from data_profiler_spark.functions.textstats import words_expr

    tk = F.size(words_expr(F.col("text")))
    out1 = pack_sequences(documents, tk, seq_len=1024).collect()
    out2 = pack_sequences(documents, tk, seq_len=1024).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    rows = sorted(out1, key=lambda r: r["global_offset"])
    acc = 0
    for r in rows:
        assert r["global_offset"] == acc  # gapless concatenation
        assert r["seq_id"] == acc // 1024
        assert r["offset_in_seq"] == acc % 1024
        acc += r["tokens"]
    assert rows[-1]["seq_id"] == (rows[-1]["global_offset"]) // 1024


def test_pack_rejects_bad_seq_len(spark):
    df = spark.createDataFrame([(1, 5)], "doc_id long, tk int")
    with pytest.raises(ValueError):
        pack_sequences(df, F.col("tk"), seq_len=0)


def test_pack_excludes_null_ids(spark):
    df = spark.createDataFrame([(1, 5), (None, 7), (2, 3)], "doc_id long, tk int")
    rows = pack_sequences(df, F.col("tk"), seq_len=8).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]
    assert sum(r["tokens"] for r in rows) == 8  # null-id doc occupies no room
