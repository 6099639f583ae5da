"""The scoring UDF: language ID, perplexity, the quality signals and the
PII scrub in one Arrow pass.

:data:`score_udf` is a Spark ``arrow_udf``: it receives each batch's
``text`` column as a ``pyarrow`` string array and returns one struct per
row — ``lang_pred``, ``margin``, ``log_ppl``, the 11 signal fields of
``textstats.SIGNALS_TYPE``, ``scrubbed_text`` and ``pii_counts``. The
models read the array's UTF-8 value buffer directly (functions/textmodel.py)
and the signals come from pyarrow.compute kernels plus numpy
(functions/textstats.py), so there is no per-row Python there; the scrub
(functions/pii.py) runs ``re.subn`` only on the texts holding a digit or an
``@``. Each text crosses the JVM/Python boundary once. A null text scores
as ``""``, but its scrubbed text and PII counts stay null.

The models are trained deterministically from the seeded corpus inside
each Python worker on first use (``lru_cache``) — equivalent to a
broadcast of fitted weights (the weights are a pure function of the seed),
with zero serialization cost.

:data:`langid_udf` and :data:`log_perplexity_udf` run the same model cores
on their own, for callers that time one model (perfbench's ``langid``
layer).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pii import SCRUB_TYPE, batch_scrub
from .textmodel import langid_model, perplexity_model
from .textstats import SIGNALS_TYPE, batch_signals

_LANGID_FIELDS = [
    T.StructField("lang_pred", T.StringType()),
    T.StructField("margin", T.DoubleType()),
]
SCORE_TYPE = T.StructType(
    _LANGID_FIELDS
    + [T.StructField("log_ppl", T.DoubleType())]
    + SIGNALS_TYPE.fields
    + SCRUB_TYPE.fields
)


def _langid(texts: pa.Array) -> list[pa.Array]:
    labels, margins = langid_model().predict(texts)
    return [labels, pa.array(margins, pa.float64())]


def _log_ppl(texts: pa.Array) -> pa.Array:
    return pa.array(perplexity_model().log_perplexity(texts), pa.float64())


@F.arrow_udf(SCORE_TYPE)
def score_udf(texts: pa.Array) -> pa.Array:
    return pa.StructArray.from_arrays(
        [
            *_langid(texts),
            _log_ppl(texts),
            *batch_signals(texts).flatten(),
            *batch_scrub(texts),
        ],
        names=SCORE_TYPE.fieldNames(),
    )


@F.arrow_udf(T.StructType(_LANGID_FIELDS))
def langid_udf(texts: pa.Array) -> pa.Array:
    return pa.StructArray.from_arrays(_langid(texts), names=["lang_pred", "margin"])


@F.arrow_udf(T.DoubleType())
def log_perplexity_udf(texts: pa.Array) -> pa.Array:
    return _log_ppl(texts)
