"""Vectorized pandas UDFs for language-ID and perplexity.

The models are trained deterministically from the seeded corpus inside
each Python worker on first use (``lru_cache``) — equivalent to a
broadcast of fitted weights (the weights are a pure function of the seed),
with zero serialization cost. Arrow batches flow in/out; the numpy math
is batch-vectorized (functions/textmodel.py).

This is the engine's only Python in the scoring hot path, per the §2.10
UDF budget (model inference cannot be expressed as built-ins).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .textmodel import langid_model, perplexity_model

_LANGID_SCHEMA = T.StructType(
    [
        T.StructField("lang_pred", T.StringType()),
        T.StructField("margin", T.DoubleType()),
    ]
)


@F.pandas_udf(_LANGID_SCHEMA)
def langid_udf(texts: pd.Series) -> pd.DataFrame:
    model = langid_model()
    labels, margins = model.predict_batch(texts.fillna("").tolist())
    return pd.DataFrame({"lang_pred": labels, "margin": margins})


@F.pandas_udf(T.DoubleType())
def log_perplexity_udf(texts: pd.Series) -> pd.Series:
    model = perplexity_model()
    return pd.Series(model.log_perplexity_batch(texts.fillna("").tolist()))
