"""Vectorized pandas-UDF wrappers for the normalization core (§2.10
scalar UDF surface).

The batch pipeline computes these keys inside the fused extraction
pass (``operators/extract.py``) — one Python crossing for everything.
These standalone wrappers exist for ad-hoc use: re-keying legacy tab
data loaded via ``sources/tab.py``, or healing normalization drift
(G11 fracture).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from openie_backend_spark.nlp import stemmer


def _key_udf(fn):
    @pandas_udf(StringType())
    def udf(tokens: pd.Series, tags: pd.Series) -> pd.Series:
        out = []
        for toks, tg in zip(tokens, tags):
            if toks is None or tg is None:
                out.append(None)
            else:
                out.append(fn(list(toks), list(tg)))
        return pd.Series(out)

    return udf


index_key_udf = _key_udf(stemmer.index_key_part)
frontend_key_udf = _key_udf(stemmer.frontend_key_part)
head_phrase_udf = _key_udf(stemmer.head_phrase)
