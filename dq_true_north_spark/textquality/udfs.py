"""Arrow-vectorized pandas UDFs for the non-relational stages: langid,
perplexity, scrub-parity checking.

These are the ONLY Python-side compute in the corpus pipeline
(input_hint: "vectorized pandas/Arrow UDFs, no per-row Python" — batches
cross the JVM/Python boundary via Arrow; per-batch work is numpy against
module-level model singletons initialized once per executor process).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from . import langmodel


import numpy as np


@F.pandas_udf(
    StructType(
        [
            StructField("pred_lang", StringType()),
            StructField("lang_confidence", DoubleType()),
        ]
    )
)
def langid_udf(texts: pd.Series) -> pd.DataFrame:
    langs, conf, _ = langmodel.analyze_batch(texts.tolist())
    return pd.DataFrame(
        {"pred_lang": langs, "lang_confidence": np.round(conf, 6)}
    )


@F.pandas_udf(
    StructType(
        [
            StructField("pred_lang", StringType()),
            StructField("lang_confidence", DoubleType()),
            StructField("perplexity", DoubleType()),
        ]
    )
)
def lang_ppl_udf(texts: pd.Series) -> pd.DataFrame:
    """Fused langid + perplexity: ONE Python hop, the text column crosses
    the JVM/Arrow boundary once, and the whole batch is analyzed by the
    vectorized numpy kernel (langmodel.analyze_batch — no per-row Python).
    langid_udf above serves the standalone langid query."""
    langs, conf, ppl = langmodel.analyze_batch(texts.tolist())
    return pd.DataFrame(
        {
            "pred_lang": langs,
            "lang_confidence": np.round(conf, 6),
            "perplexity": np.round(ppl, 4),
        }
    )
