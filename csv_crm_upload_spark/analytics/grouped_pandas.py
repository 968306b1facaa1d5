"""Grouped-map Pandas operator (applyInPandas) — the Arrow surface next
to mapInPandas (multimodal): whole-group computations that genuinely
need a dataframe in hand (quantile fits, per-group models).

Kept OUT of hot relational paths on purpose (UDFs are the slow path);
this demonstrates the correct shape: one shuffle on the group key, Arrow
batches per group, small typed output.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

SOURCE_STATS_SCHEMA = StructType(
    [
        # nullable: a NULL source is a legitimate group (DuckDB groups
        # it too); a False here turns that group into an executor NPE
        StructField("source", StringType(), True),
        StructField("n_docs", LongType(), False),
        StructField("median_chars", DoubleType(), True),
        StructField("iqr_chars", DoubleType(), True),
    ]
)


def source_char_stats(documents: DataFrame) -> DataFrame:
    """Per-source median + IQR of document length via applyInPandas.

    numpy's linear-interpolation percentiles match ANSI
    PERCENTILE_CONT / DuckDB quantile_cont exactly, so this Python-side
    op still has a SQL oracle."""

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        chars = pdf["n_chars"].to_numpy(dtype=np.float64)
        q25, q50, q75 = np.percentile(chars, [25, 50, 75])
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n_docs": [len(pdf)],
                "median_chars": [round(float(q50), 4)],
                "iqr_chars": [round(float(q75 - q25), 4)],
            }
        )

    return (
        documents.select("source", "n_chars")
        .groupBy("source")
        .applyInPandas(stats, SOURCE_STATS_SCHEMA)
    )
