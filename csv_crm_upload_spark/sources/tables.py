"""Parquet table source for the driver testdata (TESTDATA.md).

Every load is a declared-schema read: `schemas.TESTDATA_SCHEMAS` gives
the columns and types, so building a query starts no footer-inference
job. The declared types are exactly what inference yields on the
generated files (timestamps are zone-less microseconds, read as
`timestamp_ntz`); `tests/test_tables.py` pins the equality. Column
pruning and predicate pushdown reach the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from csv_crm_upload_spark.schemas import TESTDATA_SCHEMAS


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a pushdown-friendly parquet scan under
    its declared schema."""
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )
