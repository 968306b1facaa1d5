"""Parquet table source for the driver testdata (TESTDATA.md).

Loads are plain `spark.read.parquet` scans with no declared schema: the
schema comes from the parquet footers, and schemas.TESTDATA_SCHEMAS is
consulted only to convert timestamp columns that read back as nanosecond
longs. Column pruning and predicate pushdown reach the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_crm_upload_spark.schemas import TESTDATA_SCHEMAS


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Plain parquet scan: pushdown-friendly.

    Parquet TIMESTAMP(NANOS) columns (events.ts) surface as nanos-longs
    under `nanosAsLong`; convert to microsecond timestamps with integer
    division (ns values exceed double's exact range — never go through
    float). The conf is (re)set here at runtime so loads also work from
    sessions not built by our factory (e.g. the driver's own)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    want = TESTDATA_SCHEMAS.get(name)
    if want is not None:
        actual = dict(df.dtypes)
        for field in want.fields:
            if field.dataType.typeName() == "timestamp" and actual.get(field.name) == "bigint":
                df = df.withColumn(field.name, F.expr(f"timestamp_micros({field.name} DIV 1000)"))
    return df
