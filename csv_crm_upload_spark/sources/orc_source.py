"""ORC source — the third ingestion format, completing the
CSV / JSONL / columnar trio with IDENTICAL downstream semantics.

ORC (like parquet) is typed and self-describing: there is no malformed
LINE concept, so no `_corrupt_record` rows arise from the reader — the
column is added as a null literal so operators.validate sees the exact
same contract it sees from the text formats (schema binds by field
NAME; missing columns surface as nulls and fall to the same
required-field validation; extra columns are ignored).

Spark's orc datasource is a built-in columnar scan with predicate
pushdown and column pruning — the same scan properties the parquet
store enjoys, applied at the ingest boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_crm_upload_spark.schemas import CUSTOMER_CSV_SCHEMA


def read_customers_orc(spark: SparkSession, path: str) -> DataFrame:
    """Batch ORC scan with the customer schema imposed by name."""
    df = spark.read.schema(CUSTOMER_CSV_SCHEMA).orc(path)
    return df.withColumn("_corrupt_record", F.lit(None).cast("string"))

