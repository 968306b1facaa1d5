"""JSON-lines source — the CSV source's second ingestion format, with
IDENTICAL downstream semantics: imposed schema (field names, not
positions, do the matching here), PERMISSIVE parse with a corrupt-record
column, and the same validate/quarantine split consuming the result
(operators.validate is format-agnostic by design — it only sees the
customer schema + `_corrupt_record`).

Why it exists: the reference ingests CSV only; a training-data engine
ingests whatever the upstream exports. JSONL is the other ubiquitous
interchange format, and Spark's json datasource gives the same
streaming-split, predicate-pushdown-capable scan as csv — one reader
swap, zero changes to the rest of the pipeline (asserted by the
round-trip test that runs the SAME batch through both sources).

Batch only: `ingest --jsonl` reads a file; `watch` streams CSV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from csv_crm_upload_spark.schemas import CUSTOMER_CSV_SCHEMA

_JSON_OPTIONS = {
    "mode": "PERMISSIVE",
    "columnNameOfCorruptRecord": "_corrupt_record",
}


def read_customers_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Batch JSONL scan with the customer schema (S1+S3 in JSON form).
    Unlike CSV there is no header concept — field NAMES bind, extra
    fields are ignored, missing fields are null (and then subject to the
    same required-field validation)."""
    return spark.read.schema(CUSTOMER_CSV_SCHEMA).options(**_JSON_OPTIONS).json(path)
