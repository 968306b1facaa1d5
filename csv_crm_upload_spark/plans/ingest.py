"""End-to-end ingest plan — the reference's csvReader pipeline (SURVEY §3.1)
as ONE declarative DataFrame flow:

    read CSV (S1-S3) → validate/quarantine (V1-V3) → in-batch dedup +
    anti-join vs store (D1-D2) → defaults (U3) → append (S5)

The reference runs this as hard-coded control flow over 5-row buffers with
txn-rollback-and-retry error isolation; here the insertable subset is
computed declaratively before any write, so "one dup sinking the batch"
can't happen by construction and the whole flow is a single Catalyst plan
(filters and the 5-column projection reach the CSV scan; the anti-join
broadcasts its small side).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_crm_upload_spark.operators.dedup import dedupe_batch
from csv_crm_upload_spark.operators.mutate import finalize_columns
from csv_crm_upload_spark.operators.store import CustomerStore
from csv_crm_upload_spark.operators.validate import validate_split
from csv_crm_upload_spark.schemas import CUSTOMER_COLUMNS
from csv_crm_upload_spark.sources.csv_source import read_customers_csv


@dataclass
class IngestResult:
    inserted: int
    quarantined: int
    duplicates: int


def ingest_batch(
    batch: DataFrame, store: CustomerStore, now=None, quarantine_dir: str | None = None
) -> IngestResult:
    """Ingest one raw-CSV-shaped batch into the store.

    With `quarantine_dir`, rejected rows (validation failures AND
    duplicate-key losers, each with a typed reason) are appended there —
    the auditable upgrade over the reference's log-and-drop
    (csvreader.go:80-82,90-101)."""
    from csv_crm_upload_spark.operators.dedup import rejected_duplicates

    clean, quarantine = validate_split(batch)
    deduped = dedupe_batch(clean)
    finalized = finalize_columns(deduped, now=now)

    n_clean = clean.count()
    n_quarantine = quarantine.count()
    if quarantine_dir is not None:
        # the store is read for this audit only: uniqueness itself is
        # enforced by append_unique, which re-verifies the anti-join
        # against the CURRENT snapshot inside the store's write lock. The
        # audit MUST evaluate before the append: a JDBC store's read() is
        # lazy, so deferring this past append_unique would re-read the
        # table with this batch already inserted and quarantine every
        # successfully inserted row as a duplicate_key
        dup_rejects = rejected_duplicates(clean, store.read()).select(
            F.col("id").cast("string").alias("id"), *CUSTOMER_COLUMNS[1:], "reason"
        )
        quarantine.unionByName(dup_rejects).write.mode("append").parquet(quarantine_dir)
    # empty insertable sets commit no new version (reference bug §2.10 avoided)
    n_insert = store.append_unique(finalized)
    return IngestResult(
        inserted=n_insert,
        quarantined=n_quarantine,
        duplicates=n_clean - n_insert,
    )


def ingest_csv(
    spark: SparkSession,
    path: str,
    store: CustomerStore,
    header: bool = True,
    quarantine_dir: str | None = None,
) -> IngestResult:
    """Full-file batch ingest (the finite-run mode of the reference CLI)."""
    return ingest_batch(
        read_customers_csv(spark, path, header=header),
        store,
        quarantine_dir=quarantine_dir,
    )
