"""Uniqueness enforcement (D1-D2).

The reference delegates uniqueness to Postgres UNIQUE constraints on id and
email (reference postgres/entrypoint-init.d/init-db.sh:13,16) with a
per-row retry fallback when a batch insert hits a duplicate (reference
cmd/csvreader/csvreader.go:87-107). Spark enforces no constraints, so the
insertable subset is computed declaratively BEFORE the write:

  1. in-batch dedup on id, then email — deterministic first-writer-wins
     (lowest id / file order proxy) via min-aggregation, not
     dropDuplicates, so results are reproducible across retries;
  2. anti-join against the existing store on both keys.

At scale: the in-batch dedup is a hash aggregate (map-side partial combine
on the dedup key); the anti-join broadcasts whichever side is small — for
a huge store and a small batch Spark's AQE flips the build side; with a
bucketed store table on `email` the anti-join is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedupe_batch(batch: DataFrame, keys: tuple[str, ...] = ("id", "email")) -> DataFrame:
    """Keep exactly one row per unique value of EACH key column.

    Deterministic first-writer-wins: the surviving row for a duplicated
    key is the one with the smallest (id, email) ordering — a stable
    proxy for "first in the file" that doesn't depend on partition order.
    """
    out = batch
    for key in keys:
        w = Window.partitionBy(key).orderBy(*[F.col(c).asc_nulls_last() for c in batch.columns])
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return out


def anti_join_existing(
    batch: DataFrame, existing: DataFrame, keys: tuple[str, ...] = ("id", "email")
) -> DataFrame:
    """Drop batch rows whose id OR email already exists in the store (D1).

    Left-anti joins per key; each is broadcast-able when either side is
    small and AQE picks the physical strategy at runtime.
    """
    out = batch
    for key in keys:
        out = out.join(existing.select(key).distinct(), on=key, how="left_anti")
    return out


def rejected_duplicates(
    batch: DataFrame, existing: DataFrame, keys: tuple[str, ...] = ("id", "email")
) -> DataFrame:
    """The batch minus its surviving rows, with reasons — the quarantine
    feed for duplicate rows (replaces the reference's per-row-retry
    error log, csvreader.go:90-101). A multiset difference, so an exact
    in-batch copy of a survivor is quarantined once per extra copy; a
    key-based anti-join would drop every copy of the survivor's key."""
    surviving = anti_join_existing(dedupe_batch(batch, keys), existing, keys)
    return batch.exceptAll(surviving.select(*batch.columns)).withColumn(
        "reason", F.lit("duplicate_key")
    )
