"""Mutation / defaults / state transition (U1-U3).

U3 — insert-time defaults: uploaded=false, created_ts/modified_ts=now
  (reference init-db.sh:19-21, database/database.go:65-77). Unlike the
  reference (whose JSON-tag mismatch leaves modified_ts NULL until the
  first update — SURVEY §1.3), we set it at write time.
U1 — flag flip after confirmed upload: `UPDATE ... SET uploaded=true WHERE
  email=$1` (reference database/database.go:19,176-198). On immutable
  columnar storage this is a keyed MERGE; the plain-parquet realization is
  a broadcast semi-join recompute (see mark_uploaded) executed by
  CustomerStore as a partition overwrite.
U2 — modified_ts maintenance trigger (reference init-db.sh:28-36): folded
  into U1, no trigger machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def now_ts(now=None) -> F.Column:
    """The write time: `now` as a timestamp literal when given (tests pin
    it), else the query's current_timestamp()."""
    return F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()


def finalize_columns(clean: DataFrame, now=None) -> DataFrame:
    """U3: add store columns with insert-time defaults."""
    ts = now_ts(now)
    return (
        clean.withColumn("uploaded", F.lit(False))
        .withColumn("created_ts", ts)
        .withColumn("modified_ts", ts)
    )


def mark_uploaded(table: DataFrame, succeeded_emails: DataFrame, now=None) -> DataFrame:
    """U1+U2 as a pure DataFrame transform: flip `uploaded` for rows whose
    email is in `succeeded_emails` (single column `email`), refreshing
    modified_ts on exactly the flipped rows.

    The success set is tiny relative to the table (one upload cycle), so
    the semi-join broadcasts — no shuffle of the big side.
    """
    ts = now_ts(now)
    hits = F.broadcast(
        succeeded_emails.select(F.col("email").alias("_hit_email")).distinct()
    )
    flip = F.col("_hit_email").isNotNull() & ~F.col("uploaded")
    return (
        table.join(hits, table["email"] == F.col("_hit_email"), "left")
        .withColumn("modified_ts", F.when(flip, ts).otherwise(F.col("modified_ts")))
        .withColumn("uploaded", F.when(flip, F.lit(True)).otherwise(F.col("uploaded")))
        .drop("_hit_email")
    )
