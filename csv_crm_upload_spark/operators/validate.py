"""Row validation and quarantine split (V1-V3).

Reference semantics (cmd/csvreader/csvreader.go):
  * V1 (:120-124) — id must parse as an integer; a bad id rejects that one
    row ("log and continue"), never the file.
  * V2 (:125-127) — email must be non-empty.
  * V3 (:80-82,111-118) — a malformed CSV line (wrong field count, bad
    quoting) is skipped and scanning continues.

Spark-first realization: all three are native Column predicates — no UDFs.
`cast("long")` yields NULL on failure (exactly the per-row tolerance we
want), PERMISSIVE mode routes malformed lines into `_corrupt_record`, and
one pass over the input produces BOTH outputs. The reference drops bad rows
on the floor after logging; we keep them in a quarantine DataFrame with a
typed reason — strictly more information, same clean-set semantics.

Two distinct reject paths exist on purpose (SURVEY §7.4): corrupt lines
never parsed into fields vs well-formed rows that fail a value check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.schemas import CUSTOMER_COLUMNS

# An email made only of whitespace is empty (V2). F.trim strips ASCII spaces
# alone, so a tab, newline, the \x1c-\x1f separators or a Unicode space would
# pass as a real address; this class is exactly the set Python's str.isspace
# accepts.
_BLANK_RE = (
    r"^[\t\n\x0B\f\r\x1C-\x20\x{85}\x{A0}\x{1680}\x{2000}-\x{200A}"
    r"\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]*$"
)


def validate_split(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a raw CSV batch into (clean, quarantine).

    clean: CUSTOMER-typed columns (id cast to long, 5 business cols).
    quarantine: original raw strings + `reason` in
      {malformed_line, bad_id, empty_email}.
    """
    has_corrupt = "_corrupt_record" in raw.columns
    corrupt_col = F.col("_corrupt_record") if has_corrupt else F.lit(None).cast("string")

    # try_cast: NULL on failure (ANSI-safe; plain cast throws under Spark 4's
    # default ANSI mode). Matches DuckDB TRY_CAST for oracle parity.
    annotated = raw.withColumn(
        "reason",
        F.when(corrupt_col.isNotNull(), F.lit("malformed_line"))
        .when(F.col("id").try_cast("long").isNull(), F.lit("bad_id"))
        .when(F.col("email").isNull() | F.col("email").rlike(_BLANK_RE), F.lit("empty_email"))
        .otherwise(F.lit(None)),
    )

    clean = (
        annotated.filter(F.col("reason").isNull())
        .select(F.col("id").try_cast("long").alias("id"), *CUSTOMER_COLUMNS[1:])
    )
    quarantine = annotated.filter(F.col("reason").isNotNull()).select(
        *CUSTOMER_COLUMNS, "reason"
    )
    return clean, quarantine
