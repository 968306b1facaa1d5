"""Data-quality expectations as a batch audit: `dq1_order_expectations`
counts each declarative row rule's violations over the orders table
("how dirty is this feed?").

Rules are plain Column predicates, so they ride the scan and stay
inside whole-stage codegen; all counters come from one scalar
aggregate, so the audit adds no shuffle beyond a single 1-row exchange.
(Reference parity: the reference hard-codes its two row rules in Go —
upload/customers.go's id/email checks; this generalizes them to
declarative, metered rules.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dq1_order_expectations(orders: DataFrame) -> DataFrame:
    """Per-rule violation counts over the orders table, as a query: the
    batch-audit shape ("how dirty is this feed?") with one scan, one
    scalar aggregate, and an unpivot of the 1-row result — map-only +
    a single 1-row exchange."""
    rules = {
        "positive_total": F.col("o_totalprice") > 0,
        "has_customer": F.col("o_custkey").isNotNull(),
        "known_status": F.col("o_orderstatus").isin("O", "F", "P"),
        "date_in_range": (
            (F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2026-01-01").cast("timestamp"))
        ),
    }
    wide = orders.agg(
        *[
            F.sum(F.when(~cond, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias(name)
            for name, cond in rules.items()
        ],
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return (
        wide.unpivot("n_rows", list(rules), "rule_name", "n_violations")
        .select("rule_name", "n_violations", "n_rows")
        .orderBy("rule_name")
    )
