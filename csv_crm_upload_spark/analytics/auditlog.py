"""Persisted per-batch sketch-audit log — the STREAMING TWIN of the
sketch-error audits: sketch_audit.py's batch
audits prove the sketches' error contracts once, over a whole corpus;
production runs them PER INGEST BATCH and alerts on within_bound=false
(SCALE.md "Audit cadence at scale"). This module turns that cadence
story into code: each event batch appends its own audit rows — the
HLL++ distinct-users estimate vs the batch's exact COUNT(DISTINCT) per
event_type, with the adrec1 error readout — to a persisted, epoch-
manifested audit log, one epoch per appended batch.

Shape and scale: the audit runs on ONE micro-batch, not the corpus —
the exact side is a batch-bounded COUNT(DISTINCT) (the documented
calibration cost, paid at batch grain where it is cheap), the sketch
side is the same fixed-memory HLL the monitoring query uses, and each
append writes ≤|event types| rows. The log itself grows by audit rows
(facts, not additive counts), so the probe view is a plain union of
the live epoch range — no sum-merge.

Reference parity note: the reference engine (csv-crm-upload) has no
sketch surface at all; this family extends the engine for the
100 TB monitoring loop, with cross-engine verification via the
audlog1 oracle pair (the stored estimates are read back by BOTH
engines; exact ground truth and every verdict column are recomputed
independently — the adrec1 discipline applied to the persisted log).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.sketch_audit import ADREC1_BOUND
from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout, Ranged

#: derived-key format stamp (manifest.check_key_format): one row per
#: (batch_key, event_type) with the adrec1 distinct-users error
#: readout at rsd=0.02. Bump when the audit set, the grouping, or the
#: bound changes.
KEY_FORMAT = "batch-distinct-audit-v1"

_ROW_COLS = (
    "batch_key string, event_type string, exact_users long, "
    "approx_users long, abs_err long, rel_err double, "
    "within_bound boolean"
)

#: rows: epoch-RANGED audit FACTS — probes union the live range (rows
#: are logged once). The explicit read
#: schema covers the empty init epoch, whose schema-only part file
#: inference alone cannot type.
LAYOUT = Layout(
    ranged={"rows": Ranged(schema=_ROW_COLS + ", epoch int")},
    key_format=KEY_FORMAT,
)


def save_audit_log(spark, path: str) -> None:
    """Initialize (or atomically reset) the audit log: an EMPTY rows
    epoch plus the manifest (manifest.rebuild)."""
    manifest.rebuild(
        path,
        LAYOUT,
        lambda e: manifest.write_epoch(
            spark.createDataFrame([], _ROW_COLS), path, LAYOUT, "rows", e
        ),
    )


def batch_audit_rows(events_batch: DataFrame, batch_key: str) -> DataFrame:
    """The adrec1 error readout computed ON one batch: HLL++
    approx_count_distinct(user_id, 0.02) vs the batch's exact
    COUNT(DISTINCT user_id) per event_type, abs/rel error, and the
    3-sigma within_bound verdict. One aggregation produces BOTH sides
    (the batch is the snapshot — persisting the output row freezes the
    estimate exactly like adrec1's parquet snapshot does), so the
    append costs a single batch-grain shuffle. NULL event_type groups
    are audited too (count_distinct ignores NULL user_ids in both
    engines; the oracle's join-key semantics drop the NULL group on
    both sides identically)."""
    both = events_batch.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).cast("long").alias("approx_users"),
    )
    return _audit_readout(both, batch_key)


def _audit_readout(both: DataFrame, batch_key: str) -> DataFrame:
    """The ONE encoding of the error readout (abs_err / rel_err /
    within_bound) over an (event_type, exact_users, approx_users)
    frame — shared by batch_audit_rows and the grouped one-pass builder
    (two copies would have to stay bit-identical by hand; a drift in
    either would silently desynchronize the stored log from the
    documented readout)."""
    abs_err = F.abs(F.col("approx_users") - F.col("exact_users")).cast("long")
    rel_err = F.round(
        abs_err.cast("double")
        / F.greatest(F.col("exact_users"), F.lit(1)).cast("double"),
        9,
    ) + F.lit(0.0)
    return both.select(
        F.lit(batch_key).alias("batch_key"),
        "event_type",
        "exact_users",
        "approx_users",
        abs_err.alias("abs_err"),
        rel_err.alias("rel_err"),
        (rel_err <= F.lit(ADREC1_BOUND)).alias("within_bound"),
    )


def append_batch_audit(
    events_batch: DataFrame,
    path: str,
    batch_key: str,
    precomputed_rows: DataFrame | None = None,
) -> None:
    """Append one batch's audit rows as a new epoch (manifest.append).
    An empty batch is a clean no-op.

    `precomputed_rows`: a caller that audits SEVERAL batches of one
    corpus (the audlog1 simulation) may aggregate them in one grouped
    pass and hand each batch's already-materialized slice here — the
    epoch/manifest protocol is unchanged, only the per-batch corpus
    aggregation is skipped. Rows must be exactly
    `batch_audit_rows(events_batch, batch_key)`'s output (per-group
    HLL/exact aggregates are identical whether the batch is filtered
    then grouped or grouped by batch key — same groups, same rows)."""
    manifest.append(
        path,
        LAYOUT,
        lambda m: precomputed_rows
        if precomputed_rows is not None
        else batch_audit_rows(events_batch, batch_key).localCheckpoint(eager=True),
        lambda rows, m, e: manifest.write_epoch(rows, path, LAYOUT, "rows", e),
    )


def read_audit_rows(spark, path: str) -> DataFrame:
    """Every logged audit row in the live [base_epoch, epoch] range —
    a plain union (rows are per-batch FACTS, not additive counts), with
    the manifest resolved once per probe (old-or-new, never partial)."""
    m = manifest.checked_manifest(path, LAYOUT)
    return manifest.live(spark, path, m, LAYOUT, "rows")


# ---------------------------------------------------------------------------
# Self-contained oracle-paired entry (the roll1/pq1 fit-per-call
# discipline): simulate the streaming cadence by splitting the events
# table into three deterministic batches, append each batch's audit
# rows, then probe the stored log. The DuckDB oracle reads the SAME
# stored estimates back and independently recomputes exact ground truth
# and every verdict column from raw events — a hash match proves the
# append→store→union-probe chain preserves the adrec1 semantics.
# ---------------------------------------------------------------------------

#: deterministic batch count for the audlog1 simulation — batch i holds
#: the events with pmod(event_id, 3) == i (NULL event_id → batch 0),
#: a rule both engines state identically
AUDLOG1_N_BATCHES = 3


def _batch_of(events: DataFrame, i: int) -> DataFrame:
    return events.filter(
        F.coalesce(F.pmod(F.col("event_id"), F.lit(AUDLOG1_N_BATCHES)), F.lit(0))
        == F.lit(i)
    )


def _ensure_query_auditlog(events: DataFrame, p: str) -> None:
    """Build the audit log at `p` once per (corpus, path) per process —
    fit-memoized with the rollup's manifest-EQUALITY validate (an A→B→A
    corpus alternation at one path must miss and rebuild, never serve
    B's log to A's probe). After the build, stale pre-rebuild epochs
    are GC'd so the oracle's file glob reads exactly the live range —
    safe because the caller owns `p` (the query entry passes a path
    under its own process's scratch root, so no concurrent probe can
    hold an older manifest)."""
    from csv_crm_upload_spark.analytics.fitmemo import memo_fit

    spark = events.sparkSession

    def _build():
        save_audit_log(spark, p)
        # ONE grouped corpus pass computes every batch's audit rows (one
        # full pass per batch would be 3× the scan+agg for identical
        # stored bytes): grouping by (batch bucket, event_type) feeds
        # each HLL/exact aggregate exactly the rows the per-batch filter
        # would, so the per-epoch slices are row-identical. The appends
        # below keep the unchanged epoch/manifest protocol per batch.
        bk = F.coalesce(
            F.pmod(F.col("event_id"), F.lit(AUDLOG1_N_BATCHES)), F.lit(0)
        )
        all_rows = (
            events.withColumn("_bk", bk)
            .groupBy("_bk", "event_type")
            .agg(
                F.count_distinct("user_id").cast("long").alias("exact_users"),
                F.approx_count_distinct("user_id", 0.02)
                .cast("long")
                .alias("approx_users"),
            )
            .localCheckpoint(eager=True)
        )
        for i in range(AUDLOG1_N_BATCHES):
            rows_i = _audit_readout(
                all_rows.filter(F.col("_bk") == F.lit(i)), f"b{i}"
            )
            append_batch_audit(
                _batch_of(events, i), p, f"b{i}", precomputed_rows=rows_i
            )
        manifest.gc_stale_epochs(p, LAYOUT)
        return p, manifest.read_manifest(p)

    memo_fit("auditlog_build", events, (p,), _build, validate=manifest.still_committed)


def audlog1_batch_audit_log(events: DataFrame, path: str) -> DataFrame:
    """The streaming audit cadence as an oracle-paired batch query:
    build the per-batch audit log over the three-way event_id split,
    then return every stored row. NULL event_type groups are kept (the
    oracle joins NULL-safely), so the readout covers exactly the groups
    the batches audited."""
    _ensure_query_auditlog(events, path)
    return read_audit_rows(events.sparkSession, path).orderBy("batch_key", "event_type")
