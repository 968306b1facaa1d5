"""Persisted daily event rollup — an artifact under the shared
epoch-manifest protocol (operators/manifest.py): the hypertable /
continuous-aggregate story for the time-series family. The daily
readouts (acf1 / dow1) are pure functions of the exact
per-day counts, so once those counts are stored, every probe runs at
the calendar-bounded day grain without re-scanning 100 TB of events.

Reference parity note: the reference repo (a CSV→CRM uploader,
database/database.go) has no time-series surface; this extends the
engine's widened analytics family (SURVEY §6) with the build/probe
split the ANN indexes already have (pq.py / ivfpq.py): build once,
probe cheap.

Layout (same conventions as the other artifacts):
  days/epoch=E/dbucket=B/  (day, event_type, n_events, n_valued,
                           value_micros) — exact additive longs; value
                           is summed in exact integer MICRO-units (the
                           house money rule), NULL values excluded from
                           the micro sum but counted in n_events.
                           dbucket = pmod(year·12 + month, n_buckets):
                           calendar-window probes prune to month-grain
                           partitions (PartitionFilters, like the BM25
                           token buckets).
  MANIFEST                 epoch / base_epoch / n_buckets / key_format

Maintenance contract:
  * build  — save_daily_rollup: atomic rebuild-over-live
  * gc     — manifest.gc_stale_epochs(path, LAYOUT) reclaims the epochs
             a rebuild supersedes; nothing calls it on the query path
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout, Ranged

DEFAULT_N_BUCKETS = 16

#: derived-key format stamp (manifest.check_key_format): rows key on the
#: UTC calendar date of ts with NULL-ts rows dropped; value_micros is
#: round(value·1e6) summed as BIGINT. Bump when the day rule, the NULL
#: rule, or the micro-unit scale changes.
KEY_FORMAT = "utc-day-type-micros-v1"

#: days: epoch-RANGED additive (day, event_type) counts — probes
#: SUM-merge the live range. The explicit read schema covers
#: an all-NULL-ts event batch, which writes a data-file-less epoch dir.
LAYOUT = Layout(
    ranged={
        "days": Ranged(
            partition=("dbucket",),
            schema="day date, event_type string, n_events long, n_valued long, "
            "value_micros long, dbucket int, epoch int",
            keys=("day", "event_type"),
            sums=("n_events", "n_valued", "value_micros"),
        )
    },
    key_format=KEY_FORMAT,
)

#: env-scopable artifact path PREFIX for the self-contained
#: oracle-paired queries (the pcarec1 discipline): the default is
#: PID-scoped so two concurrent unscoped processes (e.g.
#: parallel pytest + bench) never race save_daily_rollup's rebuild on
#: one manifest — a probe could read a mid-rebuild epoch layout. The
#: roll1/roll2 oracles recompute from RAW events, so the path is only
#: ever read by the process that wrote it; env override kept for
#: harnesses that want an explicit scope.
ROLLUP_QUERY_PATH = "/tmp/spark_graft_rollup_q"


def rollup_query_path() -> str:
    """Read at CALL time in both the queries() entry and any oracle that
    needs it, so one process's override stays self-consistent. The
    PID-scoped default registers a best-effort atexit reap (nothing else
    deletes these, so repeated runs would accumulate parquet under
    /tmp); an env-overridden path is the harness's to manage."""
    import os

    override = os.environ.get("SPARK_GRAFT_ROLLUP_DIR")
    if override is not None:
        return override
    from csv_crm_upload_spark.analytics.sketch_audit import _reap_at_exit

    path = f"{ROLLUP_QUERY_PATH}_{os.getpid()}"
    _reap_at_exit(path)
    return path


def _day_partials(events: DataFrame, n_buckets: int) -> DataFrame:
    """Map-side-combining (day, event_type) partials of an event batch —
    ONE agg collapses the batch to its calendar-bounded grain."""
    micros = F.round(F.col("value") * F.lit(1_000_000), 0).cast("long")
    day = F.to_date(F.col("ts")).alias("day")
    return (
        events.filter(F.col("ts").isNotNull())
        .select(day, "event_type", F.col("value"))
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count("value").cast("long").alias("n_valued"),
            F.coalesce(F.sum(micros), F.lit(0)).cast("long").alias("value_micros"),
        )
        .withColumn(
            "dbucket",
            F.pmod(
                F.year(F.col("day")) * F.lit(12) + F.month(F.col("day")),
                F.lit(n_buckets),
            ),
        )
    )


def save_daily_rollup(
    events: DataFrame, path: str, n_buckets: int = DEFAULT_N_BUCKETS
) -> None:
    """Materialize the corpus's daily counts once (atomic rebuild over a
    live rollup; manifest.rebuild)."""
    manifest.rebuild(
        path,
        LAYOUT,
        lambda e: manifest.write_epoch(
            _day_partials(events, n_buckets), path, LAYOUT, "days", e
        ),
        n_buckets=n_buckets,
    )


def daily_rollup_counts(spark, path: str) -> DataFrame:
    """The stored (day, event_type) statistics, SUM-merged over the live
    [base_epoch, epoch] range (manifest-resolved: a racing rebuild is
    invisible — old-or-new, never partial)."""
    m = manifest.checked_manifest(path, LAYOUT)
    return manifest.live(spark, path, m, LAYOUT, "days", merged=True)


def daily_totals(spark, path: str) -> DataFrame:
    """(day, c) — the day-grain volume series the time-series family
    consumes (tpch._daily_spine's day-grain input): exactly the counts
    the inline operators derive from raw events, by additivity."""
    return daily_rollup_counts(spark, path).groupBy("day").agg(
        F.sum("n_events").cast("long").alias("c")
    )


# ---------------------------------------------------------------------------
# Indexed probes: the inline daily readouts, served from the artifact
# ---------------------------------------------------------------------------

def acf1_indexed(spark, path: str, max_lag: int = 7) -> DataFrame:
    """acf1 over the PERSISTED daily counts — value-identical to the
    inline operator over the rolled-up events (test-pinned), at day-
    grain cost: the probe reads |days|·|types| stored rows, never the
    event stream."""
    from csv_crm_upload_spark.analytics import tpch

    return tpch.acf1_daily_autocorrelation(daily_totals(spark, path), max_lag)


def dow1_indexed(spark, path: str) -> DataFrame:
    """dow1 over the PERSISTED daily counts (see acf1_indexed)."""
    from csv_crm_upload_spark.analytics import tpch

    return tpch.dow1_weekly_profile(daily_totals(spark, path))


# ---------------------------------------------------------------------------
# Self-contained oracle-paired entries (the pq1 fit-per-call discipline:
# build at the env-scoped path, then probe — the DuckDB oracle recomputes
# from RAW events with the inline operator's own SQL, so a hash match
# proves the artifact's store→merge→probe chain preserves the semantics)
# ---------------------------------------------------------------------------

def _ensure_query_rollup(events: DataFrame, p: str) -> None:
    """Build the rollup at `p` once per (corpus, path) per process —
    fit-memoized (fitmemo.py): roll1 and roll2 over the same corpus
    share one build instead of each query invocation rebuilding the
    artifact. The memo hit holds only while the manifest still equals
    the one this build committed (manifest.still_committed)."""
    from csv_crm_upload_spark.analytics.fitmemo import memo_fit

    def _build():
        save_daily_rollup(events, p)
        return p, manifest.read_manifest(p)

    memo_fit(
        "daily_rollup_build", events, (p,), _build, validate=manifest.still_committed
    )


def roll1_indexed_acf(spark, events: DataFrame, path: str | None = None) -> DataFrame:
    p = path or rollup_query_path()
    _ensure_query_rollup(events, p)
    return acf1_indexed(spark, p)


def roll2_indexed_dow(spark, events: DataFrame, path: str | None = None) -> DataFrame:
    p = path or rollup_query_path()
    _ensure_query_rollup(events, p)
    return dow1_indexed(spark, p)
