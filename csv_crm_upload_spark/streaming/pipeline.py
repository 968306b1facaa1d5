"""Structured Streaming pipeline (T1-T6) — the two reference services as
two Spark constructs:

csvReader  → a file-source streaming query: `readStream.csv(dir)` →
  `foreachBatch(ingest)` with a checkpoint. Spark's micro-batch IS the
  reference's row-buffer micro-batch (T1); `Trigger.AvailableNow` drains
  finite input then stops (T2, the EOF flush at reference
  csvreader.go:76-79); checkpointing makes stop/drain safe (T6,
  uploader.go:64-69).

crmIntegrator → an upload cycle over the store's pending set. The
  reference wakes on an RPC signal OR a fibonacci-backoff poll timer
  (T3/T4, uploader.go:71-97; signal coalescing listener.go:28-35). In
  Spark the downstream watches the table itself, so "new data arrived" is
  the trigger; the poll half is the streaming trigger interval / an outer
  loop, and per-request retry lives in the sink (sinks.http_sink).

Delivery: checkpointed ingest gives exactly-once store appends per input
file; the HTTP sink stays at-least-once exactly like the reference
(SURVEY §2.9).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from csv_crm_upload_spark.operators.store import CustomerStore
from csv_crm_upload_spark.plans.ingest import ingest_batch
from csv_crm_upload_spark.sinks.http_sink import successes, upload_pending
from csv_crm_upload_spark.sources.csv_source import read_customers_csv_stream


def run_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    store: CustomerStore,
    checkpoint_dir: str,
    header: bool = True,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    matview=None,
):
    """Streaming CSV-directory → store ingest. Returns the StreamingQuery.

    With `available_now=True` the query drains all current input and
    stops (finite-run mode, T2); otherwise it keeps watching the
    directory like the reference's long-running reader.

    Pass a `MaterializedAggregate` as `matview` to maintain a CONTINUOUS
    AGGREGATE: after each micro-batch commit the view folds just that
    batch's CDC delta (operators/matview.py) — the streaming refresh is
    incremental by construction, never a base-table rescan. Refresh is
    idempotent on replay: a re-run batch advances no version, so the
    refresh is a noop.
    """
    stream = read_customers_csv_stream(
        spark, input_dir, header=header, max_files_per_trigger=max_files_per_trigger
    )

    def process(batch_df, batch_id: int) -> None:
        ingest_batch(batch_df, store)
        if matview is not None:
            matview.refresh()

    writer = stream.writeStream.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_upload_cycle(
    store: CustomerStore,
    crm_url: str,
    concurrency: int = 25,
    max_tries: int = 5,
    sleep=None,
) -> int:
    """One crmIntegrator cycle: pending → POST (with per-row fib backoff)
    → mark successes uploaded. Returns rows marked.

    A signal/timer tick in the reference re-selects ALL pending rows
    (SURVEY §3.2 note) — same here: each cycle reads the current pending
    snapshot; the uploaded flag converges duplicates across cycles.
    """
    pending = store.pending()
    if pending.isEmpty():
        return 0
    return _upload_and_mark(store, pending, crm_url, concurrency, max_tries, sleep)


def _upload_and_mark(
    store: CustomerStore,
    pending: DataFrame,
    crm_url: str,
    concurrency: int,
    max_tries: int,
    sleep,
) -> int:
    """POST `pending` and flip the uploaded flag on the successes.
    Returns rows marked."""
    results = upload_pending(
        pending, crm_url, concurrency=concurrency, max_tries=max_tries, sleep=sleep or time.sleep
    ).persist()
    # Materialize the side-effecting job exactly once: a lazy re-evaluation
    # of `results` would re-POST every row. persist + count pins the
    # outcome before the success set feeds the flag-flip plan.
    results.count()
    try:
        return store.mark_uploaded(successes(results))
    finally:
        results.unpersist()


def run_upload_cycle_incremental(
    store: CustomerStore,
    crm_url: str,
    since_version: int,
    concurrency: int = 25,
    max_tries: int = 5,
    sleep=None,
) -> tuple[int, int]:
    """CDC-pruned crmIntegrator cycle: instead of re-scanning every
    bucket's pending set each tick, read only rows that CHANGED since
    `since_version` — `store.changes` prunes to touched buckets via the
    inode diff, so a quiet tick costs metadata, and a busy tick costs
    O(changed buckets), never O(table). At 100 TB this is the difference
    between a service that idles cheaply and one that re-scans the world
    every 30 s.

    Returns (marked, version_seen): pass `version_seen` back in as
    `since_version` on the next tick (the flag-flip commit this cycle
    makes will surface as uploaded=true postimages next tick and filter
    out — concurrent appends in between are never skipped). A vacuumed
    `since_version` raises FileNotFoundError; callers should fall back to
    a full `run_upload_cycle` and resume from the current version."""
    from pyspark.sql import functions as F

    from csv_crm_upload_spark.operators.store import PENDING_COLUMNS

    v_now = store._current_version()
    if v_now <= since_version:
        return 0, since_version
    pending = (
        store.changes(since_version, v_now)
        .filter(F.col("_change_type").isin("insert", "update_postimage"))
        .filter(~F.col("uploaded"))
        .select(*PENDING_COLUMNS)
    )
    if pending.isEmpty():
        return 0, v_now
    return _upload_and_mark(store, pending, crm_url, concurrency, max_tries, sleep), v_now


def run_upload_service(
    store: CustomerStore,
    crm_url: str,
    interval_s: float = 30.0,
    max_cycles: int | None = None,
    concurrency: int = 25,
    max_tries: int = 5,
    sleep=None,
    tick_sleep=None,
    incremental: bool = False,
    auto_compact_files: int | None = None,
    vacuum_keep: int | None = None,
    index_service=None,
) -> list[int]:
    """The crmIntegrator as a long-running service: upload cycles on a
    poll ticker (reference crm service loop — a 30 s timer re-selecting
    the pending set, uploader.go:71-97). Each tick is one full
    pending→POST→mark cycle; an empty pending set costs one cheap
    isEmpty() probe. `max_cycles` bounds the loop for finite runs/tests;
    None = run until interrupted. Returns marked-count per cycle.

    With `incremental=True` (parquet store only) ticks are CDC-pruned:
    the first tick does a full cycle to establish the version cursor,
    later ticks upload only rows changed since — and if the cursor's
    version has been vacuumed out from under the service, the tick falls
    back to one full cycle and re-establishes the cursor.

    Maintenance rides the ticker (the way a lakehouse schedules OPTIMIZE
    / VACUUM alongside the workload): after each cycle,
    `auto_compact_files` runs the pure-metadata maybe_compact() check
    and bin-packs only when some bucket exceeds the threshold;
    `vacuum_keep` then drops all but the newest snapshots. A compaction
    commits a new version whose rows are content-identical, so the next
    incremental tick's change feed row-diffs to EMPTY — the tick pays a
    one-off diff of the rewritten buckets, but never re-uploads.

    `index_service` (a streaming.index_service.CorpusIndexService) also
    rides the ticker: each cycle folds newly landed corpus shards into
    the registered persisted indexes (BM25/LSH-pairs/IVF/PQ/IVF-PQ) via
    their O(new docs) update paths, so the build-once artifacts stay
    fresh without a manual step — a quiet tick costs one listing."""
    tick = tick_sleep or time.sleep
    marked: list[int] = []
    cycle = 0
    cursor: int | None = None
    while max_cycles is None or cycle < max_cycles:
        if incremental and cursor is not None:
            try:
                n, cursor = run_upload_cycle_incremental(
                    store, crm_url, cursor,
                    concurrency=concurrency, max_tries=max_tries, sleep=sleep,
                )
            except FileNotFoundError:  # cursor vacuumed: full cycle, re-arm
                cursor = store._current_version()
                n = run_upload_cycle(
                    store, crm_url, concurrency=concurrency, max_tries=max_tries, sleep=sleep
                )
            marked.append(n)
        else:
            if incremental:
                cursor = store._current_version()
            marked.append(
                run_upload_cycle(
                    store, crm_url, concurrency=concurrency, max_tries=max_tries, sleep=sleep
                )
            )
        if auto_compact_files is not None and hasattr(store, "maybe_compact"):
            store.maybe_compact(max_files_per_bucket=auto_compact_files)
        if vacuum_keep is not None and hasattr(store, "vacuum"):
            store.vacuum(keep_last=vacuum_keep)
        if index_service is not None:
            index_service.tick()
        cycle += 1
        if max_cycles is None or cycle < max_cycles:
            tick(interval_s)
    return marked


def run_ingest_upload_stream(
    spark: SparkSession,
    input_dir: str,
    store: CustomerStore,
    checkpoint_dir: str,
    crm_url: str,
    header: bool = True,
    available_now: bool = True,
    concurrency: int = 25,
    max_tries: int = 5,
    sleep=None,
):
    """The two reference services COUPLED, as one streaming query: each
    micro-batch ingests its CSVs and then immediately runs an upload
    cycle — the arrival of data IS the cross-service wake-up signal (T3:
    the reference's RPC notify from csvReader to crmIntegrator,
    listener.go:28-35), with no signal plumbing to lose or coalesce.
    Returns the StreamingQuery.

    At-least-once end to end: the checkpoint makes ingest exactly-once
    per input file; a crash between POST and flag-flip re-sends on the
    next cycle exactly as the reference does."""

    def process(batch_df, batch_id: int) -> None:
        from csv_crm_upload_spark.plans.ingest import ingest_batch as _ingest

        res = _ingest(batch_df, store)
        if res.inserted > 0:
            run_upload_cycle(
                store, crm_url, concurrency=concurrency, max_tries=max_tries, sleep=sleep
            )

    stream = read_customers_csv_stream(spark, input_dir, header=header)
    writer = stream.writeStream.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_merge_stream(
    spark: SparkSession,
    input_dir: str,
    store: CustomerStore,
    checkpoint_dir: str,
    app_id: str = "merge-stream",
    header: bool = True,
    available_now: bool = True,
):
    """Streaming CDC-apply: a directory of upsert CSVs MERGEs into the
    versioned store with exactly-once EFFECT — the streaming-upsert sink
    a lakehouse serves with `foreachBatch + MERGE + txnAppId`.

    foreachBatch re-delivers a batch after a crash (at-least-once); the
    (app_id, batch_id) transaction marker recorded by store.merge turns
    the replay into a no-op, and MERGE's key-idempotency absorbs the one
    unprotected crash window (marker-not-yet-written). Validation rejects
    never reach the table. Returns the StreamingQuery."""
    from csv_crm_upload_spark.operators.validate import validate_split

    def process(batch_df, batch_id: int) -> None:
        clean, _quarantine = validate_split(batch_df)
        store.merge(clean, txn=(app_id, batch_id))

    stream = read_customers_csv_stream(spark, input_dir, header=header)
    writer = stream.writeStream.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
