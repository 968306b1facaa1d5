"""The two reference services, one driver each:

csvReader  → `run_ingest_stream`, a file-source streaming query:
  `readStream.csv(dir)` → `foreachBatch(ingest)` with a checkpoint.
  Spark's micro-batch IS the reference's row-buffer micro-batch (T1);
  `Trigger.AvailableNow` drains finite input then stops (T2, the EOF
  flush at reference csvreader.go:76-79); checkpointing makes stop/drain
  safe (T6, uploader.go:64-69).

crmIntegrator → `run_upload_cycle`, one pass over the store's pending
  set (select pending, POST, mark uploaded), and `run_upload_service`,
  which runs that cycle on a poll ticker (T4, uploader.go:71-97).
  Per-request retry lives in the sink (sinks.http_sink).

The two stay separate services, as in the reference: nothing in the
ingest path wakes the uploader; the ticker re-selects the pending set.

Delivery: checkpointed ingest gives exactly-once store appends per input
file; the HTTP sink stays at-least-once exactly like the reference
(SURVEY §2.9).
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

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
):
    """Streaming CSV-directory → store ingest. Returns the StreamingQuery.

    With `available_now=True` the query drains all current input and
    stops (finite-run mode, T2); otherwise it keeps watching the
    directory like the reference's long-running reader.
    """
    stream = read_customers_csv_stream(
        spark, input_dir, header=header, max_files_per_trigger=max_files_per_trigger
    )

    def process(batch_df, batch_id: int) -> None:
        ingest_batch(batch_df, store)

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


def run_upload_service(
    store: CustomerStore,
    crm_url: str,
    interval_s: float = 30.0,
    max_cycles: int | None = None,
    concurrency: int = 25,
    max_tries: int = 5,
    sleep=None,
    tick_sleep=None,
    auto_compact_files: int | None = None,
    vacuum_keep: int | None = None,
    index_service=None,
) -> list[int]:
    """The crmIntegrator as a long-running service: `run_upload_cycle` on
    a poll ticker (reference crm service loop — a 30 s timer re-selecting
    the pending set, uploader.go:71-97). An empty pending set costs one
    isEmpty() probe. `max_cycles` bounds the loop for finite runs/tests;
    None = run until interrupted. Returns marked-count per cycle.

    Maintenance rides the ticker (the way a lakehouse schedules OPTIMIZE
    / VACUUM alongside the workload) and needs the versioned parquet
    store: after each cycle, `auto_compact_files` runs the pure-metadata
    maybe_compact() check and bin-packs only when some bucket exceeds
    the threshold; `vacuum_keep` then drops all but the newest
    snapshots. A compaction rewrites no uploaded flag, so it never
    causes a re-upload.

    `index_service` (a streaming.index_service.CorpusIndexService) also
    rides the ticker: each cycle folds newly landed corpus shards into
    the registered persisted indexes via their O(new docs) update paths,
    so the build-once artifacts stay fresh without a manual step — a
    quiet tick costs one listing."""
    tick = tick_sleep or time.sleep
    marked: list[int] = []
    cycle = 0
    while max_cycles is None or cycle < max_cycles:
        marked.append(
            run_upload_cycle(
                store, crm_url, concurrency=concurrency, max_tries=max_tries, sleep=sleep
            )
        )
        if auto_compact_files is not None:
            store.maybe_compact(max_files_per_bucket=auto_compact_files)
        if vacuum_keep is not None:
            store.vacuum(keep_last=vacuum_keep)
        if index_service is not None:
            index_service.tick()
        cycle += 1
        if max_cycles is None or cycle < max_cycles:
            tick(interval_s)
    return marked
