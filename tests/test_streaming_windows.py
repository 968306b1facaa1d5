"""Streaming operator tests: event-time windows (batch parity + real
stream run) and the socket-source ingest."""

from __future__ import annotations

from pyspark.sql import functions as F

from csv_crm_upload_spark.sources.tables import load_table
from csv_crm_upload_spark.streaming.windows import (
    session_windows,
    sliding_user_activity,
    tumbling_counts,
)


def test_tumbling_counts_batch(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    out = tumbling_counts(events)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()  # tumbling windows partition all events
    # window bounds are aligned hours
    row = out.orderBy("window_start").first()
    assert row["window_start"].minute == 0 and row["window_start"].second == 0


def test_sliding_windows_double_count(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    out = sliding_user_activity(events, width="2 hours", slide="1 hour")
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == 2 * events.count()  # every event in exactly 2 windows


def test_session_windows_match_batch_sessionize(spark, sf_dir):
    from csv_crm_upload_spark.analytics.tpch import e1_sessionize

    events = load_table(spark, sf_dir, "events")
    native = session_windows(events, gap="30 minutes")
    manual = e1_sessionize(events, gap_minutes=30)
    # same number of sessions and same per-user session counts
    n_native = native.groupBy("user_id").count().orderBy("user_id").collect()
    n_manual = manual.groupBy("user_id").count().orderBy("user_id").collect()
    assert [tuple(r) for r in n_native] == [tuple(r) for r in n_manual]


def test_streaming_tumbling_with_watermark(spark, tmp_path, sf_dir):
    # run the SAME operator as a real stream over the events data
    events = load_table(spark, sf_dir, "events").limit(200)
    src = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = tumbling_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has closed; with
    # availableNow over finite input the final watermark closes all but
    # the trailing window(s)
    got = spark.sql("select sum(n_events) from tumbling_test").collect()[0][0]
    batch_total = tumbling_counts(events).agg(F.sum("n_events")).collect()[0][0]
    assert got is not None and 0 < got <= batch_total


def test_socket_source_streaming_ingest(spark, tmp_path):
    """Network streaming source: CSV lines over a TCP socket -> the same
    validate/finalize plan -> parquet sink. Demonstrates the engine is
    not file-source-bound (Kafka would slot in identically: readStream
    .format(...) feeding the same downstream plan)."""
    import socket
    import threading
    import time

    from csv_crm_upload_spark.operators.mutate import finalize_columns
    from csv_crm_upload_spark.operators.validate import validate_split
    from csv_crm_upload_spark.schemas import CUSTOMER_CSV_SCHEMA

    lines = [
        "1,jon,doe,jon@x.com,1",
        "2,jane,doe,jane@x.com,2",
        "bad,row,x,y@x.com,3",
    ]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def feed():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            time.sleep(2)  # let the micro-batch pick it up before FIN

    t = threading.Thread(target=feed, daemon=True)
    t.start()

    raw = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
    )
    # line -> typed columns via the same CSV schema contract
    parts = F.split(F.col("value"), ",")
    shaped = raw.select(
        parts.getItem(0).alias("id"),
        parts.getItem(1).alias("first_name"),
        parts.getItem(2).alias("last_name"),
        parts.getItem(3).alias("email"),
        parts.getItem(4).alias("phone"),
        F.lit(None).cast("string").alias("_corrupt_record"),
    )
    out_dir = str(tmp_path / "out")

    def process(batch_df, batch_id):
        clean, _ = validate_split(batch_df)
        finalize_columns(clean, now="2026-01-01 00:00:00").write.mode("append").parquet(out_dir)

    q = (
        shaped.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 60
    import glob as _glob
    import os as _os

    n = 0
    while time.time() < deadline:
        if _os.path.isdir(out_dir) and _glob.glob(out_dir + "/*.parquet"):
            n = spark.read.parquet(out_dir).count()
            if n >= 2:
                break
        time.sleep(1)
    q.stop()
    srv.close()
    got = spark.read.parquet(out_dir)
    assert got.count() == 2  # bad row quarantined by the same validator
    assert {r["email"] for r in got.collect()} == {"jon@x.com", "jane@x.com"}
