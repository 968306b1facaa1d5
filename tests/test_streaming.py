"""Structured Streaming ingest tests (T1-T3, T6): directory of CSVs →
micro-batched ingest with checkpoint; exactly-once appends per input file;
restart does not re-ingest."""

from __future__ import annotations

import os

from csv_crm_upload_spark.operators.store import CustomerStore
from csv_crm_upload_spark.streaming.pipeline import run_ingest_stream


def _write(dirp, name, text):
    (dirp / name).write_text(text)


def test_stream_ingest_available_now(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    _write(inp, "a.csv", "10,a,a,a@x.com,1\n11,b,b,b@x.com,2\n")
    _write(inp, "b.csv", "12,c,c,c@x.com,3\n13,d,d,,4\n")  # one empty-email reject
    store = CustomerStore(spark, str(tmp_path / "store"))
    q = run_ingest_stream(
        spark, str(inp), store, str(tmp_path / "ckpt"), header=False, max_files_per_trigger=1
    )
    q.awaitTermination(120)
    assert store.read().count() == 3

    # new file arrives; restart drains ONLY the new one (checkpoint, T6)
    _write(inp, "c.csv", "14,e,e,e@x.com,5\n10,dup,dup,a@x.com,9\n")  # dup id+email vs store
    q2 = run_ingest_stream(
        spark, str(inp), store, str(tmp_path / "ckpt"), header=False
    )
    q2.awaitTermination(120)
    table = store.read()
    assert table.count() == 4  # 14 added; dup-of-10 anti-joined away
    assert {r["id"] for r in table.collect()} == {10, 11, 12, 14}


def test_service_maintenance_compacts_and_vacuums_without_reupload(spark, tmp_path):
    """Maintenance riding the ticker: fragmented buckets get compacted,
    old snapshots vacuumed, and a compaction-only version re-POSTs
    nothing."""
    from csv_crm_upload_spark.operators.mutate import finalize_columns
    from csv_crm_upload_spark.operators.store import CustomerStore
    from csv_crm_upload_spark.streaming.pipeline import run_upload_service
    from tests.mock_crm import MockCRM

    store = CustomerStore(spark, str(tmp_path / "store"))
    cols = ["id", "first_name", "last_name", "email", "phone"]
    for i in range(3):  # three appends → multiple files per touched bucket
        store.append(
            finalize_columns(
                spark.createDataFrame([(i + 1, "a", "b", f"m{i}@x.com", str(i))], cols)
            )
        )
    with MockCRM() as crm:
        marked = run_upload_service(
            store,
            crm.url,
            interval_s=0,
            max_cycles=3,
            sleep=lambda s: None,
            tick_sleep=lambda s: None,
            auto_compact_files=1,
            vacuum_keep=2,
        )
        posts = len(crm.received)
    assert marked[0] == 3 and sum(marked[1:]) == 0  # no re-upload after compaction
    assert posts == 3
    assert len(store.versions()) <= 2  # vacuumed
    v = store._current_version()
    for _b, p in store._bucket_dirs(store._version_dir(v)).items():
        assert sum(1 for f in os.listdir(p) if f.endswith(".parquet")) == 1
    assert store.pending().count() == 0
