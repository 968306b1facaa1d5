"""GDPR forget() (history-rewriting erasure): forget physically removes a
key from every retained snapshot, the one mutation that deliberately
rewrites history (delete() keeps old versions readable until vacuum,
which is exactly what an erasure request cannot tolerate)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from csv_crm_upload_spark.operators.mutate import finalize_columns
from csv_crm_upload_spark.operators.store import CustomerStore

COLS = ["id", "first_name", "last_name", "email", "phone"]


def _store(spark, tmp_path, n=3):
    store = CustomerStore(spark, str(tmp_path / "store"), n_buckets=4)
    for i in range(n):
        store.append(
            finalize_columns(
                spark.createDataFrame([(i, f"u{i}", "x", f"u{i}@x.com", str(i))], COLS)
            )
        )
    return store


def _all_emails_on_disk(root: str) -> set[str]:
    out = set()
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(d, f), columns=["email"])
                out.update(t.column("email").to_pylist())
    return out


def test_forget_erases_from_every_snapshot_and_raw_files(spark, tmp_path):
    store = _store(spark, tmp_path)
    assert "u1@x.com" in _all_emails_on_disk(store.root)
    n = store.forget("u1@x.com")
    assert n == 1
    # gone from the current snapshot AND every time-travel read
    for v in store.versions():
        assert "u1@x.com" not in {
            r["email"] for r in store.read_version(v).collect()
        }
    # gone from the raw bytes — the compliance bar
    assert "u1@x.com" not in _all_emails_on_disk(store.root)
    # everyone else intact
    assert {r["email"] for r in store.read().collect()} == {"u0@x.com", "u2@x.com"}


def test_forget_preserves_hard_link_sharing_and_untouched_files(spark, tmp_path):
    store = _store(spark, tmp_path)

    def inodes():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_ino
            for d, _, fs in os.walk(store.root)
            for f in fs
            if f.endswith(".parquet")
        }

    before = inodes()
    store.forget("u1@x.com")
    after = inodes()
    # files that never contained the key keep their inode (not rewritten)
    untouched = [p for p in after if p in before and after[p] == before[p]]
    assert untouched, "expected at least one untouched shared file"
    # rewritten files stay shared: if two versions linked the same inode
    # before, they still link one common inode after
    from collections import Counter

    shared_after = [i for i, c in Counter(after.values()).items() if c > 1]
    assert shared_after, "rewritten files should be re-linked, not duplicated"


def test_forget_absent_email_is_noop(spark, tmp_path):
    store = _store(spark, tmp_path)
    before = {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_ino
        for d, _, fs in os.walk(store.root)
        for f in fs
    }
    assert store.forget("ghost@x.com") == 0
    after = {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_ino
        for d, _, fs in os.walk(store.root)
        for f in fs
    }
    assert after == before


def test_forget_rewritten_file_stays_readable_for_reads_and_upload(spark, tmp_path):
    """A file that keeps other rows after forget is rewritten; it must keep
    Spark's timestamp encoding, or every later read of its timestamp
    columns fails — and with it mark_uploaded on that bucket."""
    store = CustomerStore(spark, str(tmp_path / "one_bucket"), n_buckets=1)
    store.append(
        finalize_columns(
            spark.createDataFrame(
                [(i, f"u{i}", "x", f"u{i}@x.com", str(i)) for i in range(5)], COLS
            )
        )
    )
    created = {r["email"]: r["created_ts"] for r in store.read().collect()}
    assert store.forget("u0@x.com") == 1
    del created["u0@x.com"]
    assert {r["email"]: r["created_ts"] for r in store.read().collect()} == created
    assert store.mark_uploaded(spark.createDataFrame([("u1@x.com",)], ["email"])) == 1
    assert [r["email"] for r in store.read().filter("uploaded").collect()] == ["u1@x.com"]


def test_forget_row_that_fills_whole_bucket_drops_bucket(spark, tmp_path):
    store = CustomerStore(spark, str(tmp_path / "s2"), n_buckets=2)
    store.append(
        finalize_columns(spark.createDataFrame([(1, "a", "b", "solo@x.com", "1")], COLS))
    )
    store.forget("solo@x.com")
    assert store.read().count() == 0
    for v in store.versions():
        assert store.read_version(v).count() == 0


def test_cli_forget(spark, tmp_path):
    from csv_crm_upload_spark.cli import main

    store = _store(spark, tmp_path)
    rc = main(["forget", "--email", "u0@x.com", "--store", str(tmp_path / "store")])
    assert rc == 0
    assert "u0@x.com" not in _all_emails_on_disk(str(tmp_path / "store"))
