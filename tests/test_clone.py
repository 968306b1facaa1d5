"""SHALLOW CLONE: zero-copy creation (inode-shared files), independent
divergence afterward, fresh history, and overwrite refusal."""

from __future__ import annotations

import os

import pytest

from csv_crm_upload_spark.operators.mutate import finalize_columns
from csv_crm_upload_spark.operators.store import CustomerStore

COLS = ["id", "first_name", "last_name", "email", "phone"]
ROWS = [
    (1, "jon", "doe", "jon@x.com", "1"),
    (2, "jane", "doe", "jane@y.com", "2"),
    (3, "ann", "lee", "ann@x.com", "3"),
]


def _store(spark, tmp_path) -> CustomerStore:
    store = CustomerStore(spark, str(tmp_path / "src"))
    store.append(finalize_columns(spark.createDataFrame(ROWS, COLS)))
    return store


def _inodes(store: CustomerStore) -> set[int]:
    vdir = store._version_dir(store._current_version())
    out = set()
    for b, p in store._bucket_dirs(vdir).items():
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                out.add(os.stat(os.path.join(p, f)).st_ino)
    return out


def test_clone_shares_inodes_and_matches_content(spark, tmp_path):
    src = _store(spark, tmp_path)
    dst = src.clone(str(tmp_path / "dst"))
    assert {tuple(r) for r in dst.read().collect()} == {
        tuple(r) for r in src.read().collect()
    }
    # zero-copy: every clone file IS a source file (same inode)
    assert _inodes(dst) == _inodes(src)


def test_clone_diverges_independently(spark, tmp_path):
    src = _store(spark, tmp_path)
    dst = src.clone(str(tmp_path / "dst"))
    dst.append(finalize_columns(spark.createDataFrame([(4, "bob", "ray", "bob@z.com", "4")], COLS)))
    src.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"]))
    assert src.read().count() == 3  # clone's append invisible to source
    assert dst.read().count() == 4
    flags = {r["email"]: r["uploaded"] for r in dst.read().collect()}
    assert flags["jon@x.com"] is False  # source's flip invisible to clone


def test_clone_refuses_existing_store(spark, tmp_path):
    src = _store(spark, tmp_path)
    other = CustomerStore(spark, str(tmp_path / "other"))
    other.append(finalize_columns(spark.createDataFrame(ROWS, COLS)))
    with pytest.raises(FileExistsError):
        src.clone(str(tmp_path / "other"))


def test_clone_history_starts_fresh(spark, tmp_path):
    src = _store(spark, tmp_path)
    src.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"]))
    dst = src.clone(str(tmp_path / "dst"))
    h = dst.history()
    assert len(h) == 1 and h[0]["operation"] == "clone"
    assert h[0]["metrics"]["source_version"] == 1
