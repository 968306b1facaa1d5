"""Schema evolution on the versioned store — the ALTER TABLE ADD COLUMN
surface of a lakehouse table format, realized as metadata-only commits:
no data rewrite, mixed-schema snapshots read with the declared schema, old
rows fill with the column default (SQL `NOT NULL DEFAULT x` semantics
when a default is given, nullable/NULL otherwise)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from csv_crm_upload_spark.operators.mutate import finalize_columns
from csv_crm_upload_spark.operators.store import CustomerStore

ROWS = [
    (1, "jon", "doe", "jon@x.com", "1"),
    (2, "jane", "doe", "jane@x.com", "2"),
    (3, "ann", "lee", "ann@x.com", "3"),
]
COLS = ["id", "first_name", "last_name", "email", "phone"]


def _store(spark, tmp_path) -> CustomerStore:
    store = CustomerStore(spark, str(tmp_path / "store"))
    store.append(finalize_columns(spark.createDataFrame(ROWS, COLS)))
    return store


def test_add_column_is_metadata_only(spark, tmp_path):
    store = _store(spark, tmp_path)
    files_before = {
        (d, f)
        for d, _, fs in os.walk(store._version_dir(store._current_version()))
        for f in fs
    }
    v_before = store._current_version()
    store.add_column("tier", "string", default="std")
    assert store._current_version() == v_before  # no data commit
    files_after = {
        (d, f)
        for d, _, fs in os.walk(store._version_dir(store._current_version()))
        for f in fs
    }
    assert files_after == files_before  # not a single file touched
    # old rows read the default
    assert {r["tier"] for r in store.read().collect()} == {"std"}


def test_mixed_schema_read_and_time_travel(spark, tmp_path):
    store = _store(spark, tmp_path)
    v0 = store._current_version()
    store.add_column("tier", "string", default="std")
    batch = spark.createDataFrame(
        [(10, "new", "guy", "new@x.com", "9", "gold")], COLS + ["tier"]
    )
    store.append(finalize_columns(batch))
    got = {r["email"]: r["tier"] for r in store.read().collect()}
    assert got == {
        "jon@x.com": "std", "jane@x.com": "std", "ann@x.com": "std",
        "new@x.com": "gold",
    }
    # time travel reads old snapshots through the WIDENED schema too
    old = store.read_version(v0)
    assert "tier" in old.columns
    assert {r["tier"] for r in old.collect()} == {"std"}


def test_add_column_without_default_is_nullable(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.add_column("score", "double")
    rows = store.read().collect()
    assert all(r["score"] is None for r in rows)
    store.append(
        finalize_columns(
            spark.createDataFrame([(11, "x", "y", "s@x.com", "1", 0.5)], COLS + ["score"])
        )
    )
    got = {r["email"]: r["score"] for r in store.read().collect()}
    assert got["s@x.com"] == 0.5 and got["jon@x.com"] is None


def test_mutations_preserve_evolved_columns(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.add_column("tier", "string", default="std")
    store.append(
        finalize_columns(
            spark.createDataFrame([(10, "new", "guy", "new@x.com", "9", "gold")], COLS + ["tier"])
        )
    )
    # keyed UPDATE rewrites only affected buckets — tier must survive it
    flipped = store.mark_uploaded(spark.createDataFrame([("new@x.com",)], ["email"]))
    assert flipped == 1
    got = {r["email"]: (r["tier"], r["uploaded"]) for r in store.read().collect()}
    assert got["new@x.com"] == ("gold", True)
    assert got["jon@x.com"] == ("std", False)
    # MERGE: update path preserves tier, insert path takes the default
    res = store.merge(
        spark.createDataFrame(
            [(10, "renamed", "guy", "new@x.com", "9"), (20, "ins", "ert", "ins@x.com", "7")],
            COLS,
        )
    )
    assert res == {"updated": 1, "inserted": 1, "skipped": 0}
    got = {r["email"]: (r["tier"], r["first_name"]) for r in store.read().collect()}
    assert got["new@x.com"] == ("gold", "renamed")
    assert got["ins@x.com"] == ("std", "ins")


def test_changes_feed_spans_schema_evolution(spark, tmp_path):
    store = _store(spark, tmp_path)
    v0 = store._current_version()
    store.add_column("tier", "string", default="std")
    store.append(
        finalize_columns(
            spark.createDataFrame([(10, "new", "guy", "new@x.com", "9", "gold")], COLS + ["tier"])
        )
    )
    feed = store.changes(v0).collect()
    assert {(r["email"], r["_change_type"]) for r in feed} == {("new@x.com", "insert")}
    assert feed[0]["tier"] == "gold"


def test_append_unique_respects_evolved_schema(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.add_column("tier", "string", default="std")
    inserted = store.append_unique(
        finalize_columns(
            spark.createDataFrame(
                [(1, "dup", "row", "jon@x.com", "1"), (30, "ok", "row", "ok@x.com", "3")],
                COLS,
            )
        )
    )
    assert inserted == 1
    got = {r["email"]: r["tier"] for r in store.read().collect()}
    assert got["ok@x.com"] == "std"


def test_add_column_rejects_duplicates_and_bad_types(spark, tmp_path):
    store = _store(spark, tmp_path)
    with pytest.raises(ValueError):
        store.add_column("email", "string")
    store.add_column("tier", "string", default="std")
    with pytest.raises(ValueError):
        store.add_column("tier", "string")
    with pytest.raises(Exception):
        store.add_column("bad", "not_a_type")
    # second process opening the same root sees the evolved schema
    reopened = CustomerStore(spark, store.root)
    assert "tier" in reopened.read().columns


def test_rename_column_is_metadata_only_and_reads_old_snapshots(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.add_column("tier", "string", default="std")
    batch = spark.createDataFrame(
        [(10, "new", "guy", "new@x.com", "9", "gold")], COLS + ["tier"]
    )
    store.append(finalize_columns(batch))
    v_before = store._current_version()
    store.rename_column("tier", "plan")
    assert store._current_version() == v_before  # no data commit
    got = {r["email"]: r["plan"] for r in store.read().collect()}
    assert got["new@x.com"] == "gold" and got["jon@x.com"] == "std"
    assert "tier" not in store.read().columns
    # time travel reads under the NEW logical name too
    old = store.read_version(0)
    assert "plan" in old.columns and "tier" not in old.columns
    # writers using the new name round-trip (files store the physical name)
    store.append(
        finalize_columns(
            spark.createDataFrame([(11, "a", "b", "r2@x.com", "1", "silver")], COLS + ["plan"])
        )
    )
    got = {r["email"]: r["plan"] for r in store.read().collect()}
    assert got["r2@x.com"] == "silver"


def test_drop_column_then_readd_does_not_resurrect_old_data(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.add_column("tier", "string", default=None)
    store.append(
        finalize_columns(
            spark.createDataFrame([(10, "n", "g", "new@x.com", "9", "gold")], COLS + ["tier"])
        )
    )
    store.drop_column("tier")
    assert "tier" not in store.read().columns
    # re-adding the same logical name gets a FRESH physical column: the
    # 'gold' bytes still in old files must not come back
    store.add_column("tier", "string", default="fresh")
    got = {r["email"]: r["tier"] for r in store.read().collect()}
    assert set(got.values()) == {"fresh"}


def test_rename_guards(spark, tmp_path):
    store = _store(spark, tmp_path)
    with pytest.raises(ValueError):
        store.rename_column("email", "email2")  # base column: refused
    with pytest.raises(ValueError):
        store.drop_column("uploaded")
    store.add_column("tier", "string")
    with pytest.raises(ValueError):
        store.rename_column("tier", "email")  # collision: refused


def test_renamed_column_survives_rewrite_paths(spark, tmp_path):
    """mark_uploaded/delete/compact rewrite buckets from the logical view;
    files must come back out with PHYSICAL names so later reads still map."""
    store = _store(spark, tmp_path)
    store.add_column("tier", "string", default="std")
    store.rename_column("tier", "plan")
    store.append(
        finalize_columns(
            spark.createDataFrame([(10, "n", "g", "new@x.com", "9", "gold")], COLS + ["plan"])
        )
    )
    store.mark_uploaded(spark.createDataFrame([("new@x.com",)], ["email"]))
    store.compact()
    got = {r["email"]: (r["plan"], r["uploaded"]) for r in store.read().collect()}
    assert got["new@x.com"] == ("gold", True)
    assert got["jon@x.com"][0] == "std"
    store.delete(F.col("email") == "jon@x.com")
    got = {r["email"]: r["plan"] for r in store.read().collect()}
    assert "jon@x.com" not in got and got["new@x.com"] == "gold"


def test_rename_onto_a_physical_name_keeps_columns_apart(spark, tmp_path):
    """A logical name may equal another column's physical (file) name:
    renaming `y` to `z` and then `x` to `y` leaves the column called `y`
    stored as `x` and the column called `z` stored as `y`. Each must
    still read its own values."""
    store = _store(spark, tmp_path)
    store.add_column("x", "string")
    store.add_column("y", "string")
    store.append(
        finalize_columns(
            spark.createDataFrame([(10, "n", "g", "new@x.com", "9", "X", "Y")], COLS + ["x", "y"])
        )
    )
    store.rename_column("y", "z")
    store.rename_column("x", "y")
    row = store.read().filter("email = 'new@x.com'").first()
    assert (row["y"], row["z"]) == ("X", "Y")
