"""Incremental materialized-view maintenance: after ANY mix of store
mutations, refresh() folded deltas must equal a from-scratch recompute
of the same aggregate — exactly (measures ride in decimal)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from csv_crm_upload_spark.operators.matview import MaterializedAggregate
from csv_crm_upload_spark.operators.mutate import finalize_columns
from csv_crm_upload_spark.operators.store import CustomerStore

COLS = ["id", "first_name", "last_name", "email", "phone"]
ROWS = [
    (1, "jon", "doe", "jon@x.com", "1"),
    (2, "jane", "doe", "jane@y.com", "2"),
    (3, "ann", "lee", "ann@x.com", "3"),
    (4, "bob", "ray", "bob@y.com", "4"),
]


def _store(spark, tmp_path) -> CustomerStore:
    store = CustomerStore(spark, str(tmp_path / "store"))
    store.append(finalize_columns(spark.createDataFrame(ROWS, COLS)))
    return store


def _view(store, tmp_path) -> MaterializedAggregate:
    return MaterializedAggregate(
        store,
        str(tmp_path / "view"),
        group_cols=["uploaded"],
        measures={"sum_id": "id"},
    )


def _expected(store):
    return {
        tuple(r)
        for r in store.read()
        .groupBy("uploaded")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("id").cast("decimal(28,6)"))
            .cast("decimal(38,6)")
            .alias("sum_id"),
        )
        .collect()
    }


def _actual(view):
    return {tuple(r) for r in view.read().collect()}


def test_first_refresh_is_full_and_matches(spark, tmp_path):
    store = _store(spark, tmp_path)
    view = _view(store, tmp_path)
    res = view.refresh()
    assert res["mode"] == "full"
    assert _actual(view) == _expected(store)
    # quiet head: refresh is metadata-only
    assert view.refresh()["mode"] == "noop"


def test_incremental_equals_full_after_mutation_mix(spark, tmp_path):
    store = _store(spark, tmp_path)
    view = _view(store, tmp_path)
    view.refresh()

    # append two, flip two, delete one, merge-update one — every CDC tag
    store.append(
        finalize_columns(
            spark.createDataFrame(
                [(5, "cat", "paw", "cat@x.com", "5"), (6, "dan", "fox", "dan@y.com", "6")],
                COLS,
            )
        )
    )
    store.mark_uploaded(spark.createDataFrame([("jon@x.com",), ("jane@y.com",)], ["email"]))
    res = view.refresh()
    assert res["mode"] == "incremental"
    assert _actual(view) == _expected(store)

    store.delete(F.col("email") == "ann@x.com")
    store.merge(
        finalize_columns(
            spark.createDataFrame([(40, "bobby", "ray", "bob@y.com", "44")], COLS)
        )
    )
    res = view.refresh()
    assert res["mode"] == "incremental"
    assert _actual(view) == _expected(store)


def test_group_dropped_when_count_reaches_zero(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.mark_uploaded(
        spark.createDataFrame([(e,) for _, _, _, e, _ in ROWS], ["email"])
    )
    view = _view(store, tmp_path)
    view.refresh()
    assert {r["uploaded"] for r in view.read().collect()} == {True}
    # un-flip is impossible; instead delete every uploaded row → the True
    # group must disappear from the view, not linger at n_rows=0
    store.delete(F.col("uploaded"))
    view.refresh()
    assert view.read().count() == 0


def test_vacuumed_cursor_falls_back_to_full(spark, tmp_path):
    store = _store(spark, tmp_path)
    view = _view(store, tmp_path)
    view.refresh()
    store.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"]))
    store.append(
        finalize_columns(spark.createDataFrame([(7, "eve", "ash", "eve@y.com", "7")], COLS))
    )
    store.vacuum(keep_last=1)  # removes the view's cursor version
    res = view.refresh()
    assert res["mode"] == "full"
    assert _actual(view) == _expected(store)


def test_continuous_aggregate_via_streaming_ingest(spark, tmp_path):
    """matview passed to run_ingest_stream stays fresh per micro-batch —
    the continuous-aggregate surface."""
    from csv_crm_upload_spark.streaming.pipeline import run_ingest_stream

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.csv").write_text(
        "id,first_name,last_name,email,phone\n"
        "1,jon,doe,jon@x.com,1\n2,jane,doe,jane@y.com,2\n"
    )
    (inp / "b.csv").write_text(
        "id,first_name,last_name,email,phone\n3,ann,lee,ann@x.com,3\n"
    )
    store = CustomerStore(spark, str(tmp_path / "store"))
    view = MaterializedAggregate(
        store, str(tmp_path / "view"), group_cols=["uploaded"], measures={"sum_id": "id"}
    )
    q = run_ingest_stream(
        spark,
        str(inp),
        store,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        matview=view,
    )
    q.awaitTermination(120)
    assert _actual(view) == _expected(store)
    assert view.last_refreshed_version() == store._current_version()


def test_crash_after_view_swap_does_not_fold_delta_twice(spark, tmp_path, monkeypatch):
    """The refresh cursor commits with the aggregate: a crash right after
    the data-dir swap (injected into the old dir's removal) must not let
    the next refresh fold the same delta again, and the next write
    removes the old aggregate the crash left behind."""
    import pytest

    from csv_crm_upload_spark.operators import matview as matview_mod

    def rows(lo, hi):
        return [(i, f"f{i}", "l", f"u{i}@x.com", str(i)) for i in range(lo, hi)]

    store = CustomerStore(spark, str(tmp_path / "store"))
    store.append(finalize_columns(spark.createDataFrame(rows(0, 50), COLS)))
    view = _view(store, tmp_path)
    assert view.refresh()["mode"] == "full"
    store.append(finalize_columns(spark.createDataFrame(rows(50, 60), COLS)))

    real_rmtree = matview_mod.shutil.rmtree

    def crashing_rmtree(path, *a, **k):
        if "_old_" in str(path):
            raise OSError("injected crash after the view swap")
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(matview_mod.shutil, "rmtree", crashing_rmtree)
    with pytest.raises(OSError, match="injected"):
        view.refresh()
    monkeypatch.undo()
    view.refresh()
    assert store.read().count() == 60
    assert sum(r["n_rows"] for r in view.read().collect()) == 60
    assert _actual(view) == _expected(store)

    store.append(finalize_columns(spark.createDataFrame(rows(60, 70), COLS)))
    assert view.refresh()["mode"] == "incremental"
    assert not [n for n in os.listdir(view.root) if n.startswith("_old_")]
    assert _actual(view) == _expected(store)
