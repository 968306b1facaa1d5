"""Persisted per-batch sketch-audit log (analytics/auditlog.py): the
exactly-once append contract, the facts-not-counts compaction and the
alert readout — the invariants the audlog1
oracle pair cannot observe (it sees one healthy build, never a replay
or a crash)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from csv_crm_upload_spark.analytics import auditlog as al
from csv_crm_upload_spark.operators.manifest import read_manifest


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _rows(spark, path):
    return sorted(
        tuple(r) for r in al.read_audit_rows(spark, path).collect()
    )


def test_append_is_exactly_once_under_replay(spark, events, tmp_path):
    """A replayed streaming batch (same txn) must no-op: the log holds
    each batch's rows ONCE no matter how many times foreachBatch
    re-delivers it."""
    p = str(tmp_path / "log")
    al.save_audit_log(spark, p)
    al.append_batch_audit(events, p, "b0", txn=("app", 1))
    once = _rows(spark, p)
    assert once, "clean fixture must produce audit rows"
    al.append_batch_audit(events, p, "b0", txn=("app", 1))  # replay
    assert _rows(spark, p) == once
    assert read_manifest(p)["epoch"] == 1
    # a NEW txn for a new batch does append
    al.append_batch_audit(events.limit(50), p, "b1", txn=("app", 2))
    assert read_manifest(p)["epoch"] == 2
    assert len(_rows(spark, p)) > len(once)


def test_empty_batch_is_a_clean_noop(spark, events, tmp_path):
    """No rows → no epoch advance and no directory mutation (the
    rollup rule: orphan self-heal must not run on a no-op append)."""
    p = str(tmp_path / "log")
    al.save_audit_log(spark, p)
    before = read_manifest(p)
    al.append_batch_audit(events.limit(0), p, "empty", txn=("app", 1))
    assert read_manifest(p) == before
    assert _rows(spark, p) == []


def test_compaction_folds_facts_without_loss_or_double(spark, events, tmp_path):
    """Compaction is a plain union fold — the merged epoch holds
    exactly the logged rows (facts appear once, unlike additive counts
    there is nothing to sum), and the manifest collapses to one live
    epoch while preserving last_txn (the replay guard)."""
    p = str(tmp_path / "log")
    al.save_audit_log(spark, p)
    for i in range(3):
        al.append_batch_audit(
            al._batch_of(events, i), p, f"b{i}", txn=("app", i + 1)
        )
    before = _rows(spark, p)
    assert al.compact_audit_log(spark, p)
    m = read_manifest(p)
    assert m["epoch"] == m["base_epoch"]
    assert m["last_txn"] == {"app": 3}
    assert _rows(spark, p) == before
    assert not al.compact_audit_log(spark, p)  # already compact


def test_alerts_are_the_out_of_bound_rows(spark, events, tmp_path):
    """audit_alerts returns exactly the within_bound=false subset —
    empty on the healthy fixture (HLL at rsd 0.02 sits far inside the
    3-sigma envelope on real cardinalities)."""
    p = str(tmp_path / "log")
    al.save_audit_log(spark, p)
    al.append_batch_audit(events, p, "b0", txn=("app", 1))
    rows = al.read_audit_rows(spark, p)
    n_bad = rows.filter(~F.col("within_bound")).count()
    assert al.audit_alerts(spark, p).count() == n_bad == 0


def test_key_format_guard_rejects_foreign_artifact(spark, events, tmp_path):
    """An artifact written under a different derived-key format must be
    refused loudly (check_key_format), never silently unioned."""
    from csv_crm_upload_spark.analytics.rollup import save_daily_rollup

    p = str(tmp_path / "not_a_log")
    save_daily_rollup(events, p)
    with pytest.raises(ValueError):
        al.read_audit_rows(spark, p)
    with pytest.raises(ValueError):
        al.append_batch_audit(events, p, "b0")
