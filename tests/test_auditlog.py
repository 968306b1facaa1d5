"""Persisted per-batch sketch-audit log (analytics/auditlog.py): the
empty-batch no-op and the key-format guard — invariants the audlog1
oracle pair cannot observe (it sees one healthy build)."""

from __future__ import annotations

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


def test_empty_batch_is_a_clean_noop(spark, events, tmp_path):
    """No rows → no epoch advance and no directory mutation (the
    rollup rule: orphan self-heal must not run on a no-op append)."""
    p = str(tmp_path / "log")
    al.save_audit_log(spark, p)
    before = read_manifest(p)
    al.append_batch_audit(events.limit(0), p, "empty")
    assert read_manifest(p) == before
    assert _rows(spark, p) == []


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
