"""Daily-rollup artifact semantics: build/probe identity with the inline
operators, micro-unit NULL handling, and the key-format stamp."""

from __future__ import annotations

import datetime as dt

import pytest

from csv_crm_upload_spark.analytics import rollup as rlp
from csv_crm_upload_spark.analytics import tpch
from csv_crm_upload_spark.operators.manifest import read_manifest


def _events(spark, rows):
    """rows: (event_id, day_offset_from_2026_01_01 | None, event_type, value)"""
    data = [
        (
            eid,
            None if off is None else dt.datetime(2026, 1, 1) + dt.timedelta(days=off),
            et,
            v,
        )
        for eid, off, et, v in rows
    ]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, event_type string, value double"
    )


def test_rollup_probe_identity_with_inline_ops(spark, sf_dir, tmp_path):
    """acf1/dow1 served from the artifact are value-identical to
    the inline operators over the raw events — the continuous-aggregate
    contract."""
    from csv_crm_upload_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "roll")
    rlp.save_daily_rollup(events, path)
    for inline, indexed in [
        (tpch.acf1_daily_autocorrelation(events), rlp.acf1_indexed(spark, path)),
        (tpch.dow1_weekly_profile(events), rlp.dow1_indexed(spark, path)),
    ]:
        assert sorted(map(tuple, inline.collect())) == sorted(
            map(tuple, indexed.collect())
        )


def test_rollup_micro_units_and_null_values(spark, tmp_path):
    """value_micros sums round(value·1e6) over NON-NULL values only;
    NULL-valued events still count in n_events; n_valued reports the
    non-null count."""
    p = str(tmp_path / "roll")
    rlp.save_daily_rollup(
        _events(spark, [(1, 0, "view", 1.25), (2, 0, "view", None), (3, 0, "view", 0.000001)]),
        p,
    )
    row = rlp.daily_rollup_counts(spark, p).first()
    assert row["n_events"] == 3 and row["n_valued"] == 2
    assert row["value_micros"] == 1_250_000 + 1


def test_rollup_key_format_is_strict(spark, tmp_path):
    """A manifest carrying a DIFFERENT key_format refuses to serve (the
    substr strict rule: the stored day/micro derivation is versioned)."""
    import json
    import os

    p = str(tmp_path / "roll")
    rlp.save_daily_rollup(_events(spark, [(1, 0, "view", 1.0)]), p)
    m = read_manifest(p)
    with open(os.path.join(p, "MANIFEST"), "w") as f:
        json.dump({**m, "key_format": "someone-elses-v9"}, f)
    with pytest.raises(ValueError, match="key_format"):
        rlp.daily_rollup_counts(spark, p).collect()
