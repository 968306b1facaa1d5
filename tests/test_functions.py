"""JSON codec round-trip (X2/X3) — mirrors the reference's wire format
(snake_case keys, database/database.go:33-41) incl. the legacy
`updated_ts` key golden case (FIXTURES.md §4)."""

from __future__ import annotations

import datetime as dt

from csv_crm_upload_spark.functions.json_codec import customers_from_json, customers_to_json


def test_to_json_payload_shape(spark):
    df = spark.createDataFrame(
        [(1, "jon", "doe", "jon.doe@mail.com", "+1 212 555 1234")],
        ["id", "first_name", "last_name", "email", "phone"],
    )
    [row] = customers_to_json(df).collect()
    assert row["payload"] == (
        '{"id":1,"first_name":"jon","last_name":"doe",'
        '"email":"jon.doe@mail.com","phone":"+1 212 555 1234"}'
    )


def test_from_json_roundtrip_and_legacy_key(spark):
    payloads = [
        ('{"id": 1, "first_name": "jon", "last_name": "doe", "email": "jon.doe@mail.com",'
         ' "phone": "+1 212 555 1234", "uploaded": false,'
         ' "created_ts": "2026-08-13T00:00:00Z", "modified_ts": "2026-08-13T01:00:00Z"}',),
        # legacy Go tag: updated_ts maps into modified_ts (SURVEY §1.3)
        ('{"id": 2, "email": "jane@x.com", "uploaded": true,'
         ' "updated_ts": "2026-08-13T02:00:00Z"}',),
    ]
    df = spark.createDataFrame(payloads, ["payload"])
    rows = {r["id"]: r for r in customers_from_json(df).collect()}
    assert rows[1]["modified_ts"] == dt.datetime(2026, 8, 13, 1, 0)
    assert rows[1]["uploaded"] is False
    assert rows[2]["modified_ts"] == dt.datetime(2026, 8, 13, 2, 0)
    assert rows[2]["first_name"] is None
