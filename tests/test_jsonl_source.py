"""JSONL source: same imposed schema, corrupt-record tolerance, and
validate/quarantine semantics as the CSV source — one reader swap,
identical downstream pipeline."""

from __future__ import annotations

import json

from csv_crm_upload_spark.operators.validate import validate_split
from csv_crm_upload_spark.sources.jsonl_source import read_customers_jsonl
from csv_crm_upload_spark.sources.csv_source import read_customers_csv


def _write_jsonl(path, rows, extra_lines=()):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        for line in extra_lines:
            f.write(line + "\n")


def test_jsonl_parse_and_quarantine(spark, tmp_path):
    p = str(tmp_path / "in.jsonl")
    _write_jsonl(
        p,
        [
            {"id": "1", "first_name": "jon", "last_name": "doe", "email": "jon@x.com", "phone": "1"},
            {"id": "2", "first_name": "jane", "last_name": "doe", "email": "jane@x.com", "phone": "2"},
            {"id": "x", "first_name": "bad", "last_name": "id", "email": "bad@x.com", "phone": "3"},
            {"id": "4", "first_name": "no", "last_name": "mail", "phone": "4"},  # missing email
        ],
        extra_lines=['{"id": "5", "first_name": broken'],  # malformed JSON line
    )
    raw = read_customers_jsonl(spark, p)
    clean, quarantine = validate_split(raw)
    assert {r["email"] for r in clean.collect()} == {"jon@x.com", "jane@x.com"}
    q = quarantine.collect()
    # one bad id, one missing email, one corrupt line
    assert len(q) == 3


def test_jsonl_matches_csv_for_same_batch(spark, tmp_path):
    rows = [
        ("1", "jon", "doe", "jon@x.com", "1"),
        ("2", "jane", "doe", "jane@x.com", "2"),
    ]
    csv_p = str(tmp_path / "in.csv")
    with open(csv_p, "w") as f:
        f.write("id,first_name,last_name,email,phone\n")
        for r in rows:
            f.write(",".join(r) + "\n")
    jsonl_p = str(tmp_path / "in.jsonl")
    _write_jsonl(
        jsonl_p,
        [
            dict(zip(["id", "first_name", "last_name", "email", "phone"], r))
            for r in rows
        ],
    )
    cols = ["id", "first_name", "last_name", "email", "phone"]
    from_csv = sorted(map(tuple, validate_split(read_customers_csv(spark, csv_p))[0].select(*cols).collect()))
    from_jsonl = sorted(map(tuple, validate_split(read_customers_jsonl(spark, jsonl_p))[0].select(*cols).collect()))
    assert from_csv == from_jsonl


def test_jsonl_extra_fields_ignored_missing_null(spark, tmp_path):
    p = str(tmp_path / "in.jsonl")
    _write_jsonl(
        p,
        [
            {"id": "1", "first_name": "a", "last_name": "b", "email": "a@x.com",
             "phone": "1", "unexpected": "field"},
        ],
    )
    row = read_customers_jsonl(spark, p).collect()[0]
    assert row["email"] == "a@x.com"
    assert "unexpected" not in row.asDict()


def test_cli_ingest_jsonl_end_to_end(spark, tmp_path, capsys):
    from csv_crm_upload_spark.cli import main
    from csv_crm_upload_spark.operators.store import CustomerStore

    p = str(tmp_path / "in.jsonl")
    _write_jsonl(
        p,
        [
            {"id": "1", "first_name": "jon", "last_name": "doe", "email": "jon@x.com", "phone": "1"},
            {"id": "bad", "first_name": "x", "last_name": "y", "email": "z@x.com", "phone": "9"},
        ],
    )
    root = str(tmp_path / "store")
    assert main(["ingest", "--jsonl", p, "--store", root]) == 0
    out = capsys.readouterr().out
    assert "inserted=1" in out and "quarantined=1" in out
    emails = {r["email"] for r in CustomerStore(spark, root).read().collect()}
    assert emails == {"jon@x.com"}


def test_orc_ingest_same_dispositions_as_csv(spark, tmp_path):
    """The ORC path runs the identical pipeline: clean rows land, a bad
    id and a missing email quarantine, a duplicate email rejects."""
    from csv_crm_upload_spark.operators.store import CustomerStore
    from csv_crm_upload_spark.plans.ingest import ingest_batch
    from csv_crm_upload_spark.sources.orc_source import read_customers_orc

    rows = [
        ("1", "jon", "doe", "jon@x.com", "111"),
        ("bogus", "bad", "id", "bad@x.com", "222"),
        ("3", "no", "mail", None, "333"),
        ("4", "dup", "mail", "jon@x.com", "444"),
        ("5", "ok", "row", "ok@x.com", "555"),
    ]
    src = str(tmp_path / "cust.orc")
    spark.createDataFrame(
        rows, ["id", "first_name", "last_name", "email", "phone"]
    ).write.orc(src)

    store = CustomerStore(spark, str(tmp_path / "store"))
    res = ingest_batch(read_customers_orc(spark, src), store)
    assert res.inserted == 2 and res.quarantined == 2 and res.duplicates == 1
    assert sorted(r["id"] for r in store.read().collect()) == [1, 5]
