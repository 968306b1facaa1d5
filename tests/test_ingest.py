"""Core ingest pipeline tests — mirror the reference's Ginkgo cases
(SURVEY §5): header skip, good-row parse, bad-id rejection, empty-email
rejection, duplicate handling, idempotent re-run."""

from __future__ import annotations

from pyspark.sql import functions as F

from csv_crm_upload_spark.operators.dedup import anti_join_existing, dedupe_batch
from csv_crm_upload_spark.operators.store import CustomerStore
from csv_crm_upload_spark.operators.validate import validate_split
from csv_crm_upload_spark.plans.ingest import ingest_csv
from csv_crm_upload_spark.schemas import CUSTOMER_CSV_SCHEMA
from csv_crm_upload_spark.sources.csv_source import read_customers_csv


def test_header_skip_single(spark, good_csv):
    # exactly one header row is skipped (reference double-skip bug §2.10 not replicated)
    df = read_customers_csv(spark, good_csv, header=True)
    assert df.count() == 3
    ids = {r["id"] for r in df.select("id").collect()}
    assert ids == {"1", "2", "3"}


def test_noheader_mode(spark, bad_csv):
    df = read_customers_csv(spark, bad_csv, header=False)
    assert df.count() == 5


def test_validate_dispositions(spark, bad_csv):
    # FIXTURES.md §2 golden dispositions
    raw = read_customers_csv(spark, bad_csv, header=False)
    clean, quarantine = validate_split(raw)
    assert clean.count() == 3  # dup email is a D1 concern, not validation
    reasons = {(r["id"], r["reason"]) for r in quarantine.collect()}
    assert reasons == {("500l", "bad_id"), ("5004", "empty_email")}
    # clean ids are typed long
    assert dict(clean.dtypes)["id"] == "bigint"


def test_whitespace_only_email_quarantined(spark):
    # every str.isspace character counts as blank, not only the ASCII
    # space F.trim strips
    blanks = [" ", "\t", "\n", "\x1f", "\x85", "\u3000", " \t\u2028 "]
    rows = [(str(i), "a", "b", e, "1", None) for i, e in enumerate(blanks)]
    rows.append(("99", "a", "b", " a@x.com\t", "1", None))
    raw = spark.createDataFrame(rows, schema=CUSTOMER_CSV_SCHEMA)
    clean, quarantine = validate_split(raw)
    assert [r["id"] for r in clean.collect()] == [99]
    assert {r["reason"] for r in quarantine.collect()} == {"empty_email"}
    assert quarantine.count() == len(blanks)


def test_malformed_line_quarantined(spark, tmp_path):
    p = tmp_path / "m.csv"
    p.write_text('1,a,b,a@x.com,111\n"unclosed,quote,breaks,this,row\n3,c,d,c@x.com,333\n')
    raw = read_customers_csv(spark, str(p), header=False)
    clean, quarantine = validate_split(raw)
    assert clean.count() == 2
    assert [r["reason"] for r in quarantine.collect()] == ["malformed_line"]


def test_dedupe_batch_deterministic(spark):
    rows = [
        (1, "a", "x", "dup@x.com", "1"),
        (2, "b", "y", "dup@x.com", "2"),
        (2, "c", "z", "other@x.com", "3"),
        (3, "d", "w", "three@x.com", "4"),
    ]
    df = spark.createDataFrame(rows, ["id", "first_name", "last_name", "email", "phone"])
    out = dedupe_batch(df)
    got = {(r["id"], r["email"]) for r in out.collect()}
    # id=1 wins dup@x.com (smallest ordering); id=2 keeps its first row but
    # that row lost the email-dedup, so the (2, other) row survives the id pass
    assert (1, "dup@x.com") in got
    assert (3, "three@x.com") in got
    assert len(got) == len({r[0] for r in got}) == len({r[1] for r in got})


def test_anti_join_existing(spark):
    batch = spark.createDataFrame(
        [(10, "n", "n", "new@x.com", "1"), (11, "o", "o", "old@x.com", "2"), (12, "p", "p", "p@x.com", "3")],
        ["id", "first_name", "last_name", "email", "phone"],
    )
    existing = spark.createDataFrame(
        [(11, "o", "o", "someother@x.com", "2", False), (99, "q", "q", "p@x.com", "9", True)],
        ["id", "first_name", "last_name", "email", "phone", "uploaded"],
    )
    out = anti_join_existing(batch, existing)
    assert [r["id"] for r in out.collect()] == [10]


def test_end_to_end_ingest_and_rerun(spark, bad_csv, tmp_path):
    store = CustomerStore(spark, str(tmp_path / "store"))
    res = ingest_csv(spark, bad_csv, store, header=False)
    # 5 rows: bad-id + empty-email quarantined; 5005 loses the email dedup to 5002
    assert res.inserted == 2
    assert res.quarantined == 2
    assert res.duplicates == 1
    table = store.read()
    assert table.count() == 2
    emails = {r["email"] for r in table.collect()}
    assert emails == {"cbenjafield1@icq.com", "cdiaz@x.com"}
    # uploaded defaults false; timestamps set (no NULL modified_ts — §2.10)
    assert table.filter(F.col("uploaded")).count() == 0
    assert table.filter(F.col("modified_ts").isNull()).count() == 0
    # idempotent re-run: second ingest inserts 0 (README.md:83-86 semantics)
    res2 = ingest_csv(spark, bad_csv, store, header=False)
    assert res2.inserted == 0
    assert store.read().count() == 2


def test_quarantine_persistence(spark, bad_csv, tmp_path):
    store = CustomerStore(spark, str(tmp_path / "store"))
    qdir = str(tmp_path / "quarantine")
    res = ingest_csv(spark, bad_csv, store, header=False, quarantine_dir=qdir)
    assert res.inserted == 2
    q = spark.read.parquet(qdir)
    reasons = {(r["id"], r["reason"]) for r in q.collect()}
    # validation rejects AND the duplicate-key loser, each with its reason
    assert reasons == {
        ("500l", "bad_id"),
        ("5004", "empty_email"),
        ("5005", "duplicate_key"),
    }
