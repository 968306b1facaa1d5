"""JDBC store integration tests — run for REAL against embedded Derby
(shipped in Spark's jars), exercising the same contract the reference
gets from Postgres (database/database.go:16-19). Point the URL at
Postgres in production; these tests gate the operator surface."""

from __future__ import annotations

import glob
import os

import pytest

from csv_crm_upload_spark.operators.mutate import finalize_columns
from csv_crm_upload_spark.sinks.jdbc_store import JdbcCustomerStore, _update_sql

_SPARK_JARS = os.path.join(os.path.dirname(os.path.dirname(glob.__file__)), "")
try:  # Derby embedded driver ships with Spark; guard for other installs
    import pyspark

    _HAS_DERBY = bool(glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "derby-*.jar")))
except ImportError:  # pragma: no cover
    _HAS_DERBY = False

pytestmark = pytest.mark.skipif(
    not _HAS_DERBY, reason="no JDBC driver jar (Derby) on the Spark classpath"
)

ROWS = [
    (1, "jon", "doe", "jon@x.com", "1"),
    (2, "jane", "doe", "jane@x.com", "2"),
    (3, "ann", "lee", "ann@x.com", "3"),
]
COLS = ["id", "first_name", "last_name", "email", "phone"]


@pytest.fixture()
def jdbc_store(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    store = JdbcCustomerStore(spark, url)
    store.ensure_table()
    return store


def _finalized(spark, rows):
    return finalize_columns(spark.createDataFrame(rows, COLS), now="2026-01-01 00:00:00")


def test_update_sql_shape():
    sql = _update_sql("customers", "hits", "CURRENT_TIMESTAMP")
    assert "UPDATE customers SET uploaded = true" in sql
    assert 'WHERE uploaded = false AND email IN (SELECT "email" FROM hits)' in sql


def test_append_read_roundtrip(spark, jdbc_store):
    jdbc_store.append(_finalized(spark, ROWS))
    got = {r["email"]: r for r in jdbc_store.read().collect()}
    assert set(got) == {"jon@x.com", "jane@x.com", "ann@x.com"}
    assert all(not r["uploaded"] for r in got.values())


def test_pending_pushdown_and_mark_uploaded(spark, jdbc_store):
    jdbc_store.append(_finalized(spark, ROWS))
    pending = jdbc_store.pending()
    assert pending.columns == COLS
    assert pending.count() == 3
    # the uploaded=false predicate reaches the JDBC scan (reference's
    # indexed WHERE clause — not a post-filter over a full fetch)
    plan = pending._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(UPLOADED,true)" in plan  # predicate reached the scan
    assert "ReadSchema: struct<ID:int,FIRST_NAME:string" in plan  # pruned cols

    flipped = jdbc_store.mark_uploaded(
        spark.createDataFrame([("jon@x.com",), ("ann@x.com",)], ["email"]),
        now="2026-01-02 00:00:00",
    )
    assert flipped == 2
    assert jdbc_store.pending().count() == 1
    jon = jdbc_store.read().filter("email = 'jon@x.com'").first()
    assert jon["uploaded"] is True
    assert str(jon["modified_ts"]).startswith("2026-01-02")  # U2 refresh
    jane = jdbc_store.read().filter("email = 'jane@x.com'").first()
    assert jane["uploaded"] is False
    assert str(jane["modified_ts"]).startswith("2026-01-01")


def test_mark_uploaded_idempotent(spark, jdbc_store):
    jdbc_store.append(_finalized(spark, ROWS))
    hits = spark.createDataFrame([("jon@x.com",)], ["email"])
    assert jdbc_store.mark_uploaded(hits) == 1
    assert jdbc_store.mark_uploaded(hits) == 0  # already uploaded: no flips


def test_append_unique_drops_existing_keys(spark, jdbc_store):
    jdbc_store.append(_finalized(spark, ROWS))
    batch = _finalized(
        spark,
        [(1, "dup", "id", "new@x.com", "9"),      # id collides
         (9, "dup", "email", "jon@x.com", "9"),    # email collides
         (10, "fresh", "row", "ten@x.com", "10")],
    )
    assert jdbc_store.append_unique(batch) == 1
    assert jdbc_store.read().count() == 4


def test_unique_constraint_is_server_side_backstop(spark, jdbc_store):
    """The DB rejects duplicate keys even if a racing writer slips past
    the anti-join — the reference's Postgres UNIQUE guarantee."""
    jdbc_store.append(_finalized(spark, ROWS))
    with pytest.raises(Exception) as e:
        jdbc_store.append(_finalized(spark, [(1, "dup", "id", "other@x.com", "9")]))
    assert "duplicate" in str(e.value).lower() or "23505" in str(e.value)


def test_mark_uploaded_rejects_malformed_now(spark, jdbc_store):
    """`now` is interpolated as a SQL literal — anything that isn't a
    plain timestamp string must be rejected before it reaches the DB."""
    jdbc_store.append(_finalized(spark, ROWS))
    with pytest.raises(ValueError):
        jdbc_store.mark_uploaded(
            spark.createDataFrame([("jon@x.com",)], ["email"]),
            now="2026-01-01'; DROP TABLE customers; --",
        )
    assert jdbc_store.read().count() == 3  # table intact


def test_jdbc_ingest_quarantines_only_real_duplicates(spark, jdbc_store, tmp_path):
    """The duplicate audit must evaluate against the PRE-append snapshot:
    a lazy JDBC re-read after append_unique would see this batch's own
    rows and quarantine every inserted row as a duplicate_key."""
    from csv_crm_upload_spark.plans.ingest import ingest_batch

    qdir = str(tmp_path / "quarantine")
    raw = spark.createDataFrame(
        [("1", "jon", "doe", "jon@x.com", "1"), ("2", "jane", "doe", "jane@x.com", "2")],
        COLS,
    )
    r1 = ingest_batch(raw, jdbc_store, now="2026-01-01 00:00:00", quarantine_dir=qdir)
    assert r1.inserted == 2 and r1.duplicates == 0
    assert spark.read.parquet(qdir).filter("reason = 'duplicate_key'").count() == 0

    r2 = ingest_batch(raw, jdbc_store, now="2026-01-02 00:00:00", quarantine_dir=qdir)
    assert r2.inserted == 0 and r2.duplicates == 2
    assert spark.read.parquet(qdir).filter("reason = 'duplicate_key'").count() == 2


def test_upload_cycle_against_jdbc_store(spark, jdbc_store):
    """The store interface is swappable: the reference's full loop
    (pending -> POST -> flag flip) runs unchanged against JDBC."""
    from csv_crm_upload_spark.streaming.pipeline import run_upload_cycle
    from tests.mock_crm import MockCRM

    jdbc_store.append(_finalized(spark, ROWS))
    with MockCRM() as crm:
        marked = run_upload_cycle(jdbc_store, crm.url, concurrency=2, sleep=lambda s: None)
    assert marked == 3
    assert jdbc_store.pending().count() == 0
    assert {p["email"] for p in crm.received} == {r[3] for r in ROWS}


def test_streaming_ingest_into_jdbc_store(spark, jdbc_store, tmp_path):
    """The streaming ingest path is store-agnostic: CSVs stream into the
    JDBC-backed table through the same checkpointed foreachBatch plan."""
    from csv_crm_upload_spark.streaming.pipeline import run_ingest_stream

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.csv").write_text("1,jon,doe,jon@x.com,1\nbad,row,x,y@x.com,2\n2,jane,doe,jane@x.com,2\n")
    q = run_ingest_stream(spark, str(inp), jdbc_store, str(tmp_path / "ckpt"), header=False)
    q.awaitTermination(120)
    assert jdbc_store.pending().count() == 2  # bad row quarantined
    # restart with a new file: checkpoint skips the old one
    (inp / "b.csv").write_text("3,sam,lee,sam@x.com,3\n")
    q2 = run_ingest_stream(spark, str(inp), jdbc_store, str(tmp_path / "ckpt"), header=False)
    q2.awaitTermination(120)
    assert jdbc_store.read().count() == 3


def test_jdbc_delete_where(spark, jdbc_store):
    jdbc_store.append(_finalized(spark, ROWS))
    n = jdbc_store.delete("email = 'jon@x.com'")
    assert n == 1
    assert {r["email"] for r in jdbc_store.read().collect()} == {"jane@x.com", "ann@x.com"}
    assert jdbc_store.delete("email = 'nobody@x.com'") == 0


def test_forget_erases_row_and_escapes_quotes(spark, jdbc_store):
    jdbc_store.append(_finalized(spark, ROWS))
    jdbc_store.append(_finalized(spark, [(4, "o", "brien", "o'brien@x.com", "4")]))
    assert jdbc_store.forget("jane@x.com") == 1
    assert jdbc_store.forget("ghost@x.com") == 0
    assert jdbc_store.forget("o'brien@x.com") == 1  # quote-safe
    left = {r["email"] for r in jdbc_store.read().collect()}
    assert left == {"jon@x.com", "ann@x.com"}


def test_append_unique_constraint_violation_aborts_whole_batch(spark, jdbc_store):
    """Documented semantics (jdbc_store.append_unique): a duplicate that
    slips past the anti-join snapshot hits the server-side UNIQUE/PK
    constraint and ABORTS the batch — within one insert transaction
    nothing lands (rollback), rather than silently skipping the loser.
    An INTERNAL duplicate models the race deterministically: the
    anti-join only checks the table, so both rows reach the INSERT."""
    jdbc_store.append(_finalized(spark, ROWS))
    dup_batch = _finalized(
        spark,
        [(7, "a", "a", "a7@x.com", "7"), (7, "b", "b", "b7@x.com", "7")],
    ).coalesce(1)  # one partition = one transaction = clean rollback
    with pytest.raises(Exception):
        jdbc_store.append_unique(dup_batch)
    emails = {r["email"] for r in jdbc_store.read().collect()}
    assert "a7@x.com" not in emails and "b7@x.com" not in emails
    assert jdbc_store.read().count() == 3  # table exactly as before


def test_concurrent_append_and_flip_against_derby(spark, jdbc_store):
    """Two RACING writers against one Derby database — the relational
    analog of tests/test_store_concurrency.py's two-process stress.

    Environment note: a second OS process cannot boot the same EMBEDDED
    Derby database (the page cache is in-JVM; a concurrent boot fails
    with XSDB6, and Spark ships only derby/derbyshared/derbytools, no
    network-server jars). The race therefore runs on two threads with
    independent JDBC connections inside one JVM — the exact server-side
    lock-manager + UNIQUE-constraint surface two Postgres clients would
    hit; nothing in the client stack above the connection is shared.

    Worker A appends ids 1..30 in chunks of 10 and flips 1..15; worker B
    appends 11..40 and flips 26..40. Overlapping chunks that pass both
    anti-join snapshots hit the UNIQUE constraint and abort that batch
    (the documented semantics); the worker then RETRIES the chunk —
    append_unique's fresh anti-join drops the now-present rows, so the
    retry converges. Final invariants are Postgres's: no duplicate
    id/email, every flip present, nothing else flipped."""
    import threading

    errors: list[BaseException] = []

    def worker(lo: int, hi: int, mark_lo: int, mark_hi: int) -> None:
        try:
            ids = list(range(lo, hi))
            for at in range(0, len(ids), 10):
                chunk = ids[at : at + 10]
                batch = _finalized(
                    spark,
                    [(i, f"fn{i}", f"ln{i}", f"u{i}@x.com", str(i)) for i in chunk],
                )
                for _attempt in range(8):
                    try:
                        n = jdbc_store.append_unique(batch)
                        assert 0 <= n <= len(chunk)
                        break
                    except AssertionError:
                        raise
                    except Exception:
                        continue  # batch aborted by the constraint race — retry
                else:
                    raise AssertionError(f"chunk {chunk[0]}..{chunk[-1]} never converged")
            marks = spark.createDataFrame(
                [(f"u{i}@x.com",) for i in range(mark_lo, mark_hi)], ["email"]
            )
            for _attempt in range(8):
                try:
                    flipped = jdbc_store.mark_uploaded(marks)
                    assert 0 <= flipped <= mark_hi - mark_lo
                    break
                except AssertionError:
                    raise
                except Exception:
                    continue  # lock contention with the other writer — retry
            else:
                raise AssertionError("mark_uploaded never converged")
        except BaseException as e:  # surfaced by the main thread
            errors.append(e)

    ta = threading.Thread(target=worker, args=(1, 31, 1, 16))
    tb = threading.Thread(target=worker, args=(11, 41, 26, 41))
    ta.start()
    tb.start()
    ta.join(600)
    tb.join(600)
    assert not errors, errors

    final = jdbc_store.read()
    rows = final.collect()
    # Postgres-UNIQUE invariant: no duplicate id or email survived the race
    assert len(rows) == 40
    assert final.select("id").distinct().count() == 40
    assert final.select("email").distinct().count() == 40
    # no lost updates: every marked email is uploaded in the final state
    uploaded = {r["email"] for r in rows if r["uploaded"]}
    expected = {f"u{i}@x.com" for i in range(1, 16)} | {
        f"u{i}@x.com" for i in range(26, 41)
    }
    assert uploaded == expected
    assert final.filter("NOT uploaded").count() == 40 - len(expected)
