"""Store mutation + HTTP upload path tests — mirror the reference's
uploader behavior (select pending → POST → mark uploaded; at-least-once
with retry, SURVEY §2.9) and the FIXTURES.md §5 invariants."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from csv_crm_upload_spark.operators.mutate import finalize_columns
from csv_crm_upload_spark.operators.store import CustomerStore
from csv_crm_upload_spark.sinks.http_sink import fibonacci_backoff
from csv_crm_upload_spark.streaming.pipeline import run_upload_cycle
from tests.mock_crm import MockCRM

ROWS = [
    (1, "jon", "doe", "jon@x.com", "1"),
    (2, "jane", "doe", "jane@x.com", "2"),
    (3, "ann", "lee", "ann@x.com", "3"),
    (4, "bob", "ray", "bob@x.com", "4"),
    (5, "cat", "paw", "cat@x.com", "5"),
]
COLS = ["id", "first_name", "last_name", "email", "phone"]


def _fresh_store(spark, tmp_path) -> CustomerStore:
    store = CustomerStore(spark, str(tmp_path / "store"))
    store.append(finalize_columns(spark.createDataFrame(ROWS, COLS)))
    return store


def test_fibonacci_backoff_sequence():
    # reference uploader.go:161-170: 1,2,3,5,8,...
    assert list(fibonacci_backoff(6)) == [1.0, 2.0, 3.0, 5.0, 8.0, 13.0]


def test_pending_projection_and_filter(spark, tmp_path):
    store = _fresh_store(spark, tmp_path)
    pending = store.pending()
    assert pending.columns == COLS  # P1: exactly the 5 upload columns
    assert pending.count() == 5
    store.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"]))
    assert store.pending().count() == 4  # F1: uploaded=false only


def test_mark_uploaded_refreshes_modified_ts(spark, tmp_path):
    store = _fresh_store(spark, tmp_path)
    before = {r["email"]: r["modified_ts"] for r in store.read().collect()}
    flipped = store.mark_uploaded(spark.createDataFrame([("jane@x.com",)], ["email"]))
    assert flipped == 1
    after = {r["email"]: (r["uploaded"], r["modified_ts"]) for r in store.read().collect()}
    assert after["jane@x.com"][0] is True
    assert after["jane@x.com"][1] > before["jane@x.com"]  # U2 trigger semantics
    assert after["jon@x.com"][0] is False
    assert after["jon@x.com"][1] == before["jon@x.com"]


def test_upload_cycle_happy_path(spark, tmp_path):
    store = _fresh_store(spark, tmp_path)
    with MockCRM() as crm:
        marked = run_upload_cycle(store, crm.url, concurrency=2, sleep=lambda s: None)
    assert marked == 5
    assert store.pending().count() == 0
    emails = {r["email"] for r in store.read().filter(F.col("uploaded")).collect()}
    assert {p["email"] for p in crm.received} == emails == {r[3] for r in ROWS}


def test_upload_retry_on_flaky_sink(spark, tmp_path):
    store = _fresh_store(spark, tmp_path)
    with MockCRM(fail_every=3) as crm:  # every 3rd request 503s
        marked = run_upload_cycle(store, crm.url, concurrency=1, max_tries=5, sleep=lambda s: None)
        assert crm.failed > 0
    # retries converge: every row eventually 201s and is marked
    assert marked == 5
    assert store.pending().count() == 0


def test_upload_once_no_resend_after_marked(spark, tmp_path):
    # FIXTURES.md §5 invariant: no email POSTed again after uploaded=true
    store = _fresh_store(spark, tmp_path)
    with MockCRM() as crm:
        run_upload_cycle(store, crm.url, sleep=lambda s: None)
        first_total = crm.total
        marked2 = run_upload_cycle(store, crm.url, sleep=lambda s: None)
        assert marked2 == 0
        assert crm.total == first_total  # second cycle found nothing pending


def test_failed_only_rows_stay_pending(spark, tmp_path):
    store = _fresh_store(spark, tmp_path)
    with MockCRM(fail_every=1) as crm:  # sink fully down: all 503
        marked = run_upload_cycle(store, crm.url, concurrency=1, max_tries=2, sleep=lambda s: None)
    assert marked == 0
    assert store.pending().count() == 5  # at-least-once: re-sent next cycle


def test_write_lock_blocks_then_releases(spark, tmp_path):
    import os
    import pytest as _pytest

    store = _fresh_store(spark, tmp_path)
    lock = os.path.join(store.root, "_LOCK")
    open(lock, "w").write("held")  # simulate a crashed/concurrent writer
    with _pytest.raises(TimeoutError):
        with store._write_lock(timeout_s=0.5):
            pass
    os.remove(lock)
    # after release, mutation works and data is intact
    marked = store.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"]))
    assert marked == 1
    assert store.read().count() == 5


# -- bucketed-store guarantees (round 2) ------------------------------------


def _bucket_inodes(version_dir):
    """{bucket dirname -> {filename-suffix -> inode}} for link-identity checks."""
    import os

    out = {}
    for b in os.listdir(version_dir):
        if not b.startswith("b="):
            continue
        bdir = os.path.join(version_dir, b)
        out[b] = {os.stat(os.path.join(bdir, f)).st_ino for f in os.listdir(bdir) if f.endswith(".parquet")}
    return out


def test_mark_uploaded_rewrites_only_affected_buckets(spark, tmp_path):
    """U1 at scale: the flag flip must touch O(affected buckets), not
    O(table) — unaffected buckets are hard links of the prior version."""
    store = _fresh_store(spark, tmp_path)
    v_before = store._current_version()
    before = _bucket_inodes(store._version_dir(v_before))
    flipped = store.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"]))
    assert flipped == 1
    v_after = store._current_version()
    after = _bucket_inodes(store._version_dir(v_after))

    from pyspark.sql import functions as F
    from csv_crm_upload_spark.operators.store import _bucket_col

    hit = spark.createDataFrame([("jon@x.com",)], ["email"]).select(
        _bucket_col(store.n_buckets).alias("b")
    ).first()["b"]
    hit_bucket = f"b={hit}"
    assert hit_bucket in after
    # affected bucket: genuinely rewritten (no shared inodes with before)
    assert after[hit_bucket].isdisjoint(before.get(hit_bucket, set()))
    # every other bucket: identical inode set (hard links, zero data copied)
    for b, inodes in before.items():
        if b != hit_bucket:
            assert after[b] == inodes, f"unaffected bucket {b} was rewritten"


def test_merge_upserts_update_insert_skip(spark, tmp_path):
    """MERGE surface: matched emails update in place (flag + created_ts
    preserved, modified_ts refreshed), new emails insert with defaults,
    id-conflicting inserts are skipped — both UNIQUE constraints hold."""
    store = _fresh_store(spark, tmp_path)
    store.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"]))
    src = spark.createDataFrame(
        [(1, "jonathan", "doe", "jon@x.com", "11"),   # matched → update
         (9, "new", "person", "nine@x.com", "9"),     # not matched → insert
         (2, "dupid", "x", "other@x.com", "0")],      # id 2 taken → skip
        COLS,
    )
    res = store.merge(src, now="2026-02-02 00:00:00")
    assert res == {"updated": 1, "inserted": 1, "skipped": 1}

    final = {r["email"]: r for r in store.read().collect()}
    assert len(final) == 6 and "other@x.com" not in final
    jon = final["jon@x.com"]
    assert (jon["first_name"], jon["phone"]) == ("jonathan", "11")
    assert jon["uploaded"] is True                       # flag preserved
    assert str(jon["modified_ts"]).startswith("2026-02-02")
    assert str(jon["created_ts"]) != str(jon["modified_ts"])  # created kept
    nine = final["nine@x.com"]
    assert nine["uploaded"] is False
    assert str(nine["created_ts"]).startswith("2026-02-02")
    assert final["jane@x.com"]["first_name"] == "jane"   # untouched row

    # no-op merge (same matched values exist → still a matched update;
    # empty source → zero commit)
    v = store._current_version()
    assert store.merge(spark.createDataFrame([], "id long, first_name string, last_name string, email string, phone string")) == {
        "updated": 0, "inserted": 0, "skipped": 0,
    }
    assert store._current_version() == v


def test_merge_rewrites_only_affected_buckets(spark, tmp_path):
    """The MERGE must cost O(affected buckets): untouched buckets are
    hard links (identical inodes) of the prior version."""
    from csv_crm_upload_spark.operators.store import _bucket_col

    store = _fresh_store(spark, tmp_path)
    v_before = store._current_version()
    before = _bucket_inodes(store._version_dir(v_before))
    src = spark.createDataFrame([(1, "jonathan", "doe", "jon@x.com", "11")], COLS)
    res = store.merge(src, now="2026-02-02 00:00:00")
    assert res["updated"] == 1
    after = _bucket_inodes(store._version_dir(store._current_version()))
    hit = spark.createDataFrame([("jon@x.com",)], ["email"]).select(
        _bucket_col(store.n_buckets).alias("b")
    ).first()["b"]
    hit_bucket = f"b={hit}"
    assert after[hit_bucket].isdisjoint(before.get(hit_bucket, set()))
    for b, inodes in before.items():
        if b != hit_bucket:
            assert after[b] == inodes, f"unaffected bucket {b} was rewritten"


def test_merge_into_empty_store(spark, tmp_path):
    store = CustomerStore(spark, str(tmp_path / "s"))
    src = spark.createDataFrame([(1, "a", "b", "a@x.com", "1")], COLS)
    assert store.merge(src, now="2026-02-02 00:00:00") == {
        "updated": 0, "inserted": 1, "skipped": 0,
    }
    assert store.read().count() == 1


def test_append_unique_drops_store_duplicates(spark, tmp_path):
    store = _fresh_store(spark, tmp_path)
    batch = finalize_columns(
        spark.createDataFrame(
            [(1, "dup", "id", "new1@x.com", "9"),       # id collides
             (9, "dup", "email", "jon@x.com", "9"),      # email collides
             (10, "fresh", "row", "ten@x.com", "10")],   # insertable
            COLS,
        )
    )
    inserted = store.append_unique(batch)
    assert inserted == 1
    assert store.read().count() == 6
    assert store.read().filter("email = 'ten@x.com'").count() == 1


def test_append_unique_reverifies_under_conflicting_commit(spark, tmp_path):
    """The D1 check-then-act race: writer A's anti-join passes against
    version N, writer B commits the same email, A must NOT also insert."""
    import contextlib

    store = _fresh_store(spark, tmp_path)
    rival = CustomerStore(spark, store.root)
    row = [(6, "zed", "q", "zed@x.com", "6")]
    batch = finalize_columns(spark.createDataFrame(row, COLS))
    real_lock = store._write_lock
    fired = {"done": False}

    @contextlib.contextmanager
    def racing_lock(*a, **k):
        # rival commits the same row AFTER our anti-join staged, BEFORE our lock
        if not fired["done"]:
            fired["done"] = True
            rival.append(finalize_columns(spark.createDataFrame(row, COLS)))
        with real_lock(*a, **k):
            yield

    store._write_lock = racing_lock
    inserted = store.append_unique(batch)
    assert inserted == 0  # re-verify inside the lock caught the conflict
    assert store.read().filter("email = 'zed@x.com'").count() == 1


def test_stale_lock_broken_when_owner_dead(spark, tmp_path):
    import os
    import subprocess

    store = _fresh_store(spark, tmp_path)
    proc = subprocess.Popen(["true"])
    proc.wait()
    with open(os.path.join(store.root, "_LOCK"), "w") as f:
        f.write(str(proc.pid))  # dead owner
    # mutation proceeds by breaking the stale lock instead of timing out
    marked = store.mark_uploaded(spark.createDataFrame([("jane@x.com",)], ["email"]))
    assert marked == 1


def test_time_travel_and_vacuum(spark, tmp_path):
    """Lakehouse surface on the versioned store: VERSION AS OF reads,
    version listing, and hard-link-safe vacuum."""
    import pytest as _pytest

    store = _fresh_store(spark, tmp_path)               # v0: 5 rows pending
    store.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"]))  # v1
    store.append(finalize_columns(spark.createDataFrame([(6, "zed", "q", "z@x.com", "6")], COLS)))  # v2

    assert store.versions() == [0, 1, 2]
    assert store.read_version(0).filter("uploaded").count() == 0
    assert store.read_version(1).filter("uploaded").count() == 1
    assert store.read_version(2).count() == 6
    assert store.read().count() == 6  # read() == latest

    removed = store.vacuum(keep_last=1)
    assert removed == [0, 1]
    # latest still fully readable after old versions are gone (hard links)
    assert store.read().count() == 6
    assert store.read().filter("uploaded").count() == 1
    with _pytest.raises(FileNotFoundError):
        store.read_version(0)


def test_carried_files_keep_original_names_across_commits(spark, tmp_path):
    """Files surviving N commits must keep their original names — a
    rename-per-commit scheme (e.g. stacking a prefix) grows filenames
    unboundedly and hits NAME_MAX on long-running serve/watch usage."""
    import os

    store = _fresh_store(spark, tmp_path)  # v0
    names_v0 = {
        f
        for _, _, files in os.walk(store._version_dir(0))
        for f in files
        if f.endswith(".parquet")
    }
    # 6 more commits: alternating appends and keyed flag flips
    for i in range(3):
        store.append(
            finalize_columns(
                spark.createDataFrame([(10 + i, "x", "y", f"x{i}@x.com", "0")], COLS)
            )
        )
        store.mark_uploaded(spark.createDataFrame([(f"x{i}@x.com",)], ["email"]))
    latest = store._version_dir(store._current_version())
    names_latest = {
        f for _, _, files in os.walk(latest) for f in files if f.endswith(".parquet")
    }
    # v0's surviving files appear under their ORIGINAL names, unprefixed
    assert names_v0 & names_latest, "no v0 files survived — layout assumption broke"
    assert not any(f.startswith("p_") for f in names_latest)
    assert max(len(f) for f in names_latest) <= max(len(f) for f in names_v0)
    assert store.read().count() == 8


def test_upload_service_ticks(spark, tmp_path):
    """Service loop: rows arriving between ticks go out on the next one."""
    store = _fresh_store(spark, tmp_path)
    ticks = []

    with MockCRM() as crm:
        def tick(interval):
            ticks.append(interval)
            # new customer lands between cycle 1 and cycle 2
            store.append(finalize_columns(
                spark.createDataFrame([(7, "late", "comer", "late@x.com", "7")], COLS)
            ))

        from csv_crm_upload_spark.streaming.pipeline import run_upload_service

        marked = run_upload_service(
            store, crm.url, interval_s=30.0, max_cycles=2, sleep=lambda s: None, tick_sleep=tick
        )
    assert marked == [5, 1]
    assert ticks == [30.0]
    assert store.pending().count() == 0


def test_store_compaction_binpacks_buckets(spark, tmp_path):
    """After an append chain, compact() resets every bucket to one file in
    a new snapshot; data identical, old versions still readable."""
    import os

    store = CustomerStore(spark, str(tmp_path / "store"), n_buckets=4)
    for i in range(4):  # 4 appends -> growing per-bucket file chains
        store.append(finalize_columns(spark.createDataFrame(
            [(10 * i + j, "n", "m", f"u{10 * i + j}@x.com", "1") for j in range(5)], COLS
        )))
    v_before = store._current_version()
    before_rows = sorted(r["email"] for r in store.read().collect())

    def n_files(v):
        vdir = store._version_dir(v)
        return sum(
            len([f for f in os.listdir(p) if f.endswith(".parquet")])
            for p in store._bucket_dirs(vdir).values()
        )

    assert n_files(v_before) > 4  # accumulated chain
    v_new = store.compact()
    assert v_new == v_before + 1
    assert n_files(v_new) <= 4  # one file per (non-empty) bucket
    assert sorted(r["email"] for r in store.read().collect()) == before_rows
    # prior version untouched and still readable
    assert store.read_version(v_before).count() == 20


def test_delete_where_removes_only_matches(spark, tmp_path):
    """DELETE ... WHERE: matching rows go, NULL-predicate rows stay (SQL
    semantics), untouched buckets hard-link (inode check), and the rows
    removed are exactly the old snapshot minus the new one."""
    import os

    store = _fresh_store(spark, tmp_path)
    v0 = store._current_version()

    def inodes():
        out = {}
        vdir = store._version_dir(store._current_version())
        for b in os.listdir(vdir):
            if b.startswith("b="):
                p = os.path.join(vdir, b)
                out[b] = frozenset(
                    os.stat(os.path.join(p, f)).st_ino for f in os.listdir(p)
                )
        return out

    before = inodes()
    # phone of id=3 is "3"; predicate is NULL for rows with NULL phone
    n = store.delete("id >= 4")
    assert n == 2
    after = inodes()
    left = {r["id"] for r in store.read().collect()}
    assert left == {1, 2, 3}
    # buckets without a deleted row must carry their files by hard link
    untouched = [b for b in before if b in after and before[b] == after[b]]
    assert untouched, "every bucket rewritten — delete is not pruned"
    removed = store.read_version(v0).exceptAll(store.read())
    assert {r["id"] for r in removed.collect()} == {4, 5}


def test_delete_null_predicate_rows_are_kept(spark, tmp_path):
    store = _fresh_store(spark, tmp_path)
    store.append(
        finalize_columns(
            spark.createDataFrame(
                [(9, "no", "phone", "np@x.com", None)],
                "id long, first_name string, last_name string, email string, phone string",
            )
        )
    )
    # phone IS NULL for id=9 → predicate NULL → row kept
    n = store.delete("phone = 'nope'")
    assert n == 0
    assert store.read().count() == 6


def test_delete_whole_bucket_disappears(spark, tmp_path):
    store = _fresh_store(spark, tmp_path)
    n = store.delete("id <= 5")
    assert n == 5
    assert store.read().count() == 0


def test_history_records_operations_and_metrics(spark, tmp_path):
    """DESCRIBE HISTORY surface: every mutation leaves a typed entry with
    its row metrics, newest first, surviving vacuum for kept versions."""
    store = _fresh_store(spark, tmp_path)                      # v0 append
    store.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"]))  # v1
    store.delete("id = 5")                                     # v2
    store.merge(
        spark.createDataFrame([(2, "j", "d", "jane@x.com", "2"),
                               (6, "new", "p", "new@x.com", "6")], COLS)
    )                                                          # v3
    store.compact()                                            # v4
    hist = store.history()
    assert [h["version"] for h in hist] == [4, 3, 2, 1, 0]
    ops = {h["version"]: h["operation"] for h in hist}
    assert ops == {0: "append", 1: "update", 2: "delete", 3: "merge", 4: "compact"}
    m = {h["version"]: h["metrics"] for h in hist}
    assert m[1] == {"rows_updated": 1}
    assert m[2] == {"rows_deleted": 1}
    assert m[3] == {"rows_updated": 1, "rows_inserted": 1, "rows_skipped": 0}
    assert m[4] == {}
    assert all(h["timestamp"] for h in hist)
    store.vacuum(keep_last=2)
    assert [h["version"] for h in store.history()] == [4, 3]


def test_store_refuses_meta_with_evolved_columns_or_constraints(spark, tmp_path):
    """Reads and writes use the customer schema only, so a `_META` that
    declares evolved columns or CHECK constraints must fail on open and
    name the key; a rewrite would otherwise drop those columns."""
    import json

    import pytest

    root = tmp_path / "store"
    for key, value in (
        ("extra_cols", [{"name": "tier", "type": "string", "default": None}]),
        ("constraints", {"positive_id": "id > 0"}),
    ):
        root.mkdir(exist_ok=True)
        (root / "_META").write_text(json.dumps({"n_buckets": 4, key: value}))
        with pytest.raises(ValueError, match=key):
            CustomerStore(spark, str(root))
    (root / "_META").write_text(json.dumps({"n_buckets": 4, "extra_cols": [], "constraints": {}}))
    assert CustomerStore(spark, str(root)).n_buckets == 4


def test_maybe_compact_threshold(spark, tmp_path):
    store = _fresh_store(spark, tmp_path)
    assert store.maybe_compact(max_files_per_bucket=50) is None  # under threshold
    for i in range(3):  # accumulate files in the same buckets
        store.append(
            finalize_columns(
                spark.createDataFrame([(10 + i, "x", "y", f"x{i}@x.com", "0")], COLS)
            )
        )
    before = store.read().count()
    v = store.maybe_compact(max_files_per_bucket=1)
    assert v is not None and store._current_version() == v
    assert store.read().count() == before
    # compacted: every bucket back to one file
    for _b, p in store._bucket_dirs(store._version_dir(v)).items():
        assert sum(1 for f in os.listdir(p) if f.endswith(".parquet")) == 1


def test_crash_before_pointer_swap_leaves_no_version(spark, tmp_path, monkeypatch):
    """A writer that dies after building v+1 and before the `_LATEST`
    swap leaves an uncommitted version dir: no reader may list it, and
    the next writers must commit over it."""
    import pytest

    from csv_crm_upload_spark.operators import store as store_mod

    store = _fresh_store(spark, tmp_path)
    v0 = store._current_version()
    zed = [(6, "zed", "q", "zed@x.com", "6")]

    def crashing_open(path, mode="r", *a, **k):
        if str(path).endswith("_LATEST.tmp"):  # the step right before the swap
            raise OSError("injected crash before the _LATEST swap")
        return open(path, mode, *a, **k)

    monkeypatch.setattr(store_mod, "open", crashing_open, raising=False)
    with pytest.raises(OSError, match="injected"):
        store.append_unique(finalize_columns(spark.createDataFrame(zed, COLS)))
    monkeypatch.undo()
    assert os.path.isdir(store._version_dir(v0 + 1))  # the crash's debris
    assert store.versions()[-1] == v0
    assert store.history()[0]["version"] == v0
    assert sorted(r["email"] for r in store.read().collect()) == sorted(r[3] for r in ROWS)

    assert store.append_unique(finalize_columns(spark.createDataFrame(zed, COLS))) == 1
    assert store.mark_uploaded(spark.createDataFrame([("zed@x.com",)], ["email"])) == 1
    assert store.versions()[-2:] == [v0 + 1, v0 + 2]
    assert [h["operation"] for h in store.history()[:2]] == ["update", "append_unique"]
    got = {r["email"]: r["uploaded"] for r in store.read().collect()}
    assert got == {**{r[3]: False for r in ROWS}, "zed@x.com": True}
