"""Persisted winnowing fingerprint index: indexed ≡ inline, incremental
append ≡ rebuild (fingerprints are pure per-doc functions),
bucket-pruned probes, a probe racing an append."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import winnow as wn
from csv_crm_upload_spark.analytics.textstats import wfp2_shared_fingerprint_pairs
from csv_crm_upload_spark.sources.tables import load_table


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_indexed_pairs_equal_inline(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "wn")
    wn.save_winnow_index(docs, idx)
    got = _rows(wn.wfp2_indexed_pairs(spark, idx))
    want = _rows(wfp2_shared_fingerprint_pairs(docs))
    assert got == want and got, "indexed pair set diverges from inline"


def test_incremental_append_equals_rebuild(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    inc, reb = str(tmp_path / "inc"), str(tmp_path / "reb")
    wn.save_winnow_index(old, inc)
    wn.update_winnow_index(new, inc)
    wn.save_winnow_index(docs, reb)
    assert _rows(wn.load_winnow_prints(spark, inc)) == _rows(
        wn.load_winnow_prints(spark, reb)
    )
    # the appended epoch holds ONLY the shard's prints (O(new docs))
    ep1 = spark.read.parquet(f"{inc}/prints/epoch=1")
    assert {r["doc_id"] % 2 for r in ep1.select("doc_id").distinct().collect()} == {1}
    assert _rows(wn.wfp2_indexed_pairs(spark, inc)) == _rows(
        wfp2_shared_fingerprint_pairs(docs)
    )


def test_probe_matches_and_prunes_buckets(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "wn")
    wn.save_winnow_index(docs, idx)
    # probe = a verbatim copy of an indexed doc under a new id: every
    # selected fingerprint matches, so it must be the top hit
    src = docs.filter(F.col("text").isNotNull()).orderBy(F.col("n_chars").desc()).limit(1)
    probe = src.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    hits = wn.match_documents(spark, idx, probe)
    top = hits.collect()[0]
    assert top["indexed_doc_id"] == src.collect()[0]["doc_id"]
    # plan prunes the stored scan to the probe's buckets
    plan_df = wn.match_documents(spark, idx, probe)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    assert "PartitionFilters: [" in buf.getvalue()
    assert "bucket" in buf.getvalue().split("PartitionFilters:")[1][:400]


def test_probe_during_winnow_update_sees_old_or_new(spark, sf_dir, tmp_path):
    """A reader racing update_winnow_index must see the pre-append or
    the post-append print set, never a partial epoch (manifest-resolved
    — the same atomicity contract as every other artifact)."""
    import threading

    docs = load_table(spark, sf_dir, "documents")
    part_a = docs.filter(F.col("doc_id") % 2 == 0)
    part_b = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "race_wn")
    wn.save_winnow_index(part_a, idx)
    old = _rows(wn.load_winnow_prints(spark, idx))

    errs = []

    def updater():
        try:
            wn.update_winnow_index(part_b, idx)
        except Exception as e:
            errs.append(e)

    t = threading.Thread(target=updater)
    t.start()
    seen = []
    while t.is_alive():
        seen.append(_rows(wn.load_winnow_prints(spark, idx)))
    t.join()
    assert not errs, errs
    new = _rows(wn.load_winnow_prints(spark, idx))
    assert new != old
    bad = [i for i, s in enumerate(seen) if s != old and s != new]
    assert not bad, f"{len(bad)} probes saw a mixed snapshot (of {len(seen)})"
