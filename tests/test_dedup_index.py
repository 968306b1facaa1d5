"""Persisted LSH candidate-pair index: the graph-family queries consume
one materialized pair table (built once per corpus snapshot) instead of
each re-deriving the shingle→minhash→band pipeline — the build-once
pattern of retrieval.save_text_index applied to the near-dup graph. Index-fed results must be IDENTICAL to the inline path.
"""

from __future__ import annotations

import pytest

from csv_crm_upload_spark.analytics import dedup as dd
from csv_crm_upload_spark.sources.tables import load_table


def test_index_fed_graph_family_matches_direct(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "dedup_idx")
    dd.save_dedup_index(docs, idx)
    pairs = dd.load_dedup_index(spark, idx)

    # the persisted pair table IS the inline derivation
    assert sorted(map(tuple, pairs.collect())) == sorted(
        map(tuple, dd.d_minhash_lsh_pairs(docs).collect())
    )

    # every graph consumer: index-fed == derived-inline
    for fn in (
        dd.d_dup_clusters,
        dd.tri1_triangle_counts,
        dd.dd2_dedup_corpus,
        dd.pr1_doc_pagerank,
        dd.dd4_source_neardup_rates,
    ):
        got = sorted(map(tuple, fn(docs, pairs=pairs).collect()))
        want = sorted(map(tuple, fn(docs).collect()))
        assert got == want, f"{fn.__name__}: index-fed result differs from direct"


def test_index_manifest_records_params(spark, sf_dir, tmp_path):
    from csv_crm_upload_spark.operators.manifest import read_manifest

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "dedup_idx")
    dd.save_dedup_index(docs, idx, n=3, threshold=0.5)
    m = read_manifest(idx)
    assert (m["epoch"], m["shingle_n"], m["threshold"]) == (0, 3, 0.5)
    assert (m["minhash_k"], m["lsh_bands"]) == (dd.MINHASH_K, dd.LSH_BANDS)


def test_index_build_caps_hot_buckets(spark, tmp_path):
    """One planted mega-bucket (a template cluster far larger than the
    cap) must NOT go quadratic in the index build: with max_bucket below
    the cluster size, none of its intra-cluster pairs reach the artifact
    — while an honest small near-dup pair elsewhere in the corpus is
    still found. The cap rides the manifest."""
    from csv_crm_upload_spark.operators.manifest import read_manifest

    # 40 near-identical template docs (same text => same band buckets)
    template = "terms of service apply to all users of this web site always"
    rows = [
        (i, template, "en", "tmpl", len(template)) for i in range(40)
    ]
    # one honest near-dup pair with distinct content
    base = (
        "the quick brown fox jumps over the lazy dog in the quiet park "
        "while birds sing softly above the green meadow near the bridge"
    )
    a = base + " today"
    b = base + " tonight"
    rows += [(100, a, "en", "web", len(a)), (101, b, "en", "web", len(b))]
    rows += [(200, "completely unrelated prose about distributed query engines", "en", "web", 58)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])

    idx = str(tmp_path / "hot_idx")
    dd.save_dedup_index(docs, idx, max_bucket=10)
    assert read_manifest(idx)["max_bucket"] == 10
    pairs = {(r["doc_a"], r["doc_b"]) for r in dd.load_dedup_index(spark, idx).collect()}
    assert (100, 101) in pairs  # honest pair survives
    assert not any(p[0] < 40 and p[1] < 40 for p in pairs)  # mega-bucket dropped

    # uncapped build at the same path would have found the template pairs
    # (sanity that the test corpus really is a mega-bucket)
    uncapped = dd.d_minhash_lsh_pairs(docs)
    assert uncapped.filter("doc_a < 40 and doc_b < 40").count() > 100


def test_crashed_update_self_heals(spark, sf_dir, tmp_path):
    """Orphan epoch dirs (a crashed rebuild: data written, manifest not
    swapped) must be invisible to readers and overwritten by the next
    rebuild, which then commits cleanly."""
    import os

    from pyspark.sql import functions as F

    from csv_crm_upload_spark.operators.manifest import read_manifest

    docs = load_table(spark, sf_dir, "documents")
    part_a = docs.filter(F.col("doc_id") % 2 == 0)
    idx = str(tmp_path / "crash_idx")
    dd.save_dedup_index(part_a, idx)
    baseline = sorted(map(tuple, dd.load_dedup_index(spark, idx).collect()))

    # simulate the crash: a garbage epoch-1 dir exists, manifest still at 0
    os.makedirs(f"{idx}/pairs/epoch=1", exist_ok=True)
    with open(f"{idx}/pairs/epoch=1/part-00000.parquet", "w") as f:
        f.write("not parquet")

    # readers resolve through the manifest: orphans invisible
    assert sorted(map(tuple, dd.load_dedup_index(spark, idx).collect())) == baseline

    # the next rebuild overwrites the orphans and commits epoch 1 for real
    dd.save_dedup_index(docs, idx)
    assert read_manifest(idx)["epoch"] == 1
    healed = sorted(map(tuple, dd.load_dedup_index(spark, idx).collect()))
    assert healed == sorted(map(tuple, dd.d_minhash_lsh_pairs(docs).collect()))


def test_probe_during_pair_index_update_sees_old_or_new(spark, sf_dir, tmp_path):
    """A reader racing a rebuild of the pair index must see the old or
    the new pair set, never a partial epoch (manifest-resolved)."""
    import threading

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    part_a = docs.filter(F.col("doc_id") % 2 == 0)
    idx = str(tmp_path / "race_idx")
    dd.save_dedup_index(part_a, idx)
    old = sorted(map(tuple, dd.load_dedup_index(spark, idx).collect()))

    errs = []

    def updater():
        try:
            dd.save_dedup_index(docs, idx)
        except Exception as e:
            errs.append(e)

    t = threading.Thread(target=updater)
    t.start()
    seen = []
    while t.is_alive():
        seen.append(sorted(map(tuple, dd.load_dedup_index(spark, idx).collect())))
    t.join()
    assert not errs, errs
    new = sorted(map(tuple, dd.load_dedup_index(spark, idx).collect()))
    assert new != old
    bad = [i for i, s in enumerate(seen) if s != old and s != new]
    assert not bad, f"{len(bad)} probes saw a mixed snapshot (of {len(seen)})"


def _sig_entries():
    from csv_crm_upload_spark.analytics import fitmemo as fm

    return [e for e in fm._FIT_MEMO if e["tag"] == "minhash_sig"]


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_signature_memo_is_bounded_and_reused(spark, sf_dir):
    """Repeated d_minhash_lsh_pairs calls must NOT accumulate persisted
    signature tables, must REUSE the memoized table across
    semantically-equal fresh plans, and clear_fit_memo must drop and
    unpersist everything."""
    from csv_crm_upload_spark.analytics import fitmemo as fm

    spark.catalog.clearCache()
    fm.clear_fit_memo()
    docs = load_table(spark, sf_dir, "documents")
    base = {tuple(r) for r in dd.d_minhash_lsh_pairs(docs).collect()}
    for _ in range(3):  # fresh plans over the same files hit the memo
        again = load_table(spark, sf_dir, "documents")
        before = fm.memo_stats()
        got = {tuple(r) for r in dd.d_minhash_lsh_pairs(again).collect()}
        assert fm.memo_stats()["hit"] == before["hit"] + 1
        assert got == base
    assert len(_sig_entries()) == 1  # one corpus -> one entry, no growth
    # new (documents, n) keys add entries; the corpus-scale cap holds
    for m in (2, 4, 5, 6):
        dd.d_minhash_lsh_pairs(docs.limit(50), n=m).collect()
    assert len(_sig_entries()) <= fm._CORPUS_SCALE_MAX
    assert not _cache_is_empty(spark)
    fm.clear_fit_memo()
    assert not fm._FIT_MEMO
    assert _cache_is_empty(spark)  # every signature table unpersisted


def test_replaced_corpus_files_miss_the_signature_memo(spark, sf_dir, tmp_path):
    """Replacing the documents directory outside this session's writer
    keeps the path (and so the plan) but changes the part files: a fresh
    read must see the NEW corpus's pairs, exactly as with a cleared
    memo. (A same-session mode("overwrite") would not show the hole:
    Spark re-caches by path on its own writes.)"""
    import shutil

    from pyspark.sql import functions as F

    from csv_crm_upload_spark.analytics import fitmemo as fm

    spark.catalog.clearCache()
    fm.clear_fit_memo()
    docs = load_table(spark, sf_dir, "documents")
    path, staged = str(tmp_path / "documents"), str(tmp_path / "documents_new")
    docs.write.parquet(path)
    old = {tuple(r) for r in dd.d_minhash_lsh_pairs(spark.read.parquet(path)).collect()}

    # the new corpus: every doc plus exact clones of the first 20
    clones = docs.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    docs.unionByName(clones).write.parquet(staged)
    shutil.rmtree(path)
    shutil.move(staged, path)

    got = {tuple(r) for r in dd.d_minhash_lsh_pairs(spark.read.parquet(path)).collect()}
    fm.clear_fit_memo()
    spark.catalog.clearCache()
    want = {tuple(r) for r in dd.d_minhash_lsh_pairs(spark.read.parquet(path)).collect()}
    assert want != old  # the clones add pairs
    assert got == want
    fm.clear_fit_memo()


@pytest.mark.parametrize("query", ["pr1_doc_pagerank", "tri1_triangle_counts"])
def test_graph_queries_leave_no_cached_tables(spark, sf_dir, query):
    """Every persist() a graph query makes has an owner: after the call
    (and clearing the memo that owns the signature table) the session's
    cache is empty again."""
    from csv_crm_upload_spark.analytics import fitmemo as fm

    spark.catalog.clearCache()
    fm.clear_fit_memo()
    docs = load_table(spark, sf_dir, "documents")
    assert getattr(dd, query)(docs).count() > 0
    fm.clear_fit_memo()
    assert _cache_is_empty(spark)
