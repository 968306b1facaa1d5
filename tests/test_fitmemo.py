"""Fit-memo discipline (analytics/fitmemo.py): repeat fits over the
same corpus must HIT, different corpora / params must MISS, values must
be identical to a fresh fit, and eviction / clear must unpersist
DataFrame values. The MinHash signature tables riding the same memo are
pinned in test_dedup_index.py."""

from __future__ import annotations

import numpy as np
import pytest

from csv_crm_upload_spark.analytics import fitmemo as fm


@pytest.fixture(autouse=True)
def _clean_memo():
    fm.clear_fit_memo()
    fm.reset_memo_stats()
    yield
    fm.clear_fit_memo()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_repeat_fit_centroids_hits_and_is_identical(spark, emb, sf_dir):
    from csv_crm_upload_spark.analytics.ivf import fit_centroids

    a = fit_centroids(emb, n_cells=8)
    before = fm.memo_stats()
    # a FRESH plan over the same files must hit (the sweep's reality:
    # every queries() call re-reads the table)
    emb2 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = fit_centroids(emb2, n_cells=8)
    after = fm.memo_stats()
    assert after["hit"] == before["hit"] + 1 and after["miss"] == before["miss"]
    assert a is b  # the same artifact object, not a re-fit
    # different params must miss and give a different shape
    c = fit_centroids(emb, n_cells=4)
    assert fm.memo_stats()["miss"] == after["miss"] + 1
    assert c.shape[0] <= 4


def test_memo_distinguishes_local_relations(spark):
    """Two createDataFrame corpora with different DATA must not collide
    (canonicalized LocalRelation plans carry the rows)."""
    from csv_crm_upload_spark.analytics.ivf import fit_centroids

    schema = "vec_id long, label string, embedding array<float>"
    d1 = spark.createDataFrame(
        [(i, "a", [float(i), 1.0]) for i in range(1, 7)], schema
    )
    d2 = spark.createDataFrame(
        [(i, "a", [float(9 * i), 5.0]) for i in range(1, 7)], schema
    )
    c1 = fit_centroids(d1, n_cells=2)
    c2 = fit_centroids(d2, n_cells=2)
    assert not np.array_equal(c1, c2)
    assert fm.memo_stats() == {"hit": 0, "miss": 2}


def test_fit_pca_memoizes_covariance_across_r(spark, emb):
    from csv_crm_upload_spark.analytics.pca import fit_pca

    l16, _ = fit_pca(emb, r=16)
    stats = fm.memo_stats()
    l4, _ = fit_pca(emb, r=4)  # tri is r-independent: must hit
    assert fm.memo_stats()["hit"] >= stats["hit"] + 1
    assert l4 == [list(w) for w in l16[:4]]


def test_pq_and_residual_fits_memoize(spark, emb):
    from csv_crm_upload_spark.analytics.ivf import fit_centroids
    from csv_crm_upload_spark.analytics.ivfpq import _fit_residual_codebooks
    from csv_crm_upload_spark.analytics.pq import fit_pq_codebooks

    b1 = fit_pq_codebooks(emb, m=8, k=8)
    b2 = fit_pq_codebooks(emb, m=8, k=8)
    assert b1 is b2
    cents = fit_centroids(emb, n_cells=4)
    r1 = _fit_residual_codebooks(emb, cents, m=8, k=8)
    r2 = _fit_residual_codebooks(emb, cents, m=8, k=8)
    assert r1 is r2
    # perturbed quantizer bytes must miss — the residual fit depends on
    # the coarse assignment
    r3 = _fit_residual_codebooks(emb, cents + 0.25, m=8, k=8)
    assert r3 is not r1


def test_rollup_build_memo_revalidates_manifest(spark, sf_dir, tmp_path):
    import os
    import shutil

    from csv_crm_upload_spark.analytics import rollup as rlp

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = str(tmp_path / "roll")
    rlp.roll1_indexed_acf(spark, ev, p)
    misses = fm.memo_stats()["miss"]
    rlp.roll2_indexed_dow(spark, ev, p)  # same corpus+path: no rebuild
    assert fm.memo_stats()["miss"] == misses
    assert fm.memo_stats()["hit"] >= 1
    # external deletion: the validate hook must rebuild, not dangle
    shutil.rmtree(p)
    out = rlp.roll1_indexed_acf(spark, ev, p)
    assert os.path.exists(os.path.join(p, "MANIFEST"))
    assert out.count() > 0


def test_memo_is_fifo_bounded(spark):
    for i in range(fm._FIT_MEMO_MAX + 3):
        df = spark.range(i + 1)
        fm.memo_fit("t", df, (i,), lambda i=i: i)
    assert len(fm._FIT_MEMO) == fm._FIT_MEMO_MAX
    fm.clear_fit_memo()
    assert len(fm._FIT_MEMO) == 0


def test_rollup_memo_rejects_cross_corpus_alternation(spark, tmp_path):
    """A -> B -> A at ONE path (review r11): B's rebuild overwrites the
    artifact while A's memo entry is still live; the manifest-equality
    validate must MISS and rebuild for A instead of serving B's rollup."""
    import datetime as dt

    from csv_crm_upload_spark.analytics import rollup as rlp

    def events(n_days):
        rows = [
            (d, dt.datetime(2024, 1, 1 + d, 12, 0, 0), 1, "view", 1.0)
            for d in range(n_days)
        ]
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
        )

    p = str(tmp_path / "roll_alt")
    a, b = events(8), events(14)
    out_a1 = rlp.roll2_indexed_dow(spark, a, p).collect()
    out_b = rlp.roll2_indexed_dow(spark, b, p).collect()
    out_a2 = rlp.roll2_indexed_dow(spark, a, p).collect()
    assert out_a1 == out_a2
    assert sum(r["n_events"] for r in out_a2) == 8
    assert sum(r["n_events"] for r in out_b) == 14


def test_corpus_scale_tags_have_their_own_small_fifo(spark):
    """Corpus-scale tags (PQ / IVF-PQ codes, IVF cells, MinHash
    signatures) memoize tables with one row per corpus vector or
    document: at the shared 12-deep cap they could pin a dozen corpus
    materializations in executor storage. They ride a FIFO of their own
    with one slot per family; tiny-artifact tags keep the 12-deep cap,
    and one class's eviction never touches the other's entries."""
    cap = fm._CORPUS_SCALE_MAX
    assert cap == len(fm._CORPUS_SCALE_TAGS)
    for i in range(cap + 2):
        fm.memo_fit("pq_codes", spark.range(i + 1), (i,), lambda i=i: i)
    heavy = [e for e in fm._FIT_MEMO if e["tag"] == "pq_codes"]
    assert [e["params"] for e in heavy] == [(i,) for i in range(2, cap + 2)]  # oldest evicted
    # tiny entries are untouched by the corpus-scale eviction...
    for i in range(6):
        fm.memo_fit("tiny", spark.range(100 + i), (i,), lambda i=i: i)
    assert len([e for e in fm._FIT_MEMO if e["tag"] == "pq_codes"]) == cap
    assert len([e for e in fm._FIT_MEMO if e["tag"] == "tiny"]) == 6
    # ...and a surviving heavy entry still HITs (the A/B alternation pattern)
    before = fm.memo_stats()["hit"]
    assert fm.memo_fit("pq_codes", spark.range(4), (3,), lambda: None) == 3
    assert fm.memo_stats()["hit"] == before + 1


def test_memoized_numpy_arrays_are_frozen(spark):
    """Memo hits serve the SAME object to every caller, so an in-place
    mutation would poison all later hits (advice r11) — stored arrays
    are read-only; mutation raises at the mutation site."""
    df = spark.range(5)
    arr = fm.memo_fit("cent", df, (), lambda: np.ones((2, 3)))
    assert not arr.flags.writeable
    with pytest.raises(ValueError):
        arr[0, 0] = 9.0
    # tuple-valued fits freeze every array member
    tup = fm.memo_fit("pair", df, (), lambda: (np.zeros(3), np.ones(3)))
    assert all(not a.flags.writeable for a in tup)
