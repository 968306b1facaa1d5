"""Product-quantization ANN: lossless-codebook ADC identity, code-shape
invariants, and recall floor vs the exact brute-force baseline — the
oracle-free verification pattern of the IVF suite (learned codebooks
have no SQL oracle)."""

from __future__ import annotations

import numpy as np
import pytest

from csv_crm_upload_spark.analytics import pq
from csv_crm_upload_spark.analytics.similarity import knn_bruteforce
from csv_crm_upload_spark.sources.tables import load_table


def test_adc_identity_with_lossless_codebooks(spark):
    """When every distinct subvector IS a codebook entry, encoding is
    lossless and the asymmetric (ADC) score must equal the exact dot
    product of the full-precision vectors."""
    entries = [[1.0, 0.0], [0.0, 1.0], [2.0, 2.0]]
    books = np.array([entries, entries])  # (m=2, k=3, sub=2)
    corpus = {
        0: [1.0, 0.0, 0.0, 1.0],
        1: [2.0, 2.0, 1.0, 0.0],
        2: [0.0, 1.0, 2.0, 2.0],
    }
    embeddings = spark.createDataFrame(
        [(i, v) for i, v in corpus.items()], "vec_id long, embedding array<float>"
    )
    codes = pq.pq_encode(embeddings, books)
    got_codes = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert got_codes == {0: [0, 1], 1: [2, 0], 2: [1, 2]}

    q = [0.5, -1.0, 3.0, 2.0]
    scored = pq.adc_scores(codes, [(9, q)], books)
    got = {r["vec_id"]: r["adc_dot"] for r in scored.collect()}
    for vid, vec in corpus.items():
        exact = float(np.dot(q, vec))
        assert got[vid] == pytest.approx(exact, abs=1e-6), vid


def test_pq_codes_shape_and_range(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq.fit_pq_codebooks(emb, m=8, k=16)
    assert books.shape[0] == 8 and books.shape[1] == 16
    codes = pq.pq_encode(emb, books)
    row = codes.agg(
        {"codes": "count"}
    ).collect()  # force full evaluation before per-row asserts
    assert row[0][0] == emb.count()
    from pyspark.sql import functions as F

    bad = codes.filter(
        (F.size("codes") != 8)
        | (F.array_min("codes") < 0)
        | (F.array_max("codes") >= 16)
    ).count()
    assert bad == 0


def test_pq_recall_floor_vs_bruteforce(spark, sf_dir):
    """PQ is lossy; what it must preserve is NEIGHBORHOOD. Pin a recall
    floor of ADC top-5 against exact cosine top-5 on the synthetic
    corpus (label-clustered vectors — the realistic regime for PQ)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = knn_bruteforce(emb, k=5)
    approx = pq.pq1_quantized_knn(emb, k=5)
    want = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.5, f"recall@5 {recall:.2f} below floor"


def test_pq_indexed_search_matches_direct(spark, sf_dir, tmp_path):
    """The persisted-index probe must return exactly what the
    self-contained pq1_quantized_knn returns (same fit params, same
    corpus): build-once/query-many may not change results."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "pq_idx")
    pq.save_pq_index(emb, path, m=8, n_codes=16)
    direct = {
        tuple(r)
        for r in pq.pq1_quantized_knn(emb, k=5).collect()
    }
    indexed = {
        tuple(r)
        for r in pq.pq_search_indexed(spark, path, emb, k=5).collect()
    }
    assert indexed == direct and len(indexed) > 0


def test_pq_rebuild_over_live_index_is_atomic(spark, sf_dir, tmp_path):
    """Rebuilding over a LIVE index (save again at the same path) must be
    one manifest commit: the new codebooks+codes land under the next
    epoch and base_epoch/codebook_epoch advance together, so a reader
    never pairs new codebooks with old codes. After the rebuild the
    loaded codes are exactly a fresh encode of the rebuild corpus — the
    pre-rebuild epochs are invisible."""
    from pyspark.sql import functions as F

    from csv_crm_upload_spark.operators.manifest import read_manifest

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    path = str(tmp_path / "pq_idx")
    pq.save_pq_index(base, path, m=8, n_codes=16)
    # rebuild over the live index with the FULL corpus and a different
    # codec width so stale codebooks/codes would be detectably wrong
    books2 = pq.save_pq_index(emb, path, m=4, n_codes=8)
    man = read_manifest(path)
    assert man["epoch"] == 1
    assert man["base_epoch"] == 1 and man["codebook_epoch"] == 1
    assert man["m"] == 4 and man["k"] == 8

    loaded_books, codes = pq.load_pq_index(spark, path)
    np.testing.assert_allclose(loaded_books, books2)
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    want = {r["vec_id"]: list(r["codes"]) for r in pq.pq_encode(emb, books2).collect()}
    assert got == want  # no epoch-0 rows leak in, every row is 4-wide


def test_gc_after_rebuild_keeps_live_and_pinned_epochs(spark, sf_dir, tmp_path):
    """After a rebuild over a live index, gc_stale_epochs deletes the
    superseded epoch of the ranged codes AND of the pinned codebooks but
    keeps the live ones — probe results unchanged, a second gc removes
    nothing."""
    import os

    from pyspark.sql import functions as F

    from csv_crm_upload_spark.operators.manifest import gc_stale_epochs, read_manifest

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "pq_idx")
    pq.save_pq_index(emb.filter(F.col("vec_id") % 2 == 0), path, m=8, n_codes=16)
    pq.save_pq_index(emb, path, m=8, n_codes=16)
    before = sorted(map(tuple, pq.pq_search_indexed(spark, path, emb).collect()))

    removed = gc_stale_epochs(path, pq.LAYOUT)
    assert sorted(os.path.relpath(r, path) for r in removed) == [
        "codebooks/epoch=0",
        "codes/epoch=0",
    ]
    man = read_manifest(path)
    assert os.path.isdir(f"{path}/codebooks/epoch={man['codebook_epoch']}")
    assert os.path.isdir(f"{path}/codes/epoch={man['epoch']}")
    assert sorted(map(tuple, pq.pq_search_indexed(spark, path, emb).collect())) == before
    assert gc_stale_epochs(path, pq.LAYOUT) == []


def test_empty_corpus_build_raises_and_empty_query_set_skips(spark, tmp_path):
    """Review r9 pins: an index BUILD over a corpus with zero valid
    vectors must fail loudly BEFORE any epoch dir lands (the query
    entry points degrade to empty; builders must not), and a query set
    matching no valid vector returns empty without paying the fit."""
    import os

    corrupt = spark.createDataFrame(
        [(1, None, 0), (2, [], 1), (3, [0.0, 0.0], 2)],
        "vec_id bigint, embedding array<float>, label int",
    )
    path = str(tmp_path / "pq_empty")
    with pytest.raises(ValueError, match="no valid vectors"):
        pq.save_pq_index(corrupt, path)
    assert not os.path.exists(os.path.join(path, "MANIFEST"))
    assert pq.pq1_quantized_knn(corrupt, query_ids=[1], k=3, m=2, n_codes=4).count() == 0

    ok = spark.createDataFrame(
        [(i, [float(i), float(i + 1)], 0) for i in range(6)],
        "vec_id bigint, embedding array<float>, label int",
    )
    # no such query id: empty result, no abort
    assert pq.pq1_quantized_knn(ok, query_ids=[999], k=3, m=2, n_codes=4).count() == 0


def test_fit_core_rejects_indivisible_width(spark):
    """Review r9: the divisibility check lives in the shared core, so
    the residual path can no longer silently truncate trailing dims."""
    from csv_crm_upload_spark.analytics.ivfpq import ivfpq1_quantized_knn

    emb = spark.createDataFrame(
        [(i, [float((i * 3 + d) % 7) for d in range(10)], 0) for i in range(8)],
        "vec_id bigint, embedding array<float>, label int",
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq.fit_pq_codebooks(emb, m=4, k=4)
    with pytest.raises(ValueError, match="not divisible"):
        ivfpq1_quantized_knn(emb, query_ids=[0], m=4, n_codes=4, residual=True)
