"""IVF-PQ composed ANN: the coarse quantizer selects cells, PQ-ADC
ranks within them, exact cosine decides. Oracle-free (both quantizers
are learned), so pinned by the same property pattern as the IVF and PQ
suites — recall floor, full-probe exactness, indexed ≡ inline,
partition-pruned probes, atomic rebuild over a live index."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import ivfpq
from csv_crm_upload_spark.analytics.similarity import knn_bruteforce
from csv_crm_upload_spark.sources.tables import load_table


def test_ivfpq_recall_floor_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = knn_bruteforce(emb, k=5)
    approx = ivfpq.ivfpq1_quantized_knn(emb, k=5, nprobe=4)
    want = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.5, f"recall@5 {recall:.2f} below floor"


def test_ivfpq_full_probe_full_candidates_equals_bruteforce(spark, sf_dir):
    """Probing EVERY cell with a candidate budget ≥ the corpus makes the
    lossy stages unable to drop a true neighbor: the exact rerank then
    reproduces brute force bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    got = {
        tuple(r)
        for r in ivfpq.ivfpq1_quantized_knn(
            emb, k=5, n_cells=8, nprobe=8, n_candidates=n
        ).collect()
    }
    want = {tuple(r) for r in knn_bruteforce(emb, k=5).collect()}
    assert got == want


def test_ivfpq_indexed_matches_inline_and_prunes_cells(spark, sf_dir, tmp_path):
    """The persisted-index probe must equal the self-contained search
    (same fits, same corpus), and its code scan must carry a cell_id
    partition filter — only the probed cells' files are read."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfpq_idx")
    ivfpq.save_ivfpq_index(emb, path, n_cells=16, m=8, n_codes=16)
    inline = {
        tuple(r)
        for r in ivfpq.ivfpq1_quantized_knn(
            emb, k=5, n_cells=16, nprobe=4, m=8, n_codes=16
        ).collect()
    }
    indexed_df = ivfpq.ivfpq_search(spark, path, emb, k=5, nprobe=4)
    indexed = {tuple(r) for r in indexed_df.collect()}
    assert indexed == inline and len(indexed) > 0

    # a narrow probe (1 query × 2 cells) must scan ONLY those cells:
    # the partition filter is a short IN/INSET list, not all 16 cells
    narrow_df = ivfpq.ivfpq_search(spark, path, emb, query_ids=[0], k=5, nprobe=2)
    narrow_df.collect()
    plan = narrow_df._jdf.queryExecution().executedPlan().toString()
    m = re.search(
        r"PartitionFilters: \[[^\]]*cell_id#\d+ (?:IN \(([^)]*)\)|INSET ([\d, .]+))",
        plan,
    )
    assert m, f"no partition filter on cell_id:\n{plan[:1500]}"
    cells = (m.group(1) or m.group(2)).split(",")
    assert len(cells) <= 2, f"probe read {len(cells)} cells, wanted ≤ nprobe=2"


def test_residual_encoding_reconstructs_better_than_raw(spark, sf_dir):
    """The point of IVFADC residual encoding: quantizing x − mean[cell]
    spends the same (m, k) bit budget on the unexplained part of the
    vector, so mean reconstruction error must drop vs raw-vector PQ
    with identical quantizer sizes (computed on the fit sample).
    Anchoring at the cell MEAN also provably shrinks residual energy
    (Σ||x−μ||² ≤ Σ||x||²), which subtracting a unit-normalized
    centroid does not guarantee — both asserted."""
    import numpy as np

    from csv_crm_upload_spark.analytics import ivf as _ivf
    from csv_crm_upload_spark.analytics import pq as _pq
    from csv_crm_upload_spark.analytics.ivfpq import _fit_residual_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    x = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").limit(500).collect()],
        dtype=np.float64,
    )
    cents = _ivf.fit_centroids(emb, n_cells=8)
    assign = (x @ cents.T).argmax(axis=1)

    def encode_decode(books, vecs):
        m, k, sub = books.shape
        out = np.zeros_like(vecs)
        for j in range(m):
            seg = vecs[:, j * sub : (j + 1) * sub]
            d2 = ((seg[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j * sub : (j + 1) * sub] = books[j][d2.argmin(axis=1)]
        return out

    raw_books = _pq.fit_pq_codebooks(emb, m=8, k=16)
    res_books, means = _fit_residual_codebooks(emb, cents, m=8, k=16)
    resid = x - means[assign]
    assert (resid ** 2).sum() <= (x ** 2).sum()  # mean-anchor energy bound
    raw_err = ((x - encode_decode(raw_books, x)) ** 2).sum(axis=1).mean()
    res_recon = means[assign] + encode_decode(res_books, resid)
    res_err = ((x - res_recon) ** 2).sum(axis=1).mean()
    assert res_err < raw_err, f"residual {res_err:.4f} !< raw {raw_err:.4f}"


def test_residual_full_probe_equals_bruteforce_and_indexed_matches_inline(
    spark, sf_dir, tmp_path
):
    """Residual mode keeps both invariants of the raw path: full probe +
    full candidate budget reproduces exact brute force (rerank undoes
    lossiness), and the persisted-index probe equals the self-contained
    search. The manifest records the mode; the probe honors it."""
    from csv_crm_upload_spark.operators.manifest import read_manifest

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    got = {
        tuple(r)
        for r in ivfpq.ivfpq1_quantized_knn(
            emb, k=5, n_cells=8, nprobe=8, n_candidates=n, residual=True
        ).collect()
    }
    want = {tuple(r) for r in knn_bruteforce(emb, k=5).collect()}
    assert got == want

    path = str(tmp_path / "ivfpq_res")
    ivfpq.save_ivfpq_index(emb, path, n_cells=16, m=8, n_codes=16, residual=True)
    assert read_manifest(path)["residual"] is True
    inline = {
        tuple(r)
        for r in ivfpq.ivfpq1_quantized_knn(
            emb, k=5, n_cells=16, nprobe=4, m=8, n_codes=16, residual=True
        ).collect()
    }
    indexed = {
        tuple(r) for r in ivfpq.ivfpq_search(spark, path, emb, k=5, nprobe=4).collect()
    }
    assert indexed == inline and len(indexed) > 0


def test_ivfpq_rebuild_over_live_index_is_atomic(spark, sf_dir, tmp_path):
    """Rebuilding at the same path advances epoch/base_epoch/
    centroid_epoch/codebook_epoch in one commit; pre-rebuild epochs are
    invisible afterwards."""
    from csv_crm_upload_spark.operators.manifest import read_manifest

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    path = str(tmp_path / "rebuild")
    ivfpq.save_ivfpq_index(base, path, n_cells=8, m=8, n_codes=16)
    ivfpq.save_ivfpq_index(emb, path, n_cells=4, m=4, n_codes=8)
    man = read_manifest(path)
    assert man["epoch"] == 1
    assert (
        man["base_epoch"] == man["centroid_epoch"] == man["codebook_epoch"] == 1
    )
    assert man["n_cells"] == 4 and man["m"] == 4 and man["k"] == 8
    # every visible code row is 4-wide (epoch-0's 8-wide rows invisible)
    hits = ivfpq.ivfpq_search(spark, path, emb, k=5, nprobe=4)
    assert hits.count() > 0
