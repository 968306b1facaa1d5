"""PCA family: covariance vs numpy, orthonormal loadings, map-only
projection plan, full-rank rotation invariance, recall floor on planted
low-rank data."""

from __future__ import annotations

import io
import re

import numpy as np

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.pca import (
    fit_pca,
    pca1_covariance,
    pca2_projected_knn,
    pca_project,
)
from csv_crm_upload_spark.analytics.similarity import knn_bruteforce
from csv_crm_upload_spark.sources.tables import load_table


def _emb_df(spark, mat: np.ndarray):
    rows = [
        (i, [float(x) for x in mat[i]], int(i % 3)) for i in range(mat.shape[0])
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )


def test_covariance_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = {(r["i"], r["j"]): r["cov"] for r in pca1_covariance(emb).collect()}
    mat = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()], dtype=np.float64
    )
    mat = np.round(mat, 9)
    want = np.cov(mat, rowvar=False)  # ddof=1, matching (n-1)
    d = mat.shape[1]
    assert len(got) == d * (d + 1) // 2
    for (i, j), v in got.items():
        assert abs(v - want[i, j]) < 1e-4, (i, j, v, want[i, j])


def test_loadings_are_orthonormal(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    loadings, eigvals = fit_pca(emb, r=8)
    w = np.array(loadings)
    assert w.shape[0] == 8
    assert np.allclose(w @ w.T, np.eye(8), atol=1e-8)
    assert eigvals == sorted(eigvals, reverse=True)
    assert all(v >= -1e-9 for v in eigvals)  # covariance PSD
    # deterministic sign convention: max-|w| entry positive
    for row in w:
        assert row[int(np.argmax(np.abs(row)))] > 0


def test_projection_is_map_only(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    loadings, _ = fit_pca(emb, r=4)
    df = pca_project(emb, loadings)
    buf = io.StringIO()
    import contextlib

    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert not re.search(r"(?<!Broadcast)Exchange", buf.getvalue()), (
        "projection must ride the scan with zero shuffles"
    )


def test_full_rank_projection_preserves_ranking(spark):
    """r = d is a pure rotation — cosine similarities are preserved, so
    the projected kNN must return the same neighbors in the same order
    (planted well-separated clusters keep the ranking away from 6-dp
    rounding boundaries)."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 8)) * 5.0
    mat = np.vstack([centers[i % 4] + rng.normal(size=8) * 0.05 for i in range(60)])
    df = _emb_df(spark, mat)
    full = [
        (r["query_id"], r["rank"], r["vec_id"])
        for r in knn_bruteforce(df, query_ids=[0, 1, 2], k=5).collect()
    ]
    proj = [
        (r["query_id"], r["rank"], r["vec_id"])
        for r in pca2_projected_knn(df, r=8, query_ids=[0, 1, 2], k=5).collect()
    ]
    assert sorted(full) == sorted(proj)


def test_recall_floor_on_planted_low_rank(spark):
    """Data with 3 latent directions + tiny noise in 32 dims: projecting
    to r=4 must keep ≥ 80% of each query's true top-5 (the case PCA
    exists for; uniform random data would have no axis to find)."""
    rng = np.random.default_rng(11)
    basis = rng.normal(size=(3, 32))
    coef = rng.normal(size=(80, 3))
    mat = coef @ basis + rng.normal(size=(80, 32)) * 0.01
    df = _emb_df(spark, mat)
    qids = [0, 1, 2, 3]
    truth = {}
    for r in knn_bruteforce(df, query_ids=qids, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    for r in pca2_projected_knn(df, r=4, query_ids=qids, k=5).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(truth[q] & got[q]) / 5 for q in qids]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_pcarec1_full_rank_recall_is_one(spark, tmp_path):
    """r = d is a rotation, so the audit must report recall 1.0 for
    every query (the audited pair is pca2's search vs exact kNN over
    the same snapshot)."""
    from csv_crm_upload_spark.analytics.pca import pcarec1_recall_audit

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 8)) * 5.0
    mat = np.vstack([centers[i % 4] + rng.normal(size=8) * 0.05 for i in range(60)])
    out = pcarec1_recall_audit(
        _emb_df(spark, mat), str(tmp_path / "snap"), r=8, query_ids=[0, 1, 2], k=5
    ).collect()
    assert len(out) == 3
    assert all(r["recall_at_k"] == 1.0 and r["n_hit"] == 5 for r in out), out


def test_pcarec1_low_rank_floor_and_snapshot_consistency(spark, tmp_path):
    """Planted 3-direction data at r=4 meets the same ≥0.8 floor the
    direct pca2 test pins, and the audit is a pure function of the
    snapshot: re-running over the written files reproduces it."""
    from csv_crm_upload_spark.analytics.pca import pcarec1_recall_audit

    rng = np.random.default_rng(11)
    basis = rng.normal(size=(3, 32))
    coef = rng.normal(size=(80, 3))
    mat = coef @ basis + rng.normal(size=(80, 32)) * 0.01
    df = _emb_df(spark, mat)
    path = str(tmp_path / "snap")
    qids = [0, 1, 2, 3]
    out = {r["query_id"]: r for r in pcarec1_recall_audit(df, path, r=4, query_ids=qids).collect()}
    assert set(out) == set(qids)
    assert sum(r["recall_at_k"] for r in out.values()) / 4 >= 0.8
    again = {r["query_id"]: r for r in pcarec1_recall_audit(df, path, r=4, query_ids=qids).collect()}
    assert {q: tuple(r) for q, r in out.items()} == {q: tuple(r) for q, r in again.items()}


def test_pcarec1_too_small_corpus_reports_empty(spark, tmp_path):
    """Fewer than 2 valid vectors: no covariance, so the snapshot is
    written EMPTY (schema only) and the audit reports zero rows — never
    an eigh abort (both engines read the same empty snapshot)."""
    import duckdb

    from csv_crm_upload_spark.analytics.pca import pcarec1_recall_audit

    df = spark.createDataFrame(
        [(0, [1.0, 2.0], 0), (1, None, 0), (2, [0.0, 0.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "snap")
    assert pcarec1_recall_audit(df, path).count() == 0
    # the empty snapshot is still readable parquet for the oracle side
    n = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{path}/*.parquet')"
    ).fetchone()[0]
    assert n == 0


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_pca_model_incremental_equals_rebuild(spark, sf_dir, tmp_path):
    """Folding an embedding shard lands the SAME model a rebuild would:
    the sufficient statistics are exact decimal sums, so the stored
    tables AND the served loadings are bit-equal."""
    from csv_crm_upload_spark.analytics.pca import (
        load_pca_loadings,
        save_pca_model,
        update_pca_model,
    )
    from csv_crm_upload_spark.operators.manifest import read_manifest

    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)

    inc = str(tmp_path / "pca_inc")
    full = str(tmp_path / "pca_full")
    save_pca_model(first, inc, r=8)
    update_pca_model(second, inc)
    save_pca_model(emb, full, r=8)

    for sub in ["pairsums", "dimsums"]:
        ea, eb = read_manifest(inc)["epoch"], read_manifest(full)["epoch"]
        ta = _rows(spark.read.parquet(f"{inc}/{sub}/epoch={ea}"))
        tb = _rows(spark.read.parquet(f"{full}/{sub}/epoch={eb}"))
        assert ta == tb, sub
    assert load_pca_loadings(spark, inc) == load_pca_loadings(spark, full)


def test_pca_model_serves_inline_fit(spark, sf_dir, tmp_path):
    """Loadings served from the persisted sums equal fit_pca over the
    same corpus, and project_with_pca_model equals the inline
    fit-then-project path."""
    from csv_crm_upload_spark.analytics.pca import (
        load_pca_loadings,
        project_with_pca_model,
        save_pca_model,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "pca")
    save_pca_model(emb, path, r=6)
    loadings, eigvals = load_pca_loadings(spark, path)
    inline_loadings, inline_eigvals = fit_pca(emb, r=6)
    assert loadings == inline_loadings
    assert eigvals == inline_eigvals
    assert _rows(project_with_pca_model(emb.limit(20), path)) == _rows(
        pca_project(emb.limit(20), inline_loadings)
    )


def test_pca_model_txn_replay_and_service_fold(spark, sf_dir, tmp_path):
    """Streaming replay guard no-ops; a dropped embedding shard folds on
    the next service tick and the refreshed loadings equal a rebuild
    over the union; vacuum reclaims the superseded snapshot."""
    import os

    from csv_crm_upload_spark.analytics.pca import (
        load_pca_loadings,
        save_pca_model,
        update_pca_model,
    )
    from csv_crm_upload_spark.operators.manifest import read_manifest
    from csv_crm_upload_spark.streaming.index_service import CorpusIndexService

    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.filter(F.col("vec_id") < 300)
    shard = emb.filter(F.col("vec_id") >= 300)

    model = str(tmp_path / "pca_model")
    save_pca_model(first, model, r=4)
    update_pca_model(shard.limit(0), model, txn=("svc", 1))  # empty → no-op
    e0 = read_manifest(model)["epoch"]
    update_pca_model(shard, model, txn=("svc", 7))
    assert read_manifest(model)["epoch"] == e0 + 1
    update_pca_model(shard, model, txn=("svc", 7))  # replayed batch
    assert read_manifest(model)["epoch"] == e0 + 1, "replay must not double-fold"

    # service tick over a fresh model + drop dir
    model2 = str(tmp_path / "pca2_model")
    save_pca_model(first, model2, r=4)
    drop = str(tmp_path / "emb_drop")
    os.makedirs(drop)
    svc = CorpusIndexService(spark, emb_dir=drop, pca_model=model2)
    shard.write.parquet(f"{drop}/shard_a")
    assert svc.tick()["embeddings"], "shard must fold on the tick after landing"
    full = str(tmp_path / "pca_full")
    save_pca_model(emb, full, r=4)
    assert load_pca_loadings(spark, model2) == load_pca_loadings(spark, full)

    removed = svc.vacuum()
    assert any("epoch=0" in p for p in removed), removed
    assert load_pca_loadings(spark, model2) == load_pca_loadings(spark, full)


def test_pca_model_refuses_wrong_dimension_shard(spark, sf_dir, tmp_path):
    """Folding a wrong-dimension shard must raise, not silently corrupt
    the additive sums (the ivf/pq dimension-guard convention); and a
    sub-2-vector corpus must fail at SAVE time with a clear message."""
    import pytest as _pytest

    from csv_crm_upload_spark.analytics.pca import save_pca_model, update_pca_model
    from csv_crm_upload_spark.operators.manifest import read_manifest

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "pca")
    save_pca_model(emb, path, r=4)
    assert read_manifest(path)["d"] == 64

    wrong = _emb_df(spark, np.ones((5, 8)))
    with _pytest.raises(ValueError, match="dimension"):
        update_pca_model(wrong, path)
    assert read_manifest(path)["epoch"] == 0, "refused fold must not commit"

    with _pytest.raises(ValueError, match="at least 2"):
        save_pca_model(emb.limit(1), str(tmp_path / "tiny"), r=4)


def test_save_pca_model_refuses_mixed_dimension_corpus(spark, tmp_path):
    """A MIXED-dimension initial corpus passes the two-row probe
    (whichever width the first rows have) but writes inconsistent
    sufficient statistics; the post-write invariants (landed dim count
    == probed d, uniform per-pair vector counts) must refuse it BEFORE
    the manifest commit — including the sneaky case where the probe
    sees the MAX dimension so the dim count alone looks right."""
    import pytest as _pytest

    from csv_crm_upload_spark.analytics.pca import save_pca_model
    from csv_crm_upload_spark.operators.manifest import read_manifest

    # probe sees 8-dim rows first; 4-dim rows lurk behind them — the
    # dimsums count still lands at 8, only the pair-count invariant trips
    rows = [(i, [float(i + j) for j in range(8)], 0) for i in range(4)] + [
        (10 + i, [float(i + j) for j in range(4)], 1) for i in range(4)
    ]
    mixed = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1)
    path = str(tmp_path / "pca_mixed")
    with _pytest.raises(ValueError, match="mixed-dimension"):
        save_pca_model(mixed, path, r=2)
    with _pytest.raises(FileNotFoundError):
        read_manifest(path)


def test_pca_project_skips_corrupt_rows(spark):
    """pca_project routes through valid_vectors + a width gate: NULL,
    empty, and wrong-dimension vectors are SKIPPED — never surfaced as
    all-NULL proj rows (zip_with null-padding) to downstream consumers."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 0),
        (2, None, 1),
        (3, [], 1),
        (4, [1.0, 2.0], 1),  # wrong width
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    loadings = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    got = {r["vec_id"]: r["proj"] for r in pca_project(emb, loadings).collect()}
    assert set(got) == {0, 1}
    assert got[0] == [1.0, 0.0] and got[1] == [0.0, 1.0]
    assert all(v is not None for p in got.values() for v in p)
