"""Distributed PCA over the embeddings table — the classic
dimensionality-reduction step of an embedding pipeline (whitening,
compression before ANN, drift visualization).

The scale insight mirrors the k-means/NB family: the SUFFICIENT
STATISTICS are tiny. The covariance matrix of n vectors in d dims is
d(d+1)/2 numbers computed by ONE combining aggregation over a map-only
pair-term explode (no self-join, no shuffle of the corpus against
itself); the eigendecomposition runs on the driver over the d×d matrix
(a bounded collect, d² rows — the IVF-centroid convention); projection
is a map-only expression with the loadings riding the plan as literals
(the broadcast-centroid pattern). Nothing corpus-sized ever leaves the
executors, and every stage is one scan at 100 TB.

Cross-engine determinism for the oracle-paired covariance (`pca1`): the
drift2/kmeans decimal discipline — components round to 9 dp, per-pair
product terms round to 12 dp into DECIMAL(38,12) sums (exact,
order-free), and the covariance formula divides the identical exact
sums with the same IEEE double arithmetic in both engines, rounded to
6 dp. The eigen stage (`pca2`) is rows-only by nature (no SQL oracle
for eigh); its contracts are pinned by property tests instead:
orthonormal loadings, rotation-invariance (r = d projection preserves
cosine ranking exactly), and a recall floor on planted low-rank data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout


def _v9(col: F.Column) -> F.Column:
    """A component read the ONE way every stage (and the oracle) reads
    it: float32 → exact double → 9 dp."""
    return F.round(col.cast("double"), 9)


def pca1_covariance(embeddings: DataFrame) -> DataFrame:
    """The sample covariance matrix's upper triangle — (i, j, cov) for
    i ≤ j, cov = (Σ xᵢxⱼ − Σxᵢ·Σxⱼ/n) / (n−1) over 9-dp components with
    12-dp product terms summed in DECIMAL (order-free, engine-exact),
    the final formula in double rounded to 6 dp.

    Plan: the pair terms are a NESTED higher-order transform over each
    row's own array — d(d+1)/2 structs per row, map-only, no self-join
    — then one combining shuffle on (i, j); the per-dim component sums
    are a second combining agg on dim (d rows) that broadcasts back.
    """
    pairs, dims = _sufficient_stats(embeddings)
    return _cov_from_stats(pairs, dims)


def _cov_from_stats(pairs: DataFrame, dims: DataFrame) -> DataFrame:
    """The covariance readout over (possibly loaded/merged) sufficient
    statistics. n ≥ 2 guard: a single-vector table divides by (n−1) = 0
    — Spark NULL vs DuckDB NaN (the zipf1/corr1 divergence class); the
    undefined matrix is dropped identically in both engines."""
    sums = pairs.filter(F.col("n") >= 2)
    si = dims.select(F.col("dim").alias("i"), F.col("s").alias("s_i"))
    sj = dims.select(F.col("dim").alias("j"), F.col("s").alias("s_j"))
    n = F.col("n").cast("double")
    # + 0.0 normalizes IEEE signed zero: Spark's BigDecimal round drops
    # the sign of −0.0 while DuckDB keeps it — the one representation
    # difference the value-hash compare would see
    cov = F.round(
        (
            F.col("sxy").cast("double")
            - F.col("s_i").cast("double") * F.col("s_j").cast("double") / n
        )
        / (n - 1),
        6,
    ) + F.lit(0.0)
    return (
        sums.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select("i", "j", cov.alias("cov"))
        .orderBy("i", "j")
    )


def _sufficient_stats(embeddings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fit-memoized (pair sums, dim sums) — the stats are exact decimal
    sums (order-free, bit-deterministic), so serving a persisted copy
    to a repeat caller (pca1 re-queried, fit_pca after a model build)
    is identical to re-aggregating; the d²-bounded frames persist at
    negligible cost (fitmemo.py, r10 verdict ask #2)."""
    from csv_crm_upload_spark.analytics.fitmemo import memo_fit

    def _build():
        pairs, dims = _sufficient_stats_impl(embeddings)
        return pairs.persist(), dims.persist()

    return memo_fit("pca_suffstats", embeddings, (), _build)


def _sufficient_stats_impl(embeddings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(pair sums, dim sums) — the ADDITIVE sufficient statistics of
    the covariance: per (i, j ≥ i) the DECIMAL(38,12) sum of 12-dp
    product terms + the vector count, per dim the DECIMAL(28,9) sum of
    9-dp components. Exact decimal sums fold across corpus shards by
    simple addition — the property the persisted model's incremental ≡
    rebuild contract rests on."""
    emb = F.col("embedding")
    d = F.size(emb)

    def v9_at(k):
        return _v9(F.element_at(emb, k + F.lit(1)))

    pair_terms = F.flatten(
        F.transform(
            F.sequence(F.lit(0), d - 1),
            lambda i: F.transform(
                F.sequence(i, d - 1),
                lambda j: F.struct(
                    i.cast("int").alias("i"),
                    j.cast("int").alias("j"),
                    F.round(v9_at(i) * v9_at(j), 12)
                    .cast("decimal(38,12)")
                    .alias("t"),
                ),
            ),
        )
    )
    from csv_crm_upload_spark.analytics.fanout import fan_out
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    # d(d+1)/2 pair terms per row is the heaviest map stage in the repo;
    # fan the scan out so it does not run as one task (guide §2.5 —
    # no-op at scale, 12.7 s → 1.75 s here, identical sums)
    rows = fan_out(valid_vectors(embeddings))
    pairs = (
        rows.select(F.explode(pair_terms).alias("p"))
        .select("p.i", "p.j", "p.t")
        .groupBy("i", "j")
        .agg(F.sum("t").alias("sxy"), F.count(F.lit(1)).cast("long").alias("n"))
    )
    dims = (
        rows.select(F.posexplode(emb).alias("dim", "v"))
        .select("dim", _v9(F.col("v")).cast("decimal(28,9)").alias("v9"))
        .groupBy("dim")
        .agg(F.sum("v9").alias("s"))
    )
    return pairs, dims


def _loadings_from_cov_rows(tri, r: int) -> tuple[list[list[float]], list[float]]:
    """eigh over collected (i, j, cov) rows — sign fixed so each
    component's max-|w| entry is positive (eigh's sign is otherwise
    arbitrary), eigenvalue order descending via eigh's deterministic
    ascending output reversed."""
    import numpy as np

    if not tri:
        raise ValueError(
            "PCA needs at least 2 valid (non-NULL, non-empty) vectors — "
            "the covariance of fewer is undefined (n-1 = 0)"
        )
    d = max(row["j"] for row in tri) + 1
    c = np.zeros((d, d))
    for row in tri:
        c[row["i"], row["j"]] = row["cov"]
        c[row["j"], row["i"]] = row["cov"]
    vals, vecs = np.linalg.eigh(c)  # ascending
    order = np.argsort(vals)[::-1][:r]
    loadings: list[list[float]] = []
    eigvals: list[float] = []
    for k in order:
        w = vecs[:, k]
        if w[int(np.argmax(np.abs(w)))] < 0:
            w = -w
        loadings.append([float(x) for x in w])
        eigvals.append(float(vals[k]))
    return loadings, eigvals


def fit_pca(embeddings: DataFrame, r: int = 16) -> tuple[list[list[float]], list[float]]:
    """Top-r principal axes from the exact covariance — (loadings,
    eigenvalues), loadings[k] the k-th component's d weights. The ONLY
    driver work is numpy's eigh over the d×d matrix collected from
    pca1_covariance (d² bounded rows — the IVF-centroid convention).

    The collected covariance triangle is fit-memoized (fitmemo.py, r10
    verdict ask #2) — it is independent of r, so every consumer
    (pca2 / pcarec1 / any r) shares ONE covariance job per corpus per
    process; the driver-side eigh re-runs per call (d×d, microseconds)."""
    from csv_crm_upload_spark.analytics.fitmemo import memo_fit

    tri = memo_fit(
        "pca_cov_tri", embeddings, (), lambda: pca1_covariance(embeddings).collect()
    )
    return _loadings_from_cov_rows(tri, r)


def _gated_projection(
    embeddings: DataFrame, loadings: list[list[float]], cols: list
) -> DataFrame:
    """The ONE projection pass every consumer shares (pca_project and
    the pcarec1 snapshot writer — r10 review: two inline copies of the
    fold + gate drift independently): valid fit-width rows only, with
    the projected coordinates available as the `proj` column among
    whatever `cols` the caller selects. Map-only — loadings ride as
    literal arrays and each coordinate is one zip_with/aggregate dot
    riding the scan.

    Corrupt rows are SKIPPED explicitly (the valid_vectors discipline
    the sufficient-stats and LSH paths use): a NULL/empty vector, or one
    whose length disagrees with the loadings' dimension, would otherwise
    ride zip_with's null-padding into an all-NULL proj row that flows
    silently into project_with_pca_model / streaming consumers."""
    if not loadings:
        raise ValueError("pca_project: loadings must contain >= 1 component")
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    emb = F.col("embedding")
    coords = [
        F.aggregate(
            F.zip_with(
                emb,
                F.array(*[F.lit(x) for x in w]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for w in loadings
    ]
    return (
        valid_vectors(embeddings)
        .filter(F.size(emb) == len(loadings[0]))
        .select(*cols, F.array(*coords).alias("proj"))
    )


def pca_project(embeddings: DataFrame, loadings: list[list[float]]) -> DataFrame:
    """(vec_id, label, proj) — each vector's coordinates on the given
    components; see _gated_projection for the shared gate + fold."""
    return _gated_projection(embeddings, loadings, ["vec_id", "label"])


def pca2_projected_knn(
    embeddings: DataFrame,
    r: int = 16,
    query_ids: list[int] | None = None,
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k in PCA space — the compressed ANN
    baseline: fit top-r axes, project (map-only), then the
    knn_bruteforce shape (broadcast queries, hoisted norms, per-query
    top-k window) over r-dim coordinates: the n·q hot path does r
    multiplies instead of d. Rows-only by nature (eigh has no SQL
    oracle); contracts pinned in tests/test_pca.py — r = d recovers the
    full-space ranking exactly, planted low-rank data meets a recall
    floor at r ≪ d."""
    from csv_crm_upload_spark.analytics.similarity import knn_bruteforce

    if query_ids is None:
        query_ids = list(range(10))
    loadings, _ = fit_pca(embeddings, r)
    # the projected frame IS an embeddings table in r dims — reuse the
    # one kNN implementation (broadcast queries, hoisted norms, top-k
    # window, signed-zero-normalized cosine) instead of a second copy
    proj = pca_project(embeddings, loadings).select(
        "vec_id", F.col("proj").alias("embedding")
    )
    return knn_bruteforce(proj, query_ids=query_ids, k=k)


#: Default snapshot location for the pcarec1 queries()/oracle pair —
#: the ONE path both engines read (the Spark side rewrites it per call;
#: the DuckDB oracle's read_parquet carries it as a literal). /tmp
#: because the audit's scratch state is not an artifact: it is
#: regenerated on every invocation and never read across sessions.
PCAREC1_SNAPSHOT_PATH = "/tmp/spark_graft_pcarec1_snapshot.parquet"


def pcarec1_snapshot_path() -> str:
    """The snapshot path, env-overridable (SPARK_GRAFT_PCAREC1_SNAPSHOT)
    so CONCURRENT harnesses (the full pytest suite and the sf0.1 sweep
    run as separate processes) audit against separate snapshots instead
    of racing on one file between a Spark write and the paired DuckDB
    read. Read at CALL time in both the queries() entry and
    oracle_sql(), so one process's override stays self-consistent."""
    import os

    return os.environ.get("SPARK_GRAFT_PCAREC1_SNAPSHOT", PCAREC1_SNAPSHOT_PATH)


def pcarec1_recall_audit(
    embeddings: DataFrame,
    snapshot_path: str,
    r: int = 16,
    query_ids: list[int] | None = None,
    k: int = 5,
) -> DataFrame:
    """Recall@k of brute-force kNN in PCA space (pca2's search) against
    exact full-space cosine — the driver-visible quality floor for the
    eigen-projection (r9 verdict ask #6): the eigenbasis itself is
    rows-only by nature (numpy eigh has no SQL oracle), but the AUDIT —
    top-k overlap of projected vs exact neighbors — is a plain query
    over data both engines can read.

    Oracle mechanics (the one persisted-snapshot audit in the suite):
    the fit + projection run in Spark, and ONE self-consistent snapshot
    (vec_id, embedding, proj) is written to `snapshot_path` — then BOTH
    the exact side and the projected side, in BOTH engines, are computed
    from that same snapshot (this function reads it back rather than
    reusing its in-memory lineage; the DuckDB oracle reads the same
    parquet files). Because every audited number is a pure function of
    the snapshot, the engines agree even if the snapshot is stale —
    correctness never depends on WHICH corpus was snapshotted, only
    that both sides read the same one. The queries() entry writes the
    snapshot for the sf_dir it receives on every call (overwrite), so
    the audit is always of the corpus under test provided the Spark
    side runs before the oracle — the natural side-by-side order.

    Audit semantics: the snapshot holds the fit-width valid vectors
    (the _FIT_W discipline — ragged/corrupt rows degrade to absence
    exactly as in pca2/kmeans); `exact` is full-space cosine top-k over
    snapshot embeddings, `approx` the same search over the r-dim
    projections; the readout is the shared recall_rollup. A corpus
    with fewer than 2 valid vectors has no covariance — the snapshot
    is written EMPTY (schema only) and both engines report zero rows."""
    from csv_crm_upload_spark.analytics.similarity import (
        knn_bruteforce,
        recall_rollup,
        valid_vectors,
    )

    if query_ids is None:
        query_ids = list(range(10))
    spark = embeddings.sparkSession
    snap_schema = "vec_id long, embedding array<double>, proj array<double>"
    n_valid = valid_vectors(embeddings).limit(2).count()
    if n_valid < 2:
        spark.createDataFrame([], snap_schema).write.mode("overwrite").parquet(
            snapshot_path
        )
    else:
        loadings, _ = fit_pca(embeddings, r)
        (
            _gated_projection(
                embeddings,
                loadings,
                [
                    "vec_id",
                    F.transform(
                        F.col("embedding"), lambda x: x.cast("double")
                    ).alias("embedding"),
                ],
            )
            .write.mode("overwrite")
            .parquet(snapshot_path)
        )
    snap = spark.read.schema(snap_schema).parquet(snapshot_path)
    exact = knn_bruteforce(snap, query_ids, k)
    approx = knn_bruteforce(
        snap.select("vec_id", F.col("proj").alias("embedding")), query_ids, k
    )
    return recall_rollup(exact, approx)


# ---------------------------------------------------------------------------
# Persisted PCA model — fit once / project many. The persisted state is
# the sufficient statistics (decimal pair-term sums, decimal component
# sums, vector count); the loadings are recomputed from the d²-bounded
# sums, so serving ≡ the inline fit (same decimals → same covariance →
# same deterministic eigh). Every epoch is a full snapshot
# (base_epoch == epoch, the NB/BPE layout); nothing reclaims the
# snapshots a rebuild supersedes — manifest.gc_stale_epochs is the
# library call that does.
# ---------------------------------------------------------------------------

LAYOUT = Layout(snapshots={"pairsums": (), "dimsums": ()})


def _write_snapshot(pairs: DataFrame, dims: DataFrame, path: str, epoch: int) -> None:
    manifest.write_epoch(pairs, path, LAYOUT, "pairsums", epoch)
    manifest.write_epoch(dims, path, LAYOUT, "dimsums", epoch)


def save_pca_model(embeddings: DataFrame, path: str, r: int = 16) -> None:
    """Persist the PCA sufficient statistics (and the component count to
    serve), epoch-versioned (atomic rebuild-over-live; manifest.rebuild).
    The vector dimension is validated up front (≥ 2 valid vectors — a
    smaller corpus has no covariance) and recorded in the manifest."""
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    head = (
        valid_vectors(embeddings)
        .select(F.size("embedding").alias("d"))
        .limit(2)
        .collect()
    )
    if len(head) < 2:
        raise ValueError(
            "save_pca_model needs at least 2 valid (non-NULL, non-empty) "
            "vectors — the covariance of fewer is undefined"
        )
    spark = embeddings.sparkSession

    def write(e: int) -> None:
        pairs, dims = _sufficient_stats(embeddings)
        _write_snapshot(pairs, dims, path, e)
        # a MIXED-dimension corpus passes the two-row probe; two cheap
        # post-write invariants catch it before the commit makes the
        # snapshot live: the landed dim count must equal
        # the probed d, and every (i, j) pair must have seen the SAME
        # vector count — a shorter vector contributes only to its low
        # pairs, so a mix skews the per-pair counts even when the probe
        # happened to see the max d
        landed = spark.read.parquet(f"{path}/dimsums/epoch={e}").count()
        nstats = (
            spark.read.parquet(f"{path}/pairsums/epoch={e}")
            .agg(F.min("n").alias("lo"), F.max("n").alias("hi"))
            .first()
        )
        if landed != head[0]["d"] or nstats["lo"] != nstats["hi"]:
            raise ValueError(
                f"save_pca_model: snapshot has {landed} dims (probe saw "
                f"{head[0]['d']}) with per-pair counts in "
                f"[{nstats['lo']}, {nstats['hi']}] — mixed-dimension corpus "
                "refused (uncommitted epoch dir is reclaimed by the next "
                "rebuild)"
            )

    manifest.rebuild(path, LAYOUT, write, r=r, d=head[0]["d"])


def load_pca_loadings(
    spark, path: str, r: int | None = None
) -> tuple[list[list[float]], list[float]]:
    """Loadings served from the persisted sums — the bounded d²-row
    collect + eigh, identical to fit_pca over the fitted corpus."""
    m = manifest.read_manifest(path)
    epoch = m["epoch"]
    pairs = spark.read.parquet(f"{path}/pairsums/epoch={epoch}")
    dims = spark.read.parquet(f"{path}/dimsums/epoch={epoch}")
    tri = _cov_from_stats(pairs, dims).collect()
    return _loadings_from_cov_rows(tri, r if r is not None else m["r"])


def project_with_pca_model(embeddings: DataFrame, path: str) -> DataFrame:
    """Project arbitrary vectors with the PERSISTED model — the fit
    never reruns; the stored sums resolve to loadings once (driver,
    d²-bounded) and projection rides the scan map-only."""
    spark = embeddings.sparkSession
    loadings, _ = load_pca_loadings(spark, path)
    return pca_project(embeddings, loadings)
