"""IVF-PQ composed ANN — the production index shape: the IVF coarse
quantizer (ivf.py) SELECTS which cells to read, PQ asymmetric-distance
codes (pq.py) RANK candidates within only those cells, and an exact
cosine rerank DECIDES the final top-k (Jegou/Douze/Schmid, "Product
Quantization for Nearest Neighbor Search", IEEE TPAMI 2011 §IV —
"IVFADC"; FAISS's IndexIVFPQ is the production analogue).

Why the composition matters at 100 TB: IVF alone still reads the
probed cells' FULL-precision vectors (memory-bound at scale); PQ alone
still scans EVERY vector's codes (corpus-wide pass per query batch).
Composed, a probe touches nprobe/n_cells of the corpus, and what it
touches is m-byte codes instead of full vectors — the two reductions
multiply.

Two encodings share the layout, selected at build time and recorded in
the manifest:
  * raw (`residual=False`, default): codes quantize the vector itself —
    the ADC machinery is byte-identical to pq.py's;
  * residual (`residual=True`, IVFADC proper): codes quantize
    x − mean[cell], the codebooks are fit on whole-corpus residuals
    with the shared distributed Lloyd's core, and ADC adds a
    per-(query, probed-cell) constant q·mean[cell] (9-dp rounded,
    computed in the probe job and carried on the broadcast probe
    table) to the residual lookup sum:
      q·x ≈ q·mean[cell] + Σ_j q_j·book[j, code_j].
    Cell SELECTION uses the coarse-fit centroids' rounded dots (since
    round 9 those centroids are the kmeans chain's raw per-dim means,
    not unit vectors — the ranking is the oracle's, norm-sensitive by
    construction), but the subtracted anchor is the cell's raw MEAN —
    the mean minimizes residual energy by construction (Σ||x−μ||² =
    Σ||x||² − n||μ||²), where subtracting the unit centroid can
    INFLATE residuals when clusters are loose (2 − 2x·c > 1 whenever
    x·c < 0.5). The same (m, k) budget then spends its precision on the
    part of the vector the coarse stage didn't already explain; the
    reconstruction gain vs raw PQ is asserted in tests. The means ride
    the centroids parquet as a `mean_vec` column.
Either way the stored codes are a pure per-vector function of the
fitted quantizers.

Index layout (`{path}/`):
  centroids/epoch=K   coarse quantizer (cell_id, centroid)
  codebooks/epoch=K   PQ codec (subspace, code, entry)
  codes/epoch=K/cell_id=C/   (vec_id, codes) — PARTITIONED BY CELL so a
                      probe's scan is partition-pruned to its cells
  MANIFEST            single-file atomic commit (operators/manifest.py)

All three artifact families are epoch-versioned under ONE manifest
(`epoch`/`base_epoch`), so rebuilds are atomic:
a racing reader pairs old quantizers with old codes or new with new,
never a mix (same protocol as save_pq_index).

BOTH modes are ORACLE-PAIRED since round 9 (all quantizer fits are the
distributed kmeans-discipline Lloyd's — the residual anchors are
whole-corpus per-cell DECIMAL means, the residual codec fits on
x − mean[cell] via the shared core; probe rankings are the 6-dp rounded
in-plan dots, qc constants 9-dp rounded, ADC sums exact nano-unit
BIGINTs — raw unrolls in SQL as the union of the sim_knn_ivf and pq1
chains, residual adds the means/residual CTEs on top). Both modes
additionally pinned by
  * recall floor vs knn_bruteforce;
  * full-probe + full-candidate search ≡ exact brute force (every cell
    probed and every member reranked → lossiness can only reorder the
    candidate stage, which the exact rerank then undoes);
  * indexed ≡ inline (same fits, same corpus);
  * PartitionFilters-asserted cell pruning on the probe's code scan.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import ivf as _ivf
from csv_crm_upload_spark.analytics import pq as _pq
from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout, Ranged

#: the index layout of the module docstring: ranged cell-partitioned
#: codes, the two quantizers one snapshot per epoch
LAYOUT = Layout(
    ranged={"codes": Ranged(partition=("cell_id",))},
    snapshots={"centroids": (), "codebooks": ()},
)


def _assign_and_encode(
    embeddings: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    means: np.ndarray | None = None,
) -> DataFrame:
    """(vec_id, codes, cell_id) in ONE map pass over the vector scan:
    the cell argmax, the (optional) residual subtraction against the
    cell MEAN, and the m code argmaxes are all expressions of the same
    `embedding` column, so fusing them avoids the join (and its
    corpus-wide shuffle) that composing assign_cells ∘ pq_encode would
    cost — the whole build is scan → project → write (zero exchanges,
    plan-asserted). `means is None` selects raw-vector encoding.
    Gated to valid vectors of the quantizers' width (the assign_cells/
    pq_encode rule — round 9): a zero-norm or ragged row degrades to
    ABSENCE from the code table (previously a zero vector got a cell,
    its dot being a valid 0.0, and surfaced as a NULL-cosine rerank row
    no oracle could see)."""
    from csv_crm_upload_spark.analytics.arrowquant import assign_encode_arrow
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    gated = valid_vectors(embeddings).filter(
        F.size("embedding") == int(centroids.shape[1])
    )
    # Arrow-native since round 13 (guide §4.2): one MapInArrow stage
    # computes the cell argmax, the residual subtraction and the m code
    # argmins — bit-identical decisions to the fused cell_id_expr/
    # codes_expr tree (tests/_quantizer_reference.py, pinned by
    # tests/test_arrowquant.py), without paying that tree's py4j
    # construction + analysis + codegen per call
    return assign_encode_arrow(gated, centroids, books, means=means)


def _fit_residual_codebooks(
    embeddings: DataFrame, centroids: np.ndarray, m: int, k: int, iters: int = 2
) -> tuple[np.ndarray, np.ndarray]:
    """Fit-memoized front door for _fit_residual_codebooks_impl (r10
    verdict ask #2): the quantizer bytes ride the key, so the memo hit
    is exactly the re-fit a caller with the same corpus AND the same
    coarse centroids would compute."""
    from csv_crm_upload_spark.analytics.fitmemo import memo_fit

    return memo_fit(
        "ivfpq_residual",
        embeddings,
        (m, k, iters, centroids.shape, centroids.tobytes()),
        lambda: _fit_residual_codebooks_impl(embeddings, centroids, m, k, iters),
    )


def _fit_residual_codebooks_impl(
    embeddings: DataFrame, centroids: np.ndarray, m: int, k: int, iters: int = 2
) -> tuple[np.ndarray, np.ndarray]:
    """(codebooks, cell means): the DISTRIBUTED residual codec fit
    (round 9 — replaces the sampled numpy fit, making residual IVF-PQ
    oracle-derivable like the raw path):
      1. assign every valid fit-width vector to its cell (the rounded
         cell_id_expr discipline, = the oracle's final assignment);
      2. anchor = each cell's per-dim DECIMAL mean rounded to 12 dp
         (the kmeans recompute discipline; see module docstring for why
         mean, not unit centroid); a cell emptied by the final
         assignment anchors at its centroid;
      3. fit the PQ codec on x − mean[cell] with the shared distributed
         Lloyd's core (_fit_books_on_frame — residuals are NOT re-gated:
         a singleton cell's ~zero residual is legitimate, and PQ's
         euclidean math has no division to protect).
    Whole-corpus, one combining shuffle per stage, bounded collects."""
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    from csv_crm_upload_spark.analytics.arrowquant import cells_arrow

    dim = int(centroids.shape[1])
    gated = valid_vectors(embeddings).filter(F.size("embedding") == dim)
    # Arrow-native cell assignment (bit-identical to the reference
    # cell_id_expr in tests/_quantizer_reference.py); the vector rides
    # through for the per-cell decimal means below
    cells = cells_arrow(gated, centroids, with_embedding=True)
    sums = [
        F.round(
            F.sum(
                F.element_at("embedding", d + 1)
                .cast("double")
                .cast("decimal(28,12)")
            ).cast("double")
            / F.count(F.lit(1)),
            12,
        ).alias(f"m_{d}")
        for d in range(dim)
    ]
    rows = cells.groupBy("cell_id").agg(*sums).collect()  # bounded: <=n_cells
    got = {int(r["cell_id"]): [r[f"m_{d}"] for d in range(dim)] for r in rows}
    means = np.array(
        [got.get(c, [float(v) for v in centroids[c]]) for c in range(len(centroids))]
    )
    # residual = emb − mean[cell], elementwise float64 — exact in the
    # same Arrow stage family (zip_with's a.cast(double) − b is the
    # identical IEEE subtract)
    from csv_crm_upload_spark.analytics.arrowquant import residual_arrow

    vf_res = residual_arrow(cells, means)
    books = _pq._fit_books_on_frame(vf_res, dim, m, k, iters)
    return books, means


def _probe_plan(
    embeddings: DataFrame,
    centroids: np.ndarray,
    query_ids: list[int],
    nprobe: int,
    means: np.ndarray | None = None,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """(bounded query vectors, broadcastable (query_id, cell_id,
    qc_dot) probe table): nearest-nprobe cells per query. The ranking
    runs IN A TINY SPARK JOB with the knn_ivf probe discipline — 6-dp
    rounded raw query·centroid dot, ties → lowest cell (round 9: this
    is what the raw-mode oracle unrolls; the previous driver-numpy
    argsort over NORMALIZED dots picked the same cells except at
    rounding ties no SQL could reproduce) — then collects the bounded
    ≤|q|·nprobe rows. Queries are gated to valid quantizer-width
    vectors (the knn_ivf rule). `qc_dot` is the residual ADC's
    per-(query, cell) constant q·mean[cell], computed IN THE SAME JOB
    with the 9-dp rounded fold (round 9: cross-engine-exact, so the
    residual path is oracle-derivable too); 0.0 in raw mode so the
    scoring expression is uniform."""
    from pyspark.sql import Window as _W

    from csv_crm_upload_spark.analytics.similarity import _dot, valid_vectors

    spark = embeddings.sparkSession
    empty = spark.createDataFrame([], "query_id long, cell_id int, qc_dot double")
    if centroids.size == 0:
        return [], empty
    dim = int(centroids.shape[1])
    qrows = (
        valid_vectors(embeddings.filter(F.col("vec_id").isin(query_ids)))
        .filter(F.size("embedding") == dim)
        .select("vec_id", "embedding")
        .collect()
    )
    qvecs = [(int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in qrows]
    if not qvecs:  # no valid query id exists: empty plan, not an AxisError
        return [], empty
    qdf = spark.createDataFrame(qvecs, "query_id long, q_emb array<double>")
    anchor = centroids if means is None else means
    cent_df = spark.createDataFrame(
        [
            (
                int(c),
                [float(v) for v in centroids[c]],
                [float(v) for v in anchor[c]],
            )
            for c in range(len(centroids))
        ],
        "cell_id int, centroid array<double>, mean_vec array<double>",
    )
    # qc_dot: the residual ADC's constant, with the oracle's expression
    # (9-dp rounded fold against the cell's anchor mean); raw mode zeroes
    # it without changing the job shape
    qc = (
        F.round(_dot(F.col("q_emb"), F.col("mean_vec")), 9)
        if means is not None
        else F.lit(0.0)
    )
    w = _W.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cell_id"))
    ranked = (
        qdf.crossJoin(F.broadcast(cent_df))
        .select(
            "query_id",
            "cell_id",
            F.round(_dot(F.col("q_emb"), F.col("centroid")), 6).alias("csim"),
            qc.alias("qc_dot"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= min(nprobe, len(centroids)))
        .select("query_id", "cell_id", "qc_dot")
        .collect()
    )
    probes = [
        (int(r["query_id"]), int(r["cell_id"]), float(r["qc_dot"]))
        for r in ranked
    ]
    return qvecs, spark.createDataFrame(
        probes, "query_id long, cell_id int, qc_dot double"
    )


def _search(
    cell_codes: DataFrame,
    books: np.ndarray,
    embeddings: DataFrame,
    qvecs: list[tuple[int, list[float]]],
    probe_df: DataFrame,
    k: int,
    n_candidates: int,
) -> DataFrame:
    """Shared probe stage: restrict codes to each query's probed cells
    (broadcast join on cell_id — the scan side is already partition-
    pruned in the indexed path), ADC-rank within them, exact-rerank the
    survivors. Used by both ivfpq1_quantized_knn and ivfpq_search so the
    two paths are identical by construction."""
    m, kk, _sub = books.shape
    ludf = _pq.query_luts(cell_codes.sparkSession, qvecs, books)
    scored = (
        cell_codes.join(F.broadcast(probe_df), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(ludf), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("qc_dot") + _pq.adc_expr(m, kk), 6).alias("adc_dot"),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dot").desc(), F.col("vec_id")
    )
    cands = (
        scored.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= n_candidates)
        .select("query_id", "vec_id")
    )
    return _pq.exact_rerank(cands, embeddings, qvecs, k)


def ivfpq1_quantized_knn(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    n_candidates: int = 50,
    residual: bool = False,
) -> DataFrame:
    """Self-contained IVF-PQ search (fit + assign + encode inline) —
    the queries() entry, oracle-paired in raw mode since round 9; the
    build-once/probe-many split of the same search lives in
    save_ivfpq_index / ivfpq_search."""
    if query_ids is None:
        query_ids = list(range(10))
    centroids = _ivf.fit_centroids(embeddings, n_cells=n_cells)
    if centroids.size == 0:  # zero valid vectors: the oracle's empty result
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, vec_id long, cos_sim double, rank int"
        )
    # gate the QUERY SIDE before the codec fits (review r9, cheapened
    # r10 advice): with no valid quantizer-width query the result is
    # empty regardless — skip the PQ fit and the corpus-wide
    # encode+checkpoint entirely. A <=|query_ids|-row limit(1) count
    # (the pq1 gate), NOT a throwaway raw _probe_plan: the probe now
    # runs exactly ONCE, with the final anchors attached.
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    if (
        not valid_vectors(embeddings.filter(F.col("vec_id").isin(query_ids)))
        .filter(F.size("embedding") == int(centroids.shape[1]))
        .limit(1)
        .count()
    ):
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, vec_id long, cos_sim double, rank int"
        )
    means = None
    if residual:
        books, means = _fit_residual_codebooks(embeddings, centroids, m=m, k=n_codes)
    else:
        books = _pq.fit_pq_codebooks(embeddings, m=m, k=n_codes)
    qvecs, probe_df = _probe_plan(embeddings, centroids, query_ids, nprobe, means=means)
    # materialize the fused assign+encode ONCE (the pq1 lesson, bench
    # r9): left lazy, the ADC ranking and the rerank join each re-ANALYZE
    # the cell+codes literal tree; the persisted path reads parquet
    # codes. Fit-memoized alongside the quantizers (r11): the code
    # table is a pure function of (corpus, centroids, books, means),
    # so a repeat caller reuses the materialized scan.
    from csv_crm_upload_spark.analytics.fitmemo import memo_fit

    cell_codes = memo_fit(
        "ivfpq_codes",
        embeddings,
        (
            centroids.shape,
            centroids.tobytes(),
            books.shape,
            books.tobytes(),
            None if means is None else means.tobytes(),
        ),
        lambda: _assign_and_encode(
            embeddings, centroids, books, means=means
        ).localCheckpoint(eager=True),
    )
    return _search(cell_codes, books, embeddings, qvecs, probe_df, k, n_candidates)


def save_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 16,
    residual: bool = False,
    **fit_kwargs,
) -> None:
    """Build the composed index once per corpus snapshot: coarse
    centroids + PQ codebooks (both distributed kmeans-discipline fits) and ONE
    corpus map pass producing (vec_id, codes) partitioned BY cell_id.
    Atomic for both fresh builds and rebuilds over a live index
    (manifest.rebuild: next epoch + base/centroid/codebook epoch advance
    in one commit). `residual=True` builds IVFADC-style (see module
    docstring); the choice is recorded in the manifest and honored by
    the probe."""
    spark = embeddings.sparkSession
    centroids = _ivf.fit_centroids(embeddings, n_cells=n_cells, **fit_kwargs)
    if centroids.size == 0:
        # loud, BEFORE any epoch dir lands (see pq.save_pq_index)
        raise ValueError(
            "save_ivfpq_index: no valid vectors to fit quantizers on "
            "(corpus is empty or all embeddings are NULL/empty/zero-norm)"
        )
    means = None
    if residual:
        books, means = _fit_residual_codebooks(embeddings, centroids, m=m, k=n_codes)
    else:
        books = _pq.fit_pq_codebooks(embeddings, m=m, k=n_codes)
    anchor = means if means is not None else centroids
    cent_rows = [
        (
            int(c),
            [float(v) for v in centroids[c]],
            [float(v) for v in anchor[c]],
        )
        for c in range(len(centroids))
    ]
    mm, kk, _sub = books.shape

    def write(e: int) -> None:
        cents = spark.createDataFrame(
            cent_rows, "cell_id int, centroid array<double>, mean_vec array<double>"
        )
        manifest.write_epoch(cents, path, LAYOUT, "centroids", e)
        manifest.write_epoch(
            _pq._codebook_frame(spark, books), path, LAYOUT, "codebooks", e
        )
        codes = _assign_and_encode(embeddings, centroids, books, means=means)
        manifest.write_epoch(codes, path, LAYOUT, "codes", e)

    manifest.rebuild(
        path,
        LAYOUT,
        write,
        n_cells=int(len(centroids)),
        m=int(mm),
        k=int(kk),
        residual=bool(residual),
    )


def _load_quantizer(spark, path: str, man: dict) -> tuple[np.ndarray, np.ndarray | None]:
    """(centroids, residual means-or-None) in ONE read+collect of the
    n_cells-row centroids parquet — means come back only when the
    manifest says the index is residual-encoded (None selects raw mode
    in _assign_and_encode/_probe_plan). Falls back to the centroid
    column for pre-mean_vec layouts."""
    rows = sorted(
        spark.read.parquet(f"{path}/centroids/epoch={man['epoch']}").collect(),
        key=lambda r: r["cell_id"],
    )  # bounded: n_cells rows
    centroids = np.array([r["centroid"] for r in rows], dtype=np.float64)
    if not man.get("residual", False):
        return centroids, None
    key = "mean_vec" if "mean_vec" in rows[0].__fields__ else "centroid"
    return centroids, np.array([r[key] for r in rows], dtype=np.float64)


def ivfpq_search(
    spark,
    path: str,
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    nprobe: int = 4,
    n_candidates: int = 50,
) -> DataFrame:
    """Probe a persisted IVF-PQ index. The code scan carries a pushed
    cell_id IN (...) predicate over the Hive layout, so only the probed
    cells' files are read (PartitionFilters-asserted in tests) — at
    scale the probe touches nprobe/n_cells of the corpus, as m-byte
    codes. `embeddings` supplies full precision for the query rows and
    the candidate rerank only."""
    if query_ids is None:
        query_ids = list(range(10))
    man = manifest.read_manifest(path)
    centroids, means = _load_quantizer(spark, path, man)  # one read, both halves
    books = _pq._load_codebooks(spark, path, man["epoch"])
    qvecs, probe_df = _probe_plan(embeddings, centroids, query_ids, nprobe, means=means)
    probed_cells = sorted({r["cell_id"] for r in probe_df.collect()})  # ≤ q·nprobe
    cell_codes = (
        manifest.live(spark, path, man, LAYOUT, "codes")
        .filter(F.col("cell_id").isin(probed_cells))
        .select("vec_id", "codes", "cell_id")
    )
    return _search(cell_codes, books, embeddings, qvecs, probe_df, k, n_candidates)
