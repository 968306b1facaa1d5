"""IVF (inverted-file) approximate nearest neighbor — the learned-
partition counterpart to hyperplane LSH (similarity.py).

Index build:
  1. fit k centroids with the ORACLE-PAIRED distributed k-means
     (clustering._fitted_centroids — the kmeans1 fit: first-k-by-vec_id
     init, 6-dp rounded-dot assignment, DECIMAL per-dim means rounded
     to 12 dp): whole-corpus Lloyd's with one combining shuffle + one
     bounded k-row collect per round, no driver sample matrix at all
     (round-9: replaces the sampled numpy fit so the whole IVF search
     is reproducible in ANSI SQL — sim_knn_ivf is now driver-checked
     against a DuckDB oracle instead of rows-only);
  2. assign every vector to its nearest centroid — the (k × dim)
     centroid matrix rides into the plan as literals and assignment is
     a single map stage over the corpus.

Search: probe the `nprobe` nearest cells per query (ranked by the SAME
6-dp rounded dot, ties → lowest cell — computed IN THE PLAN, not with
driver floats, so the ranking is the oracle's), exact-rerank only those
cells' members. At 100 TB: assignment is embarrassingly parallel, the
cell join is one shuffle on cell_id, and recall/cost is tuned by
(n_cells, nprobe) exactly as in standard IVF practice.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fit_centroids(
    embeddings: DataFrame, n_cells: int = 16, iters: int = 2
) -> np.ndarray:
    """The distributed k-means fit (clustering._fitted_centroids) as a
    coarse-quantizer matrix: deterministic (first n_cells valid vectors
    by vec_id init, fixed `iters` rounds), whole-corpus, and exactly
    reproducible by the kmeans1 oracle chain. Rows are in ascending
    cluster-id order; a cluster emptied during the update rounds is
    dropped (the kmeans1 convention) — positions stay a monotone
    relabeling, so rankings/partitions agree with the oracle's ids.
    Returns an empty (0, 0) matrix when the corpus has no valid vector
    (callers degrade to an empty result, never a None-index abort).

    Recall note for UNNORMALIZED corpora: the centroids are raw per-dim
    means (not re-normalized to the unit sphere) and cell assignment /
    probe ranking use the raw dot product, so when vector norms vary
    widely, cell selection biases toward high-norm centroids and recall
    can degrade relative to a spherical (normalize-then-fit) quantizer.
    Either L2-normalize embeddings upstream (cosine semantics — the
    testdata corpus is near-unit-norm, where the two fits coincide) or
    keep ivfrec1_recall_audit in the production tuning loop to measure
    the actual recall floor at the deployed n_cells/nprobe; the floors
    pinned in tests are at test scale only."""
    from csv_crm_upload_spark.analytics.fitmemo import memo_fit

    # fit-memoized (r10 verdict ask #2): the fit is deterministic
    # (fixed init/iters, decimal recompute), so a repeat caller in the
    # same process (ivfpq1 after sim_knn_ivf, the parity sweep's warm
    # pass) reuses the centroid matrix instead of re-running Lloyd's
    return memo_fit(
        "ivf_centroids",
        embeddings,
        (n_cells, iters),
        lambda: _fit_centroids_impl(embeddings, n_cells, iters),
    )


def _fit_centroids_impl(
    embeddings: DataFrame, n_cells: int, iters: int
) -> np.ndarray:
    # the UNmemoized core on purpose: this impl already runs under the
    # ivf_centroids memo entry — routing through the kmeans-family memo
    # too would double-count every fresh fit as two misses for zero
    # extra sharing (the two families gate their input frames
    # differently, so their plans never collide anyway)
    from csv_crm_upload_spark.analytics.clustering import _fitted_centroids_impl
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    valid = valid_vectors(embeddings)
    # one bounded collect serves the fit-width probe AND (on the common
    # all-one-width corpus) the Lloyd's init rows — round 13, guide
    # §1.2: one fewer blocking job per fresh fit; a ragged head falls
    # back to the exact width-gated init query (semantics unchanged)
    head = valid.orderBy("vec_id").limit(n_cells).select("vec_id", "embedding").collect()
    if not head:
        return np.zeros((0, 0))
    dim = len(head[0]["embedding"])
    init = (
        [(i, [float(v) for v in r["embedding"]]) for i, r in enumerate(head)]
        if all(len(r["embedding"]) == dim for r in head)
        else None
    )
    cent = _fitted_centroids_impl(
        valid.filter(F.size("embedding") == dim), n_cells, iters, dim, init_cent=init
    )
    return np.array([c for _cid, c in cent], dtype=np.float64)


def assign_cells(embeddings: DataFrame, centroids: np.ndarray) -> DataFrame:
    """vec_id → cell_id of nearest centroid — one map stage, no shuffle.
    Gated to valid vectors of the quantizer's width: a NULL/empty/
    zero-norm/ragged row degrades to absence from the cell table (the
    valid_vectors discipline) instead of a NULL-dot argmax abort."""
    from csv_crm_upload_spark.analytics.arrowquant import cells_arrow
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    gated = valid_vectors(embeddings).filter(
        F.size("embedding") == int(centroids.shape[1])
    )
    # Arrow-native: bit-identical to the expression-form cell_id_expr
    # (tests/_quantizer_reference.py, pinned by tests/test_arrowquant.py) without the k×dim literal tree's
    # construction/analysis/codegen cost per call (guide §4.2)
    return cells_arrow(gated, centroids)


def knn_ivf(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF search: per query, exact-rerank members of the nprobe nearest
    cells only.

    Every ranking is IN THE PLAN with the cross-engine discipline
    (round-9 — this is what makes the op oracle-paired): probe cells
    rank by the 6-dp rounded query·centroid dot (ties → lowest cell);
    the rerank is knn_bruteforce's exact expression (6-dp rounded
    cosine, +0.0 signed-zero guard, vec_id tiebreak). Queries are gated
    to valid fit-width vectors — the cell table only covers those, so a
    ragged/corrupt query degrades to absence (the valid_vectors rule),
    matching the oracle's WHERE. Scale shape: the centroid table is a
    k-row literal broadcast; cells join is one shuffle keyed on
    cell_id; the rerank touches only probed cells' members."""
    from pyspark.sql import Window

    from csv_crm_upload_spark.analytics.similarity import _dot, _norm, valid_vectors

    if query_ids is None:
        query_ids = list(range(10))
    spark = embeddings.sparkSession
    centroids = fit_centroids(embeddings, n_cells=n_cells)
    if centroids.size == 0:  # zero valid vectors: the oracle's empty result
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cos_sim double, rank int"
        )
    # the corpus cell table is a pure function of (corpus, centroids):
    # it rides the fit memo as a bounded localCheckpoint like the
    # pq/ivfpq code tables, so repeat calls reuse it and no per-call
    # persist() outlives the call (the table has one consumer per plan)
    from csv_crm_upload_spark.analytics.fitmemo import memo_fit

    cells = memo_fit(
        "ivf_cells",
        embeddings,
        (centroids.shape, centroids.tobytes()),
        lambda: assign_cells(embeddings, centroids).localCheckpoint(eager=True),
    )
    dim = int(centroids.shape[1])

    cent_df = spark.createDataFrame(
        [(int(c), [float(v) for v in centroids[c]]) for c in range(len(centroids))],
        "cell_id int, centroid array<double>",
    )
    queries = (
        valid_vectors(embeddings.filter(F.col("vec_id").isin(query_ids)))
        .filter(F.size("embedding") == dim)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_norm"),
        )
    )
    qdot = F.round(_dot(F.col("q_emb"), F.col("centroid")), 6)
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cell_id")
    )
    probe = (
        queries.crossJoin(F.broadcast(cent_df))
        .select("query_id", "cell_id", qdot.alias("csim"))
        .withColumn("rk", F.row_number().over(w_probe))
        .filter(F.col("rk") <= nprobe)
        .select("query_id", "cell_id")
    )
    cand = (
        cells.join(F.broadcast(probe), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    corpus = embeddings.select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_norm"),
    )
    # knn_bruteforce's exact scoring tree (q side first, hoisted norms)
    cos = F.round(
        _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    scored = (
        cand.join(F.broadcast(queries), "query_id")
        .join(corpus, "vec_id")
        .select("query_id", "vec_id", (cos + F.lit(0.0)).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def ivfrec1_recall_audit(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Recall@k of the IVF search against exact cosine brute-force —
    lshrec1's twin for the learned-partition path: the eval that tunes
    (n_cells, nprobe) before the 100 TB corpus quietly loses neighbors
    to unprobed cells. Composes the two oracle-paired operators
    verbatim (now that the coarse fit is the distributed k-means, BOTH
    sides are driver-checked — round-9); the exact side is the base
    relation so a query whose probed cells miss everything reports
    recall 0, not an absent row. Both sides are ≤ |queries|·k rows."""
    from csv_crm_upload_spark.analytics.similarity import knn_bruteforce, recall_rollup

    return recall_rollup(
        knn_bruteforce(embeddings, query_ids, k),
        knn_ivf(embeddings, query_ids, k, n_cells, nprobe),
    )
