"""Expression-form references for the Arrow quantizer stages
(csv_crm_upload_spark/analytics/arrowquant.py).

The MapInArrow scorers must be BIT-IDENTICAL to these JVM column
expressions, because the DuckDB oracles unroll the same folds. No
production code builds them any more; they live here so
tests/test_arrowquant.py can keep comparing the two implementations.

  * `codes_expr` / `_sub_code_expr` — PQ encode (per-subspace rounded-L2
    argmin, NULL code on an all-invalid row);
  * `cell_id_expr` — IVF nearest-centroid cell (rounded-dot argmax);
  * `_assign` / `_dot_lit` — k-means assignment (cluster id + rounded sim).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sub_code_expr(xs, entries: list[list[float]]):
    """Nearest-entry code of the subvector expression `xs` against one
    subspace's codebook: argmin of the 6-dp ROUNDED squared L2 distance,
    ties → FIRST (lowest) code — the cross-engine discipline the pq1
    oracle unrolls (ORDER BY d2, code). The codebook rides in as ONE
    nested k×sub literal and the distances come from ONE transform —
    not k separate aggregate lambdas whose tree the argmin then
    duplicates (that shape planned 2·m·k aggregates; Catalyst ANALYSIS
    of the tree, not the data, dominated pq1's per-call cost)."""
    kk = len(entries)
    book = F.array(
        *[F.array(*[F.lit(float(v)) for v in e]) for e in entries]
    )
    d2s = F.transform(
        book,
        lambda e: F.round(
            F.aggregate(
                F.zip_with(
                    xs, e, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ),
    )
    # first-min argmin in ONE pass; strictly-less keeps the FIRST min.
    # A corrupt row (empty/short vector → NULL distances) leaves the -1
    # init in place and surfaces as a NULL code — element_at(lut, 0)
    # would otherwise ABORT the whole job under ANSI (the one-corrupt-
    # row-kills-the-fleet class the degenerate smoke sweep catches)
    zipped = F.zip_with(
        d2s,
        F.sequence(F.lit(0), F.lit(kk - 1)),
        lambda s, i: F.struct(s.alias("s"), i.alias("i")),
    )
    best = F.aggregate(
        zipped,
        F.struct(F.lit(float("inf")).alias("s"), F.lit(-1).alias("i")),
        lambda acc, x: F.when(x["s"] < acc["s"], x).otherwise(acc),
    )
    return F.when(best["i"] >= 0, best["i"]).cast("int")


def codes_expr(codebooks: np.ndarray, col=None):
    """Column expression for the m nearest-codebook-entry codes of
    `col` (default the `embedding` column — pass any array<double>
    expression, e.g. a residual, for IVF-PQ). The codebook tensor rides
    into the plan as array literals (m·k·sub doubles — tiny); per
    subspace the code is the rounded-L2 argmin of _sub_code_expr.
    Usable in any map stage, e.g. fused with the coarse cell assignment
    in ivfpq._assign_and_encode."""
    m, k, sub = codebooks.shape
    emb = F.col("embedding") if col is None else col
    return F.array(
        *[
            _sub_code_expr(
                F.slice(emb, j * sub + 1, sub),
                [[float(v) for v in codebooks[j, c]] for c in range(k)],
            )
            for j in range(m)
        ]
    )


def cell_id_expr(centroids: np.ndarray):
    """Column expression (over `embedding`) for the nearest-centroid
    cell id. The centroid matrix rides into the plan as array literals
    (broadcast-equivalent; k×dim doubles is tiny) — usable in any map
    stage, e.g. fused with PQ encoding in ivfpq._assign_and_encode.
    Each dot is 6-dp rounded before the argmax (ties → FIRST max =
    lowest cell), the clustering._assign discipline, so the assignment
    is reproducible by the kmeans oracle chain."""
    emb = F.col("embedding")
    sims = [
        F.round(
            F.aggregate(
                F.zip_with(
                    emb,
                    F.array(*[F.lit(float(v)) for v in centroids[c]]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )
        for c in range(len(centroids))
    ]
    best = F.array_position(
        F.array(*sims), F.array_max(F.array(*sims))
    ) - 1  # 1-based → 0-based
    return best.cast("int")


def _dot_lit(emb: F.Column, vec: list[float]) -> F.Column:
    """Sequential left-fold dot product against a literal vector —
    fold order matches DuckDB's list_sum(list_transform(...)) exactly
    (the proven cross-engine idiom of the cosine oracles)."""
    return F.aggregate(
        F.zip_with(
            emb,
            F.array(*[F.lit(float(v)) for v in vec]),
            lambda x, y: x.cast("double") * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign(valid_embeddings: DataFrame, cent: list[tuple[int, list[float]]]) -> DataFrame:
    """Map-only argmax assignment of every (already valid_vectors-gated)
    vector against the given driver-side centroid list. FIRST max
    position ≡ lowest-cluster_id tiebreak (ids ascend in `cent`)."""
    sims = F.array(*[F.round(_dot_lit(F.col("embedding"), v), 6) for _cid, v in cent])
    best_pos = F.array_position(sims, F.array_max(sims)).cast("int") - 1
    ids = F.array(*[F.lit(cid) for cid, _v in cent])
    return valid_embeddings.select(
        "vec_id",
        "embedding",
        F.element_at(ids, best_pos + 1).alias("cluster_id"),
        F.element_at(sims, best_pos + 1).alias("sim"),
    )
