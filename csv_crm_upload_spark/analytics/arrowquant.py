"""Arrow-native scoring for the quantizer family's assign+encode map
stages (spark_optimization_guide §4.2: hand whole batches to vectorized
native code instead of a giant JVM expression tree).

Why: the k-unrolled scoring expressions (`cell_id_expr`, `codes_expr`
and the k-means `_assign`, kept as references in
tests/_quantizer_reference.py) plan correctly — map-only, zero
exchanges — but their literal trees (k×dim + m×k×sub doubles, nested folds per candidate) cost
seconds of driver-side Catalyst analysis + whole-stage codegen on every
COLD process, which dominates pq1/ivfpq1/ivfpq2's cold wall time at any
corpus size. A `mapInArrow` stage replaces the tree with one tiny plan
node; the per-row math runs as vectorized numpy over Arrow batches, and
the codebooks ride the (small) pickled closure instead of the plan.

Exactness contract — the outputs are DECISIONS (cell argmax, per-subspace
code argmin), and they must be bit-identical to the JVM expressions the
DuckDB oracles unroll:

  * dot products / squared distances accumulate in the SAME sequential
    left-fold order as `F.aggregate(zip_with(...), 0.0, acc + v)`:
    float64 term then float64 add, dim by dim — reproduced here with one
    vectorized numpy op per dimension (IEEE-identical by construction).
  * Spark's `round(x, 6)` on DOUBLE is `BigDecimal.valueOf(x)` (the
    shortest decimal string that round-trips, == Python `repr`) quantized
    HALF_UP, back to double; non-finite values pass through unchanged.
    `_round6` reproduces it exactly via `Decimal(repr(x))`.
  * Vectorized `np.round` is only a SURROGATE for the argmin/argmax: it
    can differ from Spark's rounding by at most 1e-6 per value, so any
    row whose best-vs-rest margin is ≤ 2.5e-6 (or that contains a
    non-finite score) is re-decided by `_round6` on the scalar path with
    Spark's exact comparison semantics (NaN greatest, first-min/-max
    tiebreak, all-invalid → NULL code). Everything else provably agrees.

The margin fallback is O(ambiguous rows · k); on continuous data the
ambiguous fraction is ~1e-5, so the stage stays vectorized.

Parity is pinned by tests/test_arrowquant.py (arrow ≡ the reference
expressions on the real corpora + adversarial midpoint/NaN fixtures)
and by the standing oracle-parity suites for pq1/ivfpq1/ivfpq2/sim_knn_ivf.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np

from pyspark.sql import DataFrame

#: surrogate-vs-exact rounding can move each 6-dp value by at most 1e-6;
#: a best-vs-runner-up margin above 2·1e-6 (+ float fuzz) can never flip
_MARGIN = 2.5e-6

_Q6 = Decimal("0.000001")
#: quantizing |x| up to 1e308 at 6 dp needs ~315 digits; Java BigDecimal's
#: setScale has unlimited precision, so give Decimal enough to match
_CTX = Context(prec=400, rounding=ROUND_HALF_UP)


def _round6(x: float) -> float:
    """Spark `round(double, 6)`: BigDecimal.valueOf → setScale(6,
    HALF_UP) → double. Non-finite passes through (Spark's Round guard)."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP, context=_CTX))


def _seq_dots(emb: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """(n, k) raw dot products with the fold order of
    aggregate(zip_with(emb, mat[c], a*b), 0.0, acc+v): per-dim product
    then sequential add — each numpy op is the same IEEE float64 step."""
    n, dim = emb.shape
    acc = np.zeros((n, mat.shape[0]))
    for d in range(dim):
        acc += emb[:, d : d + 1] * mat[None, :, d]
    return acc


def _seq_d2(sv: np.ndarray, book: np.ndarray) -> np.ndarray:
    """(n, k) raw squared L2 distances with the fold order of
    aggregate(zip_with(sv, entry, (a-b)*(a-b)), 0.0, acc+v)."""
    n, sub = sv.shape
    acc = np.zeros((n, book.shape[0]))
    for d in range(sub):
        diff = sv[:, d : d + 1] - book[None, :, d]
        acc += diff * diff
    return acc


def _argmax_cell_exact(vals) -> int:
    """Scalar replica of cell_id_expr's tail: round each score (Spark
    semantics), array_max (NaN greatest), array_position first-equal."""
    sims = [_round6(float(v)) for v in vals]
    for i, s in enumerate(sims):
        if math.isnan(s):
            return i  # NaN is array_max's greatest; NaN = NaN is true
    best = max(sims)
    return sims.index(best)


def _argmin_code_exact(vals) -> int:
    """Scalar replica of _sub_code_expr's fold: strictly-less keeps the
    FIRST min over rounded d2; all-NaN/inf rows keep the -1 init (the
    NULL-code degrade)."""
    best_s, best_i = float("inf"), -1
    for i, v in enumerate(vals):
        s = _round6(float(v))
        if s < best_s:  # NaN < x is false, matching Spark's comparison
            best_s, best_i = s, i
    return best_i


def _decide(vals: np.ndarray, mode: str) -> np.ndarray:
    """Per-row argmax/argmin over ROUNDED scores, exact to the Spark
    expressions. vals: (n, k) raw scores. Returns int64 indices; -1
    encodes the argmin path's NULL code."""
    n, k = vals.shape
    finite = np.isfinite(vals).all(axis=1)
    surr = np.round(vals, 6)
    safe = np.where(finite[:, None], surr, 0.0)
    if mode == "max":
        idx = np.argmax(safe, axis=1)
    else:
        idx = np.argmin(safe, axis=1)
    chosen = safe[np.arange(n), idx]
    diff = np.abs(safe - chosen[:, None])
    diff[np.arange(n), idx] = np.inf
    ambiguous = (diff.min(axis=1) <= _MARGIN) | ~finite
    if ambiguous.any():
        exact = _argmax_cell_exact if mode == "max" else _argmin_code_exact
        for i in np.nonzero(ambiguous)[0]:
            idx[i] = exact(vals[i])
    return idx


def round6_values(vals: np.ndarray) -> np.ndarray:
    """Exact Spark round(x, 6) over an array — for VALUES that reach
    results (not just decisions). Vectorized rint(x·1e6)/1e6 everywhere
    it provably equals the BigDecimal path; any element within float-fuzz
    of a grid midpoint (where half-even and HALF_UP can part), or
    non-finite after scaling, takes the scalar `_round6` path."""
    f = vals * 1e6
    with np.errstate(invalid="ignore"):
        out = np.rint(f) / 1e6  # true divide by the exact 1e6 double
        frac = np.abs(f - np.floor(f) - 0.5)
    tol = np.maximum(1e-9, np.abs(f) * 1e-12)
    amb = ~np.isfinite(vals) | ~np.isfinite(f) | (frac <= tol)
    if amb.any():
        flat_out, flat_in = out.reshape(-1), vals.reshape(-1)
        for i in np.nonzero(amb.reshape(-1))[0]:
            flat_out[i] = _round6(float(flat_in[i]))
    return out


def pq_codes_batch(emb: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) int64 codes (−1 = NULL) for already width-gated vectors —
    the numpy replica of the reference codes_expr."""
    m, _k, sub = books.shape
    n = emb.shape[0]
    codes = np.empty((n, m), dtype=np.int64)
    for j in range(m):
        sv = emb[:, j * sub : (j + 1) * sub]
        codes[:, j] = _decide(_seq_d2(sv, books[j]), "min")
    return codes


def cell_ids_batch(emb: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """(n,) int64 nearest-centroid ids — the numpy replica of
    the reference cell_id_expr (rounded-dot argmax, first-max tiebreak)."""
    return _decide(_seq_dots(emb, centroids), "max")


def _batch_embeddings(batch, dim: int) -> np.ndarray:
    """Zero-ish-copy (n, dim) float64 view of an Arrow list<float|double>
    column whose rows are all exactly `dim` wide (the callers gate).
    float32 inputs widen exactly, matching the expressions'
    `.cast("double")` on every element."""
    col = batch.column("embedding")
    flat = np.asarray(col.flatten(), dtype=np.float64)
    return flat.reshape(batch.num_rows, dim)


def _emb_list_array(emb: np.ndarray):
    """Arrow list<double> from an (n, dim) float64 matrix."""
    import pyarrow as pa

    n, dim = emb.shape
    values = pa.array(emb.reshape(-1), type=pa.float64())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, values)


def _arrow_stage(frame: DataFrame, dim: int, per_batch, schema: str, *carry: str) -> DataFrame:
    """The one Arrow stage boundary every scorer here goes through:
    project vec_id (normalized to long — int inputs widen exactly) plus
    `embedding` and any `carry` columns, decode each non-empty batch's
    vectors as an (n, dim) float64 matrix, and build the output batch
    from `per_batch(batch, emb)` — a list of Arrow arrays in `schema`'s
    column order (names are read from the DDL `schema`, which has no
    nested commas)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    names = [field.split()[0] for field in schema.split(",")]

    def fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            arrays = per_batch(batch, _batch_embeddings(batch, dim))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return frame.select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding", *carry
    ).mapInArrow(fn, schema)


def _codes_list_array(codes: np.ndarray):
    """Arrow list<int32> from an (n, m) int64 code matrix; −1 → NULL
    element (the expression path's NULL-code degrade)."""
    import pyarrow as pa

    n, m = codes.shape
    flat = codes.reshape(-1)
    values = pa.array(
        flat.astype(np.int32), type=pa.int32(), mask=(flat < 0)
    )
    offsets = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, values)


def encode_arrow(gated: DataFrame, books: np.ndarray) -> DataFrame:
    """(vec_id, codes) over a pre-gated (valid, codec-width) frame —
    the Arrow-stage replacement for `gated.select(vec_id,
    codes_expr(books))`. One MapInArrow node; no literal tree."""
    m, _k, sub = books.shape
    bks = np.ascontiguousarray(books, dtype=np.float64)

    def per_batch(batch, emb):
        return [batch.column("vec_id"), _codes_list_array(pq_codes_batch(emb, bks))]

    return _arrow_stage(gated, int(m * sub), per_batch, "vec_id long, codes array<int>")


def cells_arrow(
    gated: DataFrame, centroids: np.ndarray, with_embedding: bool = False
) -> DataFrame:
    """(vec_id[, embedding], cell_id) over a pre-gated frame — the Arrow
    replacement for `gated.select(vec_id, cell_id_expr(centroids))`.
    `with_embedding=True` passes the vector through (bit-exact Arrow
    round-trip) for consumers that aggregate it per cell (the residual
    codec fit)."""
    import pyarrow as pa

    cts = np.ascontiguousarray(centroids, dtype=np.float64)

    def per_batch(batch, emb):
        cells = pa.array(cell_ids_batch(emb, cts).astype(np.int32), type=pa.int32())
        if with_embedding:
            return [batch.column("vec_id"), _emb_list_array(emb), cells]
        return [batch.column("vec_id"), cells]

    out_schema = (
        "vec_id long, embedding array<double>, cell_id int"
        if with_embedding
        else "vec_id long, cell_id int"
    )
    return _arrow_stage(gated, int(cts.shape[1]), per_batch, out_schema)


def assign_arrow(
    gated: DataFrame, cent: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vec_id, embedding, cluster_id, sim) — the Arrow replacement for
    the expression-form k-means `_assign`: per row, the FIRST-max
    position over the 6-dp rounded dots against the centroid list;
    cluster_id is that position's id from `cent`, sim the (exactly)
    rounded chosen dot.
    Bit-identical to the expression form (tests/test_arrowquant.py):
    decisions via the margin-fallback `_decide`, the visible sim via
    `round6_values`. The embedding passes through widened to double
    (every consumer cast it on use)."""
    import pyarrow as pa

    ids = np.array([cid for cid, _v in cent], dtype=np.int64)
    mat = np.ascontiguousarray([v for _cid, v in cent], dtype=np.float64)

    def per_batch(batch, emb):
        dots = _seq_dots(emb, mat)
        pos = _decide(dots, "max")
        sims = round6_values(dots[np.arange(len(pos)), pos])
        return [
            batch.column("vec_id"),
            _emb_list_array(emb),
            pa.array(ids[pos].astype(np.int32), type=pa.int32()),
            pa.array(sims, type=pa.float64()),
        ]

    return _arrow_stage(
        gated,
        int(mat.shape[1]),
        per_batch,
        "vec_id long, embedding array<double>, cluster_id int, sim double",
    )


def _margin_row_exact(dots) -> float:
    """Scalar replica of sil1's margin tail: sims = round6(dots),
    margin = round6(array_max(sims) − element 2 of the descending sort).
    Spark sorts NaN as greatest; max is NaN when any sim is NaN."""
    sims = [_round6(float(v)) for v in dots]
    desc = sorted(sims, key=lambda s: (not math.isnan(s), -s if not math.isnan(s) else 0.0))
    # NaN first (greatest), then descending finite/inf order
    mx = desc[0]
    second = desc[1]
    return _round6(mx - second)


def margins_arrow(
    gated: DataFrame, cent: list[tuple[int, list[float]]]
) -> DataFrame:
    """(cluster_id, margin) — the Arrow replacement for sil1's scored
    stage: margin = round6(best sim − second-best sim) with second-best
    = element 2 of the DESCENDING-sorted rounded-sim array (ties →
    margin 0). Requires len(cent) ≥ 2 (sil1 guards the singleton fit
    before calling)."""
    import pyarrow as pa

    ids = np.array([cid for cid, _v in cent], dtype=np.int64)
    mat = np.ascontiguousarray([v for _cid, v in cent], dtype=np.float64)

    def per_batch(batch, emb):
        dots = _seq_dots(emb, mat)
        pos = _decide(dots, "max")
        sims = round6_values(dots)
        finite = np.isfinite(sims).all(axis=1)
        srt = np.sort(sims, axis=1)  # ascending; NaN sorts last = greatest ✓
        margins = round6_values(srt[:, -1] - srt[:, -2])
        if not finite.all():
            for i in np.nonzero(~finite)[0]:
                margins[i] = _margin_row_exact(dots[i])
        return [
            pa.array(ids[pos].astype(np.int32), type=pa.int32()),
            pa.array(margins, type=pa.float64()),
        ]

    return _arrow_stage(gated, int(mat.shape[1]), per_batch, "cluster_id int, margin double")


def fit_codes_longform(gated_vf: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """(j, code, sv) long-form assignment rows for ONE Lloyd's update of
    the PQ codec fit — the Arrow replacement for _fit_books_on_frame's
    explode → broadcast-join → min(struct(d2, code)) chain (two shuffles
    and a join become one map stage feeding one combining agg).

    Decision semantics are the JOIN form's: min(struct(d2, code)) under
    Spark ordering — NaN sorts greatest, ties take the lowest code, and
    a row ALWAYS gets a code (an all-NaN/inf row takes code 0), which is
    where this differs from codes_expr's NULL-code fold. sv passes
    through widened to double (the decimal sums cast it anyway)."""
    import pyarrow as pa

    m = len(books)
    bks = [np.ascontiguousarray(b, dtype=np.float64) for b in books]
    sub = int(bks[0].shape[1])

    def per_batch(batch, emb):
        n = batch.num_rows
        js = np.empty(n * m, dtype=np.int32)
        codes = np.empty(n * m, dtype=np.int64)
        svs = np.empty((n * m, sub), dtype=np.float64)
        for j in range(m):
            sv = emb[:, j * sub : (j + 1) * sub]
            d2 = _seq_d2(sv, bks[j])
            cj = _decide(d2, "min")
            if (cj < 0).any():  # all-NaN/inf rows: the join-min keeps code 0
                cj = np.where(cj < 0, 0, cj)
            js[j::m] = j
            codes[j::m] = cj
            svs[j::m] = sv
        return [
            pa.array(js, type=pa.int32()),
            pa.array(codes.astype(np.int32), type=pa.int32()),
            _emb_list_array(svs),
        ]

    return _arrow_stage(gated_vf, m * sub, per_batch, "j int, code int, sv array<double>")


def residual_arrow(cells: DataFrame, means: np.ndarray) -> DataFrame:
    """(vec_id, embedding − mean[cell_id]) from a (vec_id, embedding,
    cell_id) frame — the elementwise float64 subtract of the residual
    zip_with, computed in Arrow (exact: one IEEE op per element, no
    rounding anywhere)."""
    mns = np.ascontiguousarray(means, dtype=np.float64)

    def per_batch(batch, emb):
        cells_np = np.asarray(batch.column("cell_id"), dtype=np.int64)
        return [batch.column("vec_id"), _emb_list_array(emb - mns[cells_np])]

    return _arrow_stage(
        cells, int(mns.shape[1]), per_batch, "vec_id long, embedding array<double>", "cell_id"
    )


def assign_encode_arrow(
    gated: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    means: np.ndarray | None = None,
) -> DataFrame:
    """(vec_id, codes, cell_id) in one Arrow stage over a pre-gated
    frame — the replacement for ivfpq._assign_and_encode's fused
    expression tree. `means` selects residual encoding (codes quantize
    emb − mean[cell], the IVFADC shape)."""
    import pyarrow as pa

    m, _k, sub = books.shape
    cts = np.ascontiguousarray(centroids, dtype=np.float64)
    bks = np.ascontiguousarray(books, dtype=np.float64)
    mns = None if means is None else np.ascontiguousarray(means, dtype=np.float64)

    def per_batch(batch, emb):
        cells = cell_ids_batch(emb, cts)
        x = emb if mns is None else emb - mns[cells]
        return [
            batch.column("vec_id"),
            _codes_list_array(pq_codes_batch(x, bks)),
            pa.array(cells.astype(np.int32), type=pa.int32()),
        ]

    return _arrow_stage(
        gated, int(m * sub), per_batch, "vec_id long, codes array<int>, cell_id int"
    )
