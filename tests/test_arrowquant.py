"""Parity pins for the Arrow-native quantizer scoring (arrowquant.py):
the MapInArrow stages must be BIT-IDENTICAL to the JVM expression trees
they replaced (cell_id_expr / codes_expr / the fused residual tree /
the k-means _assign, all in tests/_quantizer_reference.py), because the
DuckDB oracles unroll those expressions. This suite compares the two
implementations on every corpus shape that ever diverged an engine
pair: the real testdata, adversarial rounding midpoints, exact ties,
and NaN/Inf components."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import arrowquant as aq
from csv_crm_upload_spark.analytics import ivf as _ivf
from csv_crm_upload_spark.analytics import pq as _pq
from csv_crm_upload_spark.analytics.similarity import valid_vectors

from tests._quantizer_reference import _assign, _dot_lit, cell_id_expr, codes_expr


def _expr_codes(gated, books):
    return gated.select("vec_id", codes_expr(books).alias("codes"))


def _expr_cells(gated, centroids):
    return gated.select(
        "vec_id", cell_id_expr(centroids).alias("cell_id")
    )


def _norm(v):
    """repr-canonicalize floats so NaN == NaN and -0.0 != 0.0 (we compare
    BITS, not IEEE equality)."""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _cmp(left, right, key="vec_id"):
    lrows = {r[key]: _norm(tuple(r)) for r in left.collect()}
    rrows = {r[key]: _norm(tuple(r)) for r in right.collect()}
    assert lrows == rrows


def _gate(emb_df, dim):
    return valid_vectors(emb_df).filter(F.size("embedding") == dim)


@pytest.fixture(scope="module")
def adversarial(spark):
    """Vectors engineered to land dot products / distances ON and NEAR
    the 6-dp rounding grid midpoints (where half-even numpy rounding and
    Spark's HALF_UP BigDecimal rounding disagree), plus exact ties and
    non-finite components."""
    rng = np.random.default_rng(20260818)
    rows = []
    vid = 0
    dim = 8
    for _ in range(200):  # midpoint-ish values: 7-dp-terminating entries
        rows.append((vid, [round(float(v), 7) for v in rng.uniform(-1, 1, dim)]))
        vid += 1
    for _ in range(100):  # exact-tie fodder: tiny integer grids
        rows.append((vid, [float(rng.integers(-2, 3)) for _ in range(dim)]))
        vid += 1
    rows.append((vid, [float("nan")] + [1.0] * (dim - 1))); vid += 1
    rows.append((vid, [float("inf")] + [1.0] * (dim - 1))); vid += 1
    rows.append((vid, [-float("inf")] + [1.0] * (dim - 1))); vid += 1
    rows.append((vid, [float("nan")] * dim)); vid += 1
    rows.append((vid, [5e-7] * dim)); vid += 1
    rows.append((vid, [-5e-7] * dim)); vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _books_from(df, m, k):
    rows = df.orderBy("vec_id").limit(k).collect()
    dim = len(rows[0]["embedding"])
    sub = dim // m
    return np.array(
        [
            [[float(v) for v in r["embedding"][j * sub : (j + 1) * sub]] for r in rows]
            for j in range(m)
        ]
    )


def test_encode_parity_adversarial(spark, adversarial):
    books = _books_from(adversarial, m=2, k=16)
    gated = _gate(adversarial, 8)
    _cmp(aq.encode_arrow(gated, books), _expr_codes(gated, books))


def test_cells_parity_adversarial(spark, adversarial):
    cents = np.array(
        [r["embedding"] for r in adversarial.orderBy("vec_id").limit(6).collect()]
    )
    gated = _gate(adversarial, 8)
    _cmp(aq.cells_arrow(gated, cents), _expr_cells(gated, cents))


def test_fused_parity_adversarial_residual(spark, adversarial):
    books = _books_from(adversarial, m=2, k=8)
    cents = np.array(
        [r["embedding"] for r in adversarial.orderBy("vec_id").limit(4).collect()]
    )
    means = cents * 0.5
    gated = _gate(adversarial, 8)
    mean_table = F.array(
        *[F.array(*[F.lit(float(v)) for v in means[c]]) for c in range(len(means))]
    )
    cell = cell_id_expr(cents)
    res = F.zip_with(
        F.col("embedding"),
        F.element_at(mean_table, cell + 1),
        lambda a, b: a.cast("double") - b,
    )
    expr = gated.select(
        "vec_id", codes_expr(books, col=res).alias("codes"), cell.alias("cell_id")
    )
    _cmp(aq.assign_encode_arrow(gated, cents, books, means=means), expr)


def test_encode_parity_real_corpus(spark, sf_dir):
    from csv_crm_upload_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = _pq.fit_pq_codebooks(emb, m=8, k=16)
    gated = _gate(emb, int(books.shape[0] * books.shape[2]))
    _cmp(aq.encode_arrow(gated, books), _expr_codes(gated, books))
    cents = _ivf.fit_centroids(emb, n_cells=16)
    _cmp(aq.cells_arrow(gated, cents), _expr_cells(gated, cents))


def test_round6_matches_spark(spark):
    rng = np.random.default_rng(7)
    vals = [float(v) for v in rng.uniform(-100, 100, 500)]
    vals += [round(float(v), 7) for v in rng.uniform(-1, 1, 500)]
    vals += [i * 5e-7 for i in range(-50, 50)]
    vals += [0.0, -0.0, 1e308, -1e308, 5e-7, -5e-7, 1.0000005, -1.0000005,
             float("inf"), -float("inf"), float("nan")]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r["r"] for r in df.select(F.round("x", 6).alias("r")).collect()]
    for v, g in zip(vals, got):
        mine = aq._round6(v)
        if isinstance(g, float) and math.isnan(g):
            assert math.isnan(mine), v
        else:
            assert g == mine, (v, g, mine)


def test_null_code_degrade_matches_expression(spark):
    """All-NaN d2 rows keep the -1 fold init → NULL code, exactly like
    _sub_code_expr's guard."""
    df = spark.createDataFrame(
        [(0, [float("nan")] * 4), (1, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    books = np.array([[[1.0, 2.0]], [[3.0, 4.0]]])  # m=2, k=1, sub=2
    gated = df  # deliberately ungated: the NaN row must flow through both
    _cmp(aq.encode_arrow(gated, books), _expr_codes(gated, books))
    rows = {r["vec_id"]: r["codes"] for r in aq.encode_arrow(gated, books).collect()}
    assert rows[0] == [None, None] and rows[1] == [0, 0]


def _cent_from(df, k):
    rows = df.orderBy("vec_id").limit(k).collect()
    return [(i, [float(v) for v in r["embedding"]]) for i, r in enumerate(rows)]


def test_assign_parity_adversarial(spark, adversarial):
    cent = _cent_from(adversarial, 6)
    gated = _gate(adversarial, 8)
    _cmp(aq.assign_arrow(gated, cent), _assign(gated, cent))


def test_assign_parity_real_corpus(spark, sf_dir):
    from csv_crm_upload_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    gated = _gate(emb, 64)
    cent = _cent_from(gated, 8)
    _cmp(aq.assign_arrow(gated, cent), _assign(gated, cent))


def _expr_margins(gated, cent):
    sims = F.array(*[F.round(_dot_lit(F.col("embedding"), v), 6) for _cid, v in cent])
    ids = F.array(*[F.lit(cid) for cid, _v in cent])
    best_pos = F.array_position(sims, F.array_max(sims)).cast("int") - 1
    desc = F.reverse(F.array_sort(sims))
    second = (
        F.when(F.size(desc) >= 2, F.element_at(desc, 2))
        .otherwise(F.lit(None).cast("double"))
    )
    return gated.select(
        F.element_at(ids, best_pos + 1).alias("cluster_id"),
        F.round(F.array_max(sims) - second, 6).alias("margin"),
    )


def _cmp_multiset(left, right):
    from collections import Counter

    assert Counter(_norm(tuple(r)) for r in left.collect()) == Counter(
        _norm(tuple(r)) for r in right.collect()
    )


def test_margins_parity(spark, adversarial, sf_dir):
    gated = _gate(adversarial, 8)
    cent = _cent_from(adversarial, 5)
    _cmp_multiset(aq.margins_arrow(gated, cent), _expr_margins(gated, cent))
    from csv_crm_upload_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    gated = _gate(emb, 64)
    cent = _cent_from(gated, 8)
    _cmp_multiset(aq.margins_arrow(gated, cent), _expr_margins(gated, cent))


def _expr_fit_longform(vf, books, m, sub):
    """The r9 broadcast-join fit-assignment form, kept here as the parity
    reference for fit_codes_longform."""
    spark = vf.sparkSession
    subvecs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(F.col("embedding"), j * sub + 1, sub).alias("sv"),
            )
            for j in range(m)
        ]
    )
    long_form = vf.select("vec_id", F.explode(subvecs).alias("p")).select(
        "vec_id", "p.j", "p.sv"
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("sv"),
                F.col("entry"),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    books_df = spark.createDataFrame(
        [(j, c, books[j][c]) for j in range(m) for c in range(len(books[j]))],
        "j int, code int, entry array<double>",
    )
    return (
        long_form.join(F.broadcast(books_df), "j")
        .select("vec_id", "j", "sv", "code", d2.alias("d2"))
        .groupBy("vec_id", "j")
        .agg(F.min(F.struct("d2", "code")).alias("b"), F.first("sv").alias("sv"))
        .select("j", F.col("b.code").alias("code"), F.col("sv").cast("array<double>").alias("sv"))
    )


def test_fit_longform_parity(spark, adversarial, sf_dir):
    m = 2
    for df, dim, k in [(adversarial, 8, 8)]:
        gated = _gate(df, dim).select("vec_id", "embedding")
        sub = dim // m
        rows = gated.orderBy("vec_id").limit(k).collect()
        books = [
            [[float(v) for v in r["embedding"][j * sub : (j + 1) * sub]] for r in rows]
            for j in range(m)
        ]
        got = aq.fit_codes_longform(gated, books)
        want = _expr_fit_longform(gated, books, m, sub)
        _cmp_multiset(
            got.select("j", "code", F.col("sv").cast("string")),
            want.select("j", "code", F.col("sv").cast("string")),
        )


def test_fit_longform_all_nan_keeps_a_code(spark):
    """The join-min form always yields a code (NaN sorts greatest, the
    min struct still exists); the Arrow form must match, NOT codes_expr's
    NULL-code fold."""
    df = spark.createDataFrame(
        [(0, [float("nan")] * 4)], "vec_id long, embedding array<double>"
    )
    books = [[[1.0, 2.0], [5.0, 6.0]], [[3.0, 4.0], [7.0, 8.0]]]
    rows = aq.fit_codes_longform(df, books).collect()
    assert sorted((r["j"], r["code"]) for r in rows) == [(0, 0), (1, 0)]


def test_residual_arrow_exact(spark):
    rng = np.random.default_rng(3)
    rows = [
        (i, [float(v) for v in rng.uniform(-1, 1, 4)], int(i % 3)) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, cell_id int")
    means = np.array([[0.1, -0.2, 0.3, 7.0], [0.0, 1.5, -2.5, 0.25], [9.0, 0.0, 1e-7, -1.0]])
    mean_table = F.array(
        *[F.array(*[F.lit(float(v)) for v in means[c]]) for c in range(3)]
    )
    expr = df.select(
        "vec_id",
        F.zip_with(
            F.col("embedding"),
            F.element_at(mean_table, F.col("cell_id") + 1),
            lambda a, b: a.cast("double") - b,
        ).alias("embedding"),
    )
    got = {r["vec_id"]: r["embedding"] for r in aq.residual_arrow(df, means).collect()}
    want = {r["vec_id"]: r["embedding"] for r in expr.collect()}
    assert got == want
