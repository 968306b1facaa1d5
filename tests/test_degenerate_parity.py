"""Degenerate-fixture parity sweep: every oracle-paired query runs on
BOTH engines over an ADVERSARIAL mini-corpus — NULL/empty/whitespace
text, NULL lang/source/event_type/value, single-member groups,
single-order customers, NULL and zero-length embeddings, duplicate
rows. The production fixtures are clean, so cross-engine divergence
classes that only degenerate inputs expose (NULL propagation vs CASE,
Spark NaN vs DuckDB NULL on 0/0, signed zero, empty-CTE annihilation —
each found at least once in rounds 5–6) would otherwise stay latent
until a fixture rotation flips a driver CORRECTNESS row. Here they fail
the suite instead.

The corpus is small but SANE: enough rows that argmax/k-means/top-k
queries stay well-defined; the adversarial rows ride along inside.

Documented SANITY FLOOR (r8 riders; the fuzz generator guarantees the
same invariants, so both adversarial suites share one contract):
  * >= 16 valid FIT-WIDTH vectors exist — the PQ codebook fit's
    documented minimum for a full k=16 init (k-means/prune need fewer);
    this fixture carries 18 valid 8-wide vectors;
  * every score expression that can produce IEEE -0.0 (a rounded dot or
    margin of sign-mixed cells) is normalized with + 0.0 on BOTH
    engines, because the fixture's sign-mixed embedding grid lands
    exact signed-zero cells — the r8 rider class;
  * vec_ids 0..9 are always valid same-width vectors (the ANN query
    set), >= 2 non-NULL langs/sources exist, doc/event ids are dense.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests._parity import assert_matches_oracle, duck_views

# Queries whose semantics are UNDEFINED or deliberately out of scope on
# this corpus, with the reason — keep this list short and justified.
EXCLUDED: dict[str, str] = {}


def _build_fixture(dir_: str) -> None:
    """Land the adversarial tables as parquet via DuckDB (fast, no
    Spark job). Deterministic — no RNG anywhere."""
    con = duckdb.connect()

    con.execute(f"""
        COPY (SELECT * FROM (VALUES
          (0, 'AMERICA'), (1, 'ASIA')
        ) t(r_regionkey, r_name)) TO '{dir_}/region.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (SELECT * FROM (VALUES
          (0, 'BRAZIL', 0), (1, 'CHINA', 1), (2, 'ORPHANIA', 7)
        ) t(n_nationkey, n_name, n_regionkey))
        TO '{dir_}/nation.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (SELECT CAST(i AS BIGINT) AS c_custkey,
                     'Customer#' || i AS c_name,
                     CAST(i % 3 AS INT) AS c_nationkey,
                     CASE WHEN i = 7 THEN NULL
                          ELSE CAST(1000.0 * i - 4000.0 AS DOUBLE) END AS c_acctbal,
                     CASE i % 3 WHEN 0 THEN 'BUILDING'
                                WHEN 1 THEN 'AUTOMOBILE' ELSE 'MACHINERY' END
                       AS c_mktsegment
              FROM range(12) t(i))
        TO '{dir_}/customer.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (SELECT CAST(i AS BIGINT) AS s_suppkey,
                     'Supplier#' || i AS s_name,
                     CAST(i % 3 AS INT) AS s_nationkey,
                     CAST(100.0 * i AS DOUBLE) AS s_acctbal
              FROM range(5) t(i))
        TO '{dir_}/supplier.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (SELECT CAST(i AS BIGINT) AS p_partkey,
                     'part ' || i AS p_name,
                     'Brand#' || (i % 3) AS p_brand,
                     CASE i % 4 WHEN 0 THEN 'PROMO BRUSHED' WHEN 1 THEN 'STANDARD POLISHED'
                                WHEN 2 THEN 'PROMO PLATED' ELSE 'ECONOMY ANODIZED' END
                       AS p_type,
                     CAST(1 + i % 5 AS INT) AS p_size,
                     CAST(900.0 + 10.0 * i AS DOUBLE) AS p_retailprice
              FROM range(10) t(i))
        TO '{dir_}/part.parquet' (FORMAT PARQUET)
    """)
    # customer 11 has exactly ONE order; statuses cover F/O/P; one
    # priority group has a single member
    con.execute(f"""
        COPY (SELECT CAST(i AS BIGINT) AS o_orderkey,
                     CAST(CASE WHEN i = 39 THEN 11 ELSE i % 8 END AS BIGINT)
                       AS o_custkey,
                     CASE i % 3 WHEN 0 THEN 'F' WHEN 1 THEN 'O' ELSE 'P' END
                       AS o_orderstatus,
                     CAST(100.0 + 37.5 * i AS DOUBLE) AS o_totalprice,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + INTERVAL (i * 7) HOUR AS o_orderdate,
                     CASE WHEN i = 39 THEN '5-LOW'
                          ELSE '1-URGENT' END AS o_orderpriority
              FROM range(40) t(i))
        TO '{dir_}/orders.parquet' (FORMAT PARQUET)
    """)
    # returnflag 'N' has exactly ONE line (single-member corr/cov group);
    # one zero-quantity line; discounts/taxes cover 0
    con.execute(f"""
        COPY (SELECT CAST(i % 40 AS BIGINT) AS l_orderkey,
                     CAST(i % 10 AS BIGINT) AS l_partkey,
                     CAST(i % 5 AS BIGINT) AS l_suppkey,
                     CAST(1 + i % 4 AS INT) AS l_linenumber,
                     CAST(CASE WHEN i = 50 THEN 0.0 ELSE 1.0 + i % 7 END AS DOUBLE)
                       AS l_quantity,
                     CAST(10.0 + 3.25 * i AS DOUBLE) AS l_extendedprice,
                     CAST((i % 5) * 0.02 AS DOUBLE) AS l_discount,
                     CAST((i % 3) * 0.01 AS DOUBLE) AS l_tax,
                     CASE WHEN i = 59 THEN 'N'
                          WHEN i % 2 = 0 THEN 'A' ELSE 'R' END AS l_returnflag,
                     CASE i % 2 WHEN 0 THEN 'F' ELSE 'O' END AS l_linestatus,
                     TIMESTAMP '2024-01-03 00:00:00'
                       + INTERVAL (i * 5) HOUR AS l_shipdate
              FROM range(60) t(i))
        TO '{dir_}/lineitem.parquet' (FORMAT PARQUET)
    """)
    # NULL event_type (the path1 ADVICE case), NULL value, NULL props,
    # a user with a single event, duplicate timestamps
    con.execute(f"""
        COPY (SELECT CAST(i AS BIGINT) AS event_id,
                     TIMESTAMP '2024-02-01 00:00:00'
                       + INTERVAL ((i / 2) * 11) MINUTE AS ts,
                     CAST(CASE WHEN i = 99 THEN 42 ELSE i % 6 END AS BIGINT)
                       AS user_id,
                     CASE WHEN i % 17 = 3 THEN NULL
                          ELSE CASE i % 4 WHEN 0 THEN 'view' WHEN 1 THEN 'cart'
                                          WHEN 2 THEN 'purchase' ELSE 'error' END
                     END AS event_type,
                     CASE WHEN i % 9 = 4 THEN NULL
                          ELSE CAST(0.5 * i AS DOUBLE) END AS value,
                     CASE WHEN i % 13 = 5 THEN NULL
                          ELSE '{{"k": ' || i || '}}' END AS props
              FROM range(100) t(i))
        TO '{dir_}/events.parquet' (FORMAT PARQUET)
    """)
    # NULL text, empty text, whitespace-only, NULL lang, NULL source,
    # one-token doc, repeated-token doc, unicode, embedded separator
    con.execute(f"""
        COPY (SELECT CAST(i AS BIGINT) AS doc_id,
                     CASE WHEN i = 0 THEN NULL
                          WHEN i = 1 THEN ''
                          WHEN i = 2 THEN '   '
                          WHEN i = 3 THEN 'solo'
                          WHEN i = 4 THEN 'rep rep rep rep rep'
                          WHEN i = 5 THEN 'naïve café über 文档 测试'
                          WHEN i = 6 THEN 'tab' || chr(9) || 'and' || chr(10)
                                           || 'newline separated words'
                          WHEN i = 7 THEN 'ctrl' || chr(1) || 'inside token '
                                           || 'one two three four five six '
                                           || 'seven eight nine ten'
                          ELSE 'the quick brown fox jumps over dog number '
                               || i || ' again and again lazily'
                     END AS text,
                     CASE WHEN i % 11 = 7 THEN NULL
                          WHEN i % 3 = 0 THEN 'en'
                          WHEN i % 3 = 1 THEN 'fr' ELSE 'de' END AS lang,
                     CASE WHEN i = 29 THEN NULL
                          WHEN i % 4 = 0 THEN 'web' WHEN i % 4 = 1 THEN 'wiki'
                          WHEN i % 4 = 2 THEN 'code' ELSE 'news' END AS source,
                     CAST(20 + i AS BIGINT) AS n_chars
              FROM range(30) t(i))
        TO '{dir_}/documents.parquet' (FORMAT PARQUET)
    """)
    # vec_ids 0..9 valid (the query set); 17 NULL embedding; 18 empty
    # array; 19 duplicates vector 3; label 9 has a single member;
    # 20 ALL-ZERO vector (norm 0 — divides every unguarded cosine by
    # zero, an ANSI job abort); 21 WRONG-WIDTH vector (Spark's zip_with
    # NULL-pads it while DuckDB's list_sum computes a partial dot —
    # exclusion is the only cross-engine-stable semantics); 22 vector
    # with a NULL COMPONENT (same divergence class: NULL-poisoned dot
    # vs skipped term). All found by round-8 fuzzing/review; pinned.
    con.execute(f"""
        COPY (SELECT CAST(i AS BIGINT) AS vec_id,
                     CASE WHEN i = 17 THEN NULL
                          WHEN i = 18 THEN CAST([] AS FLOAT[])
                          WHEN i = 19 THEN [CAST(0.3 AS FLOAT), 0.6, 0.9, 1.2,
                                            1.5, 1.8, 2.1, 2.4]
                          WHEN i = 20 THEN [CAST(0.0 AS FLOAT), 0.0, 0.0, 0.0,
                                            0.0, 0.0, 0.0, 0.0]
                          WHEN i = 21 THEN [CAST(0.5 AS FLOAT), -0.25, 0.75,
                                            0.5, -0.5, 0.25, 0.125, -0.125,
                                            0.375, 0.625, -0.375]
                          WHEN i = 22 THEN [CAST(0.5 AS FLOAT), NULL, 0.75,
                                            0.5, -0.5, 0.25, 0.125, -0.125]
                          ELSE list_transform(range(0, 8),
                               d -> CAST(0.1 * ((i * 7 + d * 13) % 23 - 11)
                                         AS FLOAT))
                     END AS embedding,
                     CAST(CASE WHEN i = 16 THEN 9 ELSE i % 3 END AS INT) AS label
              FROM range(23) t(i))
        TO '{dir_}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.close()


@pytest.fixture(scope="module")
def degen_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("degen_sf"))
    _build_fixture(d)
    return d


@pytest.fixture(scope="module")
def degen_duck(degen_dir):
    con = duck_views(degen_dir)
    yield con
    con.close()


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_degenerate_corpus_matches_oracle(name, spark, degen_dir, degen_duck):
    if name in EXCLUDED:
        pytest.skip(EXCLUDED[name])
    assert_matches_oracle(name, QUERIES[name](spark, degen_dir), degen_duck, ORACLES[name])


# rows-only queries (no SQL oracle by nature: sketches, learned indexes,
# driver-side eigh, media decode) — the adversarial corpus must not abort
# the JOB even though there is nothing to hash-compare. These are exactly
# the paths where one corrupt row (NULL/empty embedding, NULL media)
# historically turned into sequence(0,-1)/element_at aborts at scale.
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


def test_rows_only_queries_declared():
    """Keep the smoke sweep honest: if a new rows-only query appears it
    is automatically swept below; this pins the current census so an
    accidental oracle DELETION surfaces as a diff here too."""
    # round 9 removed sim_knn_ivf, pq1_quantized_knn AND (raw-mode)
    # ivfpq1_quantized_knn from this list: their fits moved onto the
    # distributed kmeans discipline and all three are oracle-paired now
    # (with ivfrec1/pqrec1 recall audits on top). Round 11 retired the
    # three rows-only sketch entries (approx_distinct_users,
    # approx_value_percentiles, hll1_mergeable_daily_uniques): the
    # adrec1/pxrec1/hllrec1 snapshot audits run the same sketches and
    # oracle-pair their error readouts, so only the by-nature trio
    # remains (media decode ×2, driver-side eigh).
    assert ROWS_ONLY == [
        "mm2_real_media_features",
        "mm3_resize_stats",
        "pca2_projected_knn",
    ]


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_degenerate_rows_only_queries_execute(name, spark, degen_dir):
    """Each rows-only query must EXECUTE over the adversarial corpus —
    no job abort on NULL/empty embeddings or NULL text/media — and
    return a sane, fully-materializable result (collect forces every
    column, catching lazy per-row explosions the count alone would
    miss). Row-count sanity: non-negative and bounded by a generous
    corpus-derived ceiling (these are top-k / rollup readouts, not
    row-per-input maps... except the per-row ones, hence the loose
    bound)."""
    sdf = QUERIES[name](spark, degen_dir)
    rows = sdf.collect()
    assert isinstance(rows, list)
    # generous ceiling: |embeddings| * k for per-query top-k readouts,
    # |events| for per-row passes — anything above signals a blow-up
    assert len(rows) <= 2000, f"{name}: suspicious row count {len(rows)}"
    for r in rows[:50]:
        tuple(r)  # materialize every field


def test_mixed_dimension_vectors_do_not_abort_vector_family(spark):
    """A WRONG-WIDTH vector (schema says array<float>, nothing enforces
    length) is the remaining corrupt-row class the NULL/empty fixture
    does not cover: zip_with null-pads, slices run past the end,
    sample fits land ragged matrices. Every vector-family entry point
    must degrade per-row (skip or NULL-score), never abort the job."""
    import numpy as np

    from csv_crm_upload_spark.analytics.ivf import fit_centroids, knn_ivf
    from csv_crm_upload_spark.analytics.pca import pca2_projected_knn
    from csv_crm_upload_spark.analytics.pq import (
        fit_pq_codebooks,
        pq1_quantized_knn,
    )
    from csv_crm_upload_spark.analytics.similarity import (
        knn_bruteforce,
        lsh_bucket_signature,
    )

    rows = [
        (i, [float((i * 7 + d * 13) % 23 - 11) for d in range(8)], i % 3)
        for i in range(12)
    ] + [
        (20, [1.0, 2.0], 0),          # short vector
        (21, [0.5] * 16, 1),          # long vector
        (22, None, 2),                # NULL
        (23, [], 2),                  # empty
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    # none of these may raise; bounded result sizes
    assert len(knn_bruteforce(emb, query_ids=[0, 1], k=3).collect()) <= 8
    assert lsh_bucket_signature(emb).count() >= 12
    cents = fit_centroids(emb, n_cells=2)
    assert np.isfinite(cents).all()
    assert fit_pq_codebooks(emb, m=2, k=4).shape[0] == 2
    assert pq1_quantized_knn(emb, query_ids=[0], k=3, m=2, n_codes=4).count() >= 0
    assert knn_ivf(emb, k=3, n_cells=2, nprobe=2).count() >= 0
    assert pca2_projected_knn(emb, r=2, query_ids=[0], k=3).count() >= 0


