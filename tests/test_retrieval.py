"""BM25 + hybrid retrieval semantics on hand-built corpora."""

from __future__ import annotations

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import retrieval as rtr


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_bm25_ranks_term_matches_first(spark):
    docs = _docs(
        spark,
        [
            "spark join window spark join",  # all three query terms, repeated
            "spark table scan",              # one query term
            "filter sort value",             # no query terms
            "join window batch",             # two query terms
        ],
    )
    out = rtr.bm25_search(docs, {0: ["spark", "join", "window"]}, k=10)
    rows = {r.doc_id: r for r in out.collect()}
    assert 2 not in rows, "doc with no query terms must not score"
    assert rows[0].rank == 1, "doc matching all terms most often ranks first"
    assert rows[0].bm25 > rows[3].bm25 > rows[1].bm25


def test_bm25_idf_favors_rare_terms(spark):
    # 'rare' appears in 1 of 5 docs, 'common' in all 5 — a one-term match
    # on the rare term must outscore a one-term match on the common term
    docs = _docs(
        spark,
        ["rare pad pad", "common pad pad", "common x y", "common y z", "common z x"],
    )
    out = rtr.bm25_search(docs, {0: ["rare"], 1: ["common"]}, k=1).collect()
    by_q = {r.query_id: r.bm25 for r in out}
    assert by_q[0] > by_q[1]


def test_bm25_empty_and_null_text_excluded(spark):
    docs = _docs(spark, ["spark join", "", "   "]).union(
        _docs(spark, ["x"]).selectExpr(
            "CAST(99 AS LONG) AS doc_id",
            "CAST(NULL AS STRING) AS text",
            "lang", "source", "n_chars",
        )
    )
    out = rtr.bm25_search(docs, {0: ["spark"]}, k=10).collect()
    assert [r.doc_id for r in out] == [0]


def test_query_terms_case_insensitive(spark):
    # document tokens are lowercased at index time; query terms must get
    # the identical normalization so "SPARK" finds "spark" (and a corpus
    # "Spark" is found by "spark") on every path
    docs = _docs(spark, ["Spark join window", "spark table", "filter sort"])
    out = rtr.bm25_search(docs, {0: ["SPARK"]}, k=10).collect()
    assert sorted(r.doc_id for r in out) == [0, 1]


def test_probe_during_update_sees_old_or_new_snapshot(spark, sf_dir, tmp_path):
    """A probe racing a rebuild over the live index must always see ONE
    consistent epoch — results equal to the old index or the new one,
    never new postings scored with stale df/N."""
    import threading

    from csv_crm_upload_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    part_a = docs.filter(F.col("doc_id") % 2 == 0)
    idx = str(tmp_path / "race_idx")
    rtr.save_text_index(part_a, idx, n_buckets=8)

    old = sorted(map(tuple, rtr.bm25_search_indexed(spark, idx).collect()))

    errs = []

    def updater():
        try:
            rtr.save_text_index(docs, idx, n_buckets=8)
        except Exception as e:  # surfaced below — a thread must not die silently
            errs.append(e)

    t = threading.Thread(target=updater)
    t.start()
    seen = []
    while t.is_alive():
        seen.append(sorted(map(tuple, rtr.bm25_search_indexed(spark, idx).collect())))
    t.join()
    assert not errs, errs
    new = sorted(map(tuple, rtr.bm25_search_indexed(spark, idx).collect()))
    assert new != old, "the rebuild must change results for this corpus split"
    bad = [i for i, s in enumerate(seen) if s != old and s != new]
    assert not bad, f"{len(bad)} probes saw a mixed snapshot (of {len(seen)})"
    # at least one probe ran while the rebuild was in flight
    assert len(seen) >= 1


def test_text_index_rebuild_over_live_index_is_atomic(spark, sf_dir, tmp_path):
    """save_text_index over a LIVE index advances epoch + base_epoch in
    one commit: pre-rebuild postings become invisible and results equal
    a fresh build."""
    from csv_crm_upload_spark.operators.manifest import read_manifest
    from csv_crm_upload_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "text")
    rtr.save_text_index(docs.filter(F.col("doc_id") % 2 == 0), idx, n_buckets=16)
    rtr.save_text_index(docs, idx, n_buckets=16)  # rebuild over live
    m = read_manifest(idx)
    assert m["epoch"] == 1 and m["base_epoch"] == 1
    got = sorted(map(tuple, rtr.bm25_search_indexed(spark, idx).collect()))
    assert got == sorted(map(tuple, rtr.bm25_search(docs).collect()))
    stats = spark.read.parquet(f"{idx}/stats/epoch=1").first()
    assert stats["n_docs"] == docs.filter(F.col("text").isNotNull()).count()


def test_hybrid_blend_bounded_and_ranked(spark):
    docs = _docs(
        spark,
        ["spark join spark join", "spark table scan filter", "window table scan x", "scan filter join y"],
    )
    embeddings = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 0),
            (1, [0.9, 0.1, 0.0], 0),
            (2, [0.0, 1.0, 0.0], 1),
            (3, [0.0, 0.0, 1.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = rtr.hybrid_search(docs, embeddings, {0: ["spark", "join"]}, k=3).collect()
    assert len(out) == 3
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3]
    for r in out:
        assert 0.0 <= r.blend <= 1.0
        assert -1.0 <= r.cos_sim <= 1.0
    # doc 0 matches both terms AND its vector is the query vector itself
    assert sorted(out, key=lambda r: r.rank)[0].doc_id == 0


def test_bm25_query_join_broadcasts(spark):
    docs = _docs(spark, ["spark join window"] * 8)
    plan = rtr.bm25_search(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "query-term join must broadcast, not shuffle"


def test_indexed_bm25_matches_inline_and_prunes_partitions(spark, sf_dir, tmp_path):
    from csv_crm_upload_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "text_index")
    rtr.save_text_index(docs, idx, n_buckets=16)

    inline = rtr.bm25_search(docs).collect()
    indexed_df = rtr.bm25_search_indexed(spark, idx)
    indexed = indexed_df.collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(map(tuple, indexed), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, inline), key=lambda t: (t[0], t[3])
    ), "indexed search must equal the inline corpus pass"

    # the probe must read only the buckets the query terms hash into —
    # partition pruning visible in the scan node
    indexed_df.collect()
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    import re as _re

    m = _re.search(r"PartitionFilters: \[[^\]]*tok_bucket#\d+ IN \(([^)]*)\)", plan)
    assert m, f"no partition filter on tok_bucket:\n{plan[:1500]}"
    assert len(m.group(1).split(",")) < 16, "probe read every bucket — pruning failed"


def test_tfidf_indexed_equals_fresh_recomputation(spark, sf_dir, tmp_path):
    """tfidf_indexed_top_terms over a built index must equal recomputing
    tf·round(log2(N/df),9) from the index's own frame builders on the
    same corpus."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import csv_crm_upload_spark.analytics.retrieval as rtr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def expected(corpus):
        tf = rtr._tf_frame(corpus).select("doc_id", "tok", "tf")
        df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        stats = rtr._corpus_stats(corpus).select(
            F.col("n_docs").cast("double").alias("n_docs")
        )
        idf = F.round(F.log2(F.col("n_docs") / F.col("df").cast("double")), 9)
        scored = (
            tf.join(df, "tok")
            .crossJoin(F.broadcast(stats))
            .select(
                "doc_id", F.col("tok").alias("term"),
                (F.col("tf").cast("double") * idf).alias("score"),
            )
        )
        w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
        return (
            scored.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= 3)
            .select("doc_id", "term", "score", "rnk")
        )

    full = str(tmp_path / "tfidf_full")
    rtr.save_text_index(docs, full, n_buckets=16)
    got = sorted(tuple(r) for r in rtr.tfidf_indexed_top_terms(spark, full).collect())
    want = sorted(tuple(r) for r in expected(docs).collect())
    assert got == want


def test_ndcg1_perfect_ranking_scores_one(spark):
    """A corpus where BM25's order coincides with the grade order: the
    both-terms doc leads and the two one-term docs follow (their mutual
    order is grade-irrelevant), so DCG's term multiset equals IDCG's
    and ndcg == 1.0 exactly; rr == 1.0 (the best-grade doc is rank 1);
    the zero-match doc never appears in the grades; a no-match query
    emits NO row."""
    docs = _docs(
        spark,
        [
            "alpha beta filler",      # rel 2 — both terms
            "alpha filler pad",       # rel 1
            "beta beta beta pad",     # rel 1 (distinct-term grade, not tf)
            "other words only",       # rel 0 — absent from grades
        ],
    )
    out = rtr.ndcg1_retrieval_quality(
        docs, {0: ["alpha", "beta"], 1: ["zzz"]}, k=10
    ).collect()
    assert [r["query_id"] for r in out] == [0]  # q1 matched nothing
    r = out[0]
    assert r["n_graded"] == 3 and r["max_rel"] == 2
    # DCG = 3/log2(2) + 1/log2(3) + 1/log2(4) = 3 + 0.630930 + 0.5
    assert abs(r["dcg"] - 4.13093) < 1e-5
    assert r["ndcg"] == 1.0 and r["rr"] == 1.0
    assert r["dcg"] == r["idcg"]


def test_ndcg1_rr_tracks_first_best_grade_hit(spark):
    """rr must point at the first TOP-GRADE doc in the BM25 order, not
    the first retrieved doc — consistency is pinned against the public
    bm25_search ranking so the test can't drift from the scorer."""
    docs = _docs(
        spark,
        [
            "gamma " + "pad" + " filler" * 150,  # rel 1, buried by length
            "gamma delta " + "x y z " * 120,     # rel 2 (max), long
            "gamma gamma gamma gamma",           # rel 1, short and saturated
        ],
    )
    q = {0: ["gamma", "delta"]}
    audit = rtr.ndcg1_retrieval_quality(docs, q, k=10).first()
    ranking = rtr.bm25_search(docs, q, k=10).collect()
    rel = {0: 1, 1: 2, 2: 1}
    best_rank = min(r["rank"] for r in ranking if rel[r["doc_id"]] == 2)
    assert audit["rr"] == round(1.0 / best_rank, 6)
    assert audit["max_rel"] == 2 and audit["n_graded"] == 3
    assert 0.0 < audit["ndcg"] <= 1.0


def test_ndcg1_empty_inputs(spark):
    assert rtr.ndcg1_retrieval_quality(_docs(spark, []), {0: ["x"]}).count() == 0
    assert rtr.ndcg1_retrieval_quality(_docs(spark, ["a b c"]), {}).count() == 0


def test_rbo1_agreement_bounds_and_self_identity(spark):
    """Agreement semantics: when the hybrid stage cannot change the
    order (no query vectors -> empty hybrid side), agreement is 0 with
    n_b = 0; when both rankings are computed over the same corpus the
    readouts stay in [0, 1] and AO == 1 exactly iff the top-k sets AND
    prefixes coincide at full depth k; two IDENTICAL 3-item rankings
    score (1 + 1 + 1 + 3/4 + 3/5)/5 = 0.87 — the fixed-depth-k
    denominator penalizes short result lists by design."""
    from pyspark.sql import Row

    docs = _docs(
        spark,
        [
            "spark join window spark",
            "spark table join",
            "join window batch",
            "filter sort value",
        ],
    )
    q = {0: ["spark", "join"]}
    # no embeddings at all -> hybrid side empty
    no_vecs = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    r = rtr.rbo1_rank_agreement(docs, no_vecs, q, k=5).first()
    assert r["n_a"] > 0 and r["n_b"] == 0
    assert r["n_common"] == 0 and r["jaccard_k"] == 0.0 and r["avg_overlap"] == 0.0

    # identical aligned embeddings -> cosine re-rank is a tie -> blend
    # falls back to bm25-normalized order; agreement readouts bounded
    vecs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[1.0, 0.0], label=0) for i in range(4)]
    )
    out = {row["query_id"]: row for row in rtr.rbo1_rank_agreement(docs, vecs, q, k=5).collect()}
    row = out[0]
    assert 0.0 <= row["jaccard_k"] <= 1.0 and 0.0 <= row["avg_overlap"] <= 1.0
    a = {r2["doc_id"]: r2["rank"] for r2 in rtr.bm25_search(docs, q, k=5).collect()}
    b = {r2["doc_id"]: r2["rank"] for r2 in rtr.hybrid_search(docs, vecs, q, k=5).collect()}
    assert row["n_common"] == len(set(a) & set(b))
    if a == b:
        assert row["jaccard_k"] == 1.0
        if len(a) == 5:
            assert row["avg_overlap"] == 1.0
        elif len(a) == 3:
            assert row["avg_overlap"] == 0.87  # (1+1+1+3/4+3/5)/5
