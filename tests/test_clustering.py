"""Distributed full-corpus k-means: structural invariants + determinism
(value parity vs DuckDB is covered by the oracle suite — this op is
oracle-paired despite being iterative)."""

from __future__ import annotations

from csv_crm_upload_spark.analytics.clustering import kmeans1_topic_clusters
from csv_crm_upload_spark.sources.tables import load_table


def test_kmeans_partitions_whole_corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans1_topic_clusters(emb, k=8, iters=2).collect()
    assert 1 <= len(out) <= 8
    assert {r["cluster_id"] for r in out} <= set(range(8))
    assert sum(r["n_members"] for r in out) == emb.count()
    for r in out:
        assert -1.0 <= r["mean_sim"] <= 1.0  # unit-norm corpus: dot ∈ [-1, 1]


def test_kmeans_deterministic_across_runs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, kmeans1_topic_clusters(emb, k=4, iters=2).collect()))
    b = sorted(map(tuple, kmeans1_topic_clusters(emb, k=4, iters=2).collect()))
    assert a == b


def test_kmeans_single_cluster_degenerate(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans1_topic_clusters(emb, k=1, iters=1).collect()
    assert len(out) == 1
    assert out[0]["cluster_id"] == 0
    assert out[0]["n_members"] == emb.count()


def test_semantic_dedup_drops_planted_near_duplicate(spark, sf_dir):
    """SemDeDup on the real corpus plus a PLANTED near-exact copy of an
    existing vector: the copy (higher vec_id) must be evicted with the
    original as its witness; the real corpus (max pairwise cos ≈ 0.51)
    keeps every vector at the 0.9 default threshold."""
    from pyspark.sql import functions as F

    from csv_crm_upload_spark.analytics.clustering import sdd1_semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.orderBy("vec_id").limit(1).collect()[0]
    clone_id = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    clone = spark.createDataFrame(
        [(clone_id, [float(v) for v in src["embedding"]], src["label"])],
        schema=emb.schema,
    )
    out = sdd1_semantic_dedup(emb.unionByName(clone)).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(out) == emb.count() + 1
    assert not by_id[clone_id]["is_kept"]
    assert by_id[clone_id]["dup_of"] == src["vec_id"]
    assert by_id[src["vec_id"]]["is_kept"]
    # nobody else is evicted — the corpus has no semantic near-dups
    assert sum(0 if r["is_kept"] else 1 for r in out) == 1


def test_semantic_dedup_keeps_all_when_no_near_dups(spark, sf_dir):
    from csv_crm_upload_spark.analytics.clustering import sdd1_semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = sdd1_semantic_dedup(emb).collect()
    assert all(r["is_kept"] and r["dup_of"] is None for r in out)
    assert len(out) == emb.count()


def test_semantic_decontamination_flags_planted_leak(spark, sf_dir):
    """decon2 with a PLANTED near-copy of a benchmark (label 0) vector
    inserted as corpus (label 1): the copy is flagged with the original
    as its closest benchmark; the real corpus (max pairwise cos ~0.51)
    contributes nothing at the 0.9 threshold."""
    from pyspark.sql import functions as F

    from csv_crm_upload_spark.analytics.clustering import (
        decon2_semantic_contamination,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bench_row = emb.filter(F.col("label") == 0).orderBy("vec_id").limit(1).collect()[0]
    leak_id = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    leak = spark.createDataFrame(
        [(leak_id, [float(v) for v in bench_row["embedding"]], 1)], schema=emb.schema
    )
    out = decon2_semantic_contamination(emb.unionByName(leak)).collect()
    assert len(out) == 1
    assert out[0]["vec_id"] == leak_id
    assert out[0]["closest_benchmark"] == bench_row["vec_id"]
    assert out[0]["cos_sim"] >= 0.999999

    # clean corpus: nothing flagged
    assert decon2_semantic_contamination(emb).count() == 0


def test_mmr_skips_near_duplicate_of_selected(spark):
    """mmr1: with two near-identical high-relevance vectors, plain kNN
    ranks them 1-2; MMR must pick one of them plus the DIVERSE vector
    for pick 2 — the whole point of the marginal-relevance penalty.
    Picks are distinct and ordered by construction."""
    import numpy as np

    from csv_crm_upload_spark.analytics.similarity import (
        knn_bruteforce,
        mmr1_diversified_topk,
    )

    q = [1.0, 0.0, 0.0, 0.0]
    a = [0.8, 0.6, 0.0, 0.0]    # rel 0.8
    a2 = [0.8, 0.6, 0.0, 0.0]   # EXACT duplicate of a (sim 1.0)
    b = [0.8, -0.6, 0.0, 0.0]   # same rel 0.8, sim(a, b) = 0.28
    rows = [(0, q, 0), (1, a, 0), (2, a2, 0), (3, b, 0)]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    knn = [
        r["vec_id"]
        for r in knn_bruteforce(emb, query_ids=[0], k=2)
        .orderBy("rank")
        .collect()
    ]
    assert set(knn) == {1, 2}, "kNN takes both near-duplicates"
    out = (
        mmr1_diversified_topk(emb, query_ids=[0], pool=3, k=2)
        .orderBy("pick")
        .collect()
    )
    picks = [r["vec_id"] for r in out]
    assert picks[0] in (1, 2)
    assert picks[1] == 3, f"MMR must diversify to vector 3, got {picks}"
    assert [r["pick"] for r in out] == [1, 2]


def test_prune1_high_cardinality_label_fallback(spark):
    """prune1's label-count gate (advice r7): with |labels| > 1024 the
    ranking must fall back to the plain hash-partitioned window (the
    grouped running count's per-cell collect and the prototype
    broadcast both assume few labels) and still produce the exact
    per-label rank/keep semantics."""
    from csv_crm_upload_spark.analytics.clustering import prune1_prototype_pruning

    n_labels = 1025
    rows = []
    for lbl in range(n_labels):
        rows.append((2 * lbl, [1.0, 0.0], lbl))
        rows.append((2 * lbl + 1, [1.0, 1.0], lbl))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = prune1_prototype_pruning(emb, keep_num=1, keep_den=2).collect()
    assert len(out) == 2 * n_labels
    by_label = {}
    for r in out:
        by_label.setdefault(r["label"], []).append(r)
    assert len(by_label) == n_labels
    for lbl, rs in by_label.items():
        rs.sort(key=lambda r: r["prune_rank"])
        assert [r["prune_rank"] for r in rs] == [1, 2]
        assert all(r["n_label"] == 2 for r in rs)
        # centroid [1, .5]: [1,0] is the harder (lower-cosine) member —
        # rank 1, kept; [1,1] rank 2, pruned
        assert rs[0]["vec_id"] == 2 * lbl and rs[0]["keep"] is True
        assert rs[1]["vec_id"] == 2 * lbl + 1 and rs[1]["keep"] is False


def test_sil1_margins_nonnegative_and_fit_consistent_with_kmeans1(spark, sf_dir):
    """sil1's margin is own-centroid sim minus the best OTHER centroid's
    sim, and the own centroid IS the argmax — so every margin >= 0 and
    min <= mean per cluster. The fit is SHARED with kmeans1
    (_fitted_centroids), so cluster ids and member counts must agree
    exactly between the two readouts."""
    from pyspark.sql import functions as F

    from csv_crm_upload_spark.analytics.clustering import (
        kmeans1_topic_clusters,
        sil1_cluster_margins,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sil = {r["cluster_id"]: r for r in sil1_cluster_margins(emb).collect()}
    km = {r["cluster_id"]: r for r in kmeans1_topic_clusters(emb).collect()}
    assert set(sil) == set(km)
    for cid, r in sil.items():
        assert r["n_members"] == km[cid]["n_members"]
        assert r["min_margin"] >= 0.0
        assert r["min_margin"] <= r["mean_margin"] + 1e-9


def test_corrupt_only_corpus_degrades_to_empty_not_abort(spark):
    """A corpus with ZERO valid vectors (all NULL / empty / zero-norm /
    NULL-component) must degrade to the oracle's empty result — the
    never-abort guard — instead of the fit's first() returning None and
    the driver raising TypeError (r8 advice)."""
    from csv_crm_upload_spark.analytics.clustering import (
        kmeans_assignments,
        sil1_cluster_margins,
    )

    emb = spark.createDataFrame(
        [
            (1, None, 0),
            (2, [], 1),
            (3, [0.0, 0.0], 2),
            (4, [1.0, None], 3),
        ],
        "vec_id bigint, embedding array<float>, label int",
    )
    a = kmeans_assignments(emb, k=4, iters=2)
    assert a.columns == ["vec_id", "embedding", "cluster_id", "sim"]
    assert a.count() == 0
    assert kmeans1_topic_clusters(emb, k=4, iters=2).count() == 0
    s = sil1_cluster_margins(emb, k=4, iters=2)
    assert s.columns == ["cluster_id", "n_members", "mean_margin", "min_margin"]
    assert s.count() == 0


def test_mmd1_planted_mean_shift(spark):
    """Linear-kernel MMD² is exactly ||μ_a − μ_b||²: population B = A
    shifted by δ per dim gives mmd2 ≈ d·δ²; an identically-distributed
    pair reports ~0. Corrupt rows (NULL / zero / ragged / NULL-label)
    degrade to absence, not an abort."""
    import numpy as np

    from csv_crm_upload_spark.analytics.clustering import mmd1_embedding_drift

    rng = np.random.default_rng(5)
    d, n, delta = 16, 60, 0.5
    base = rng.normal(size=(n, d))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v], 0))
        rows.append((1000 + i, [float(x) for x in v], 1))          # clone of 0
        rows.append((2000 + i, [float(x) for x in v + delta], 2))  # shifted
    rows += [(9001, None, 0), (9002, [0.0] * d, 1), (9003, [1.0] * (d - 1), 2),
             (9004, [1.0] * d, None)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {(r["label_a"], r["label_b"]): r for r in mmd1_embedding_drift(emb).collect()}
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    assert out[(0, 1)]["mmd2"] < 1e-6                      # identical populations
    expected = d * delta * delta
    assert abs(out[(0, 2)]["mmd2"] - expected) < expected * 0.05
    assert out[(0, 2)]["n_a"] == n and out[(0, 2)]["n_b"] == n


def test_mmd1_fit_width_ignores_labels(spark):
    """The fit width comes from the first valid vector of the WHOLE
    table (the _FIT_W rule), not the first LABELED one: a min-vec_id
    valid-but-unlabeled vector of a different width must gate both
    engines to the same (empty here) row set — the r10 review's
    cross-engine divergence scenario."""
    from csv_crm_upload_spark.analytics.clustering import mmd1_embedding_drift

    emb = spark.createDataFrame(
        [(0, [1.0] * 8, None)]  # first valid vector: width 8, no label
        + [(i, [float(i), 1.0] * 8, i % 2) for i in range(1, 9)],  # width 16
        "vec_id long, embedding array<float>, label int",
    )
    # labeled rows are all width 16 != fit width 8 -> absent, both engines
    assert mmd1_embedding_drift(emb).count() == 0


def test_mmd1_degenerate_empty(spark):
    from csv_crm_upload_spark.analytics.clustering import mmd1_embedding_drift

    emb = spark.createDataFrame(
        [(0, None, 0), (1, [], 1)], "vec_id long, embedding array<float>, label int"
    )
    out = mmd1_embedding_drift(emb)
    assert out.columns == ["label_a", "label_b", "n_a", "n_b", "mmd2"]
    assert out.count() == 0
