"""Distributed full-corpus k-means over the embeddings table — the
topic-clustering step of a training-data pipeline (slice a corpus by
embedding neighborhood, budget per topic, spot mode collapse), and the
fit that (since round 9) ALSO serves as ivf.fit_centroids' coarse
quantizer — one Lloyd's discipline across the clustering and ANN
families.

Canonical Spark k-means shape (what MLlib does under the hood):
  * centroids live on the DRIVER as a k-row list (bounded — the
    sanctioned scalar-per-iteration pattern of pr1/d_dup_clusters) and
    ride into the assignment stage's closure;
  * ASSIGNMENT is map-only: per row, argmax over k dot products in one
    Arrow stage (arrowquant.assign_arrow) — no shuffle, no crossJoin
    blowup;
  * RECOMPUTE is one map-side-combining groupBy per iteration carrying
    k rows of (count, 64 decimal sums) — the shuffle moves k rows per
    partition, not the corpus.
At 100 TB each iteration is one corpus scan + one tiny shuffle;
iteration count is fixed (training-pipeline k-means runs a handful of
rounds, not to convergence).

Cross-engine determinism (this op is ORACLE-PAIRED, unusual for an
iterative algorithm — the DuckDB oracle unrolls the same fixed
iterations as CTEs):
  * similarity = dot product ROUNDED to 6 dp before argmax; ties break
    to the lowest cluster_id (array_position takes the FIRST max ≡
    ORDER BY sim DESC, cluster_id);
  * init centroids = the first k vectors by vec_id (pure function of
    the data, no RNG);
  * centroid recompute = per-dim DECIMAL(28,12) sums cast to double,
    divided by the member count, F.round-ed to 12 dp IN THE PLAN (both
    engines use half-away-from-zero rounding) before collection;
  * empty clusters drop out identically in both engines (assignment
    only considers surviving centroids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.ordered import running


def kmeans_assignments(
    embeddings: DataFrame, k: int = 8, iters: int = 2
) -> DataFrame:
    """(vec_id, embedding, cluster_id, sim) after `iters` fixed Lloyd's
    rounds from the deterministic first-k-by-vec_id init — the shared
    assignment core behind kmeans1_topic_clusters (cohesion readout) and
    sdd1_semantic_dedup (SemDeDup's cluster-then-prune).

    Width bound (deliberate): the per-round mean recompute emits `dim`
    aggregate expressions, which is fine at embedding widths like the
    testdata's 64 but becomes codegen pressure past ~1k dims. The
    wide-dim rewrite — posexplode + groupBy(cluster_id, dim) — trades
    that for a row-count blowup AND would break this operator's DuckDB
    oracle (an unrolled per-dim CTE), so the per-dim-expression shape is
    kept; treat ~1k dims as the documented ceiling of the oracle-paired
    path.

    NULL/zero-length vectors are EXCLUDED up front (mirrored by the
    oracle's WHERE): one corrupt row must degrade to a skipped vector,
    not an ANSI element_at job abort across the fleet — the per-dim
    mean recompute indexes embedding[d+1] directly."""
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    embeddings = valid_vectors(embeddings)
    # the fit is defined over the FIT WIDTH — the MIN-vec_id valid
    # vector's, matching the oracle's ORDER BY vec_id LIMIT 1 (a bare
    # .first() is partition order, which diverges on multi-file scans):
    # a ragged row would dot against centroids as NULL in Spark
    # (zip_with pads) but as a PARTIAL sum in DuckDB (list_sum skips
    # out-of-range NULLs) — exclusion is the only stable cross-engine
    # semantics (round-8 property fuzzer)
    fit_row = embeddings.orderBy("vec_id").select("embedding").first()
    if fit_row is None:
        # corrupt-only corpus: zero valid vectors. The oracle returns an
        # empty result; degrading to the same empty frame (instead of
        # indexing into None and aborting the job) is this operator's
        # documented never-abort guard (r8 advice).
        return embeddings.select(
            "vec_id",
            "embedding",
            F.lit(None).cast("int").alias("cluster_id"),
            F.lit(None).cast("double").alias("sim"),
        )
    dim = len(fit_row["embedding"])
    # fan the fit-width corpus out before the per-row k×d scoring work
    # (guide §2.5: the single-row-group testdata scan plans ONE task);
    # no-op at scale, shared by every Lloyd's round and the final assign
    from csv_crm_upload_spark.analytics.fanout import fan_out

    embeddings = fan_out(embeddings.filter(F.size("embedding") == dim))
    cent = _fitted_centroids(embeddings, k, iters, dim)
    # Arrow-native: bit-identical to the expression-form _assign
    # (tests/_quantizer_reference.py, pinned by tests/test_arrowquant.py) without the k×dim literal tree's
    # per-call construction/analysis/codegen cost (guide §4.2)
    from csv_crm_upload_spark.analytics.arrowquant import assign_arrow

    return assign_arrow(embeddings, cent)


def _fitted_centroids(
    valid_embeddings: DataFrame, k: int, iters: int, dim: int
) -> list[tuple[int, list[float]]]:
    """Fit-memoized front door for _fitted_centroids_impl: the fit is
    bit-deterministic (first-k-by-vec_id init, fixed rounds, order-free
    decimal sums) and its value is a bounded k×d driver list, so the
    kmeans family (kmeans1/sil1/sdd1/pur1/…) rides the same
    process-scoped memo discipline as the ANN/PCA fits (fitmemo.py) —
    a repeat caller on the same corpus reuses the centroid list instead
    of re-running Lloyd's."""
    from csv_crm_upload_spark.analytics.fitmemo import memo_fit

    return memo_fit(
        "kmeans_centroids",
        valid_embeddings,
        (k, iters, dim),
        lambda: _fitted_centroids_impl(valid_embeddings, k, iters, dim),
    )


def _fitted_centroids_impl(
    valid_embeddings: DataFrame,
    k: int,
    iters: int,
    dim: int,
    init_cent: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """The (cluster_id, centroid) list after iters-1 Lloyd's updates
    from the deterministic first-k-by-vec_id init — the state the FINAL
    assignment pass scores against. Shared by kmeans_assignments and
    sil1_cluster_margins so both readouts see the identical fit.
    `init_cent` lets a caller that already collected the first-k rows
    (ivf.fit_centroids' merged width probe) skip the init job — it must
    be exactly what the query below would return."""
    if init_cent is not None:
        cent: list[tuple[int, list[float]]] = init_cent
    else:
        init_rows = (
            valid_embeddings.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(k)
            .collect()
        )
        # (cluster_id, centroid) — cluster ids are the 0-based init order
        cent = [
            (i, [float(v) for v in r["embedding"]]) for i, r in enumerate(init_rows)
        ]
    from csv_crm_upload_spark.analytics.arrowquant import assign_arrow

    for _ in range(iters - 1):
        # Arrow-native assignment (≡ tests/_quantizer_reference._assign):
        # the per-round k×dim literal tree was the fit's dominant
        # driver-side cost (construction + analysis + codegen per round)
        assigned = assign_arrow(valid_embeddings, cent)
        # recompute: per-dim decimal-exact means, rounded IN THE PLAN
        # (F.round half-away-from-zero == DuckDB round) before the
        # bounded k-row collect
        sums = [
            F.round(
                F.sum(
                    F.element_at("embedding", d + 1).cast("double").cast("decimal(28,12)")
                ).cast("double")
                / F.count(F.lit(1)),
                12,
            ).alias(f"m_{d}")
            for d in range(dim)
        ]
        rows = assigned.groupBy("cluster_id").agg(*sums).collect()
        cent = sorted(
            (int(r["cluster_id"]), [r[f"m_{d}"] for d in range(dim)]) for r in rows
        )
    return cent


def kmeans1_topic_clusters(
    embeddings: DataFrame, k: int = 8, iters: int = 2
) -> DataFrame:
    """(cluster_id, n_members, mean_sim) after `iters` fixed Lloyd's
    rounds — mean_sim is the average (6-dp rounded) dot product of
    members to their assigned centroid, the cluster-cohesion readout.
    Assignment core (and its determinism pivots): kmeans_assignments."""
    # mean via EXACT micro-unit integers, divided WITHOUT a final round:
    # sims are 6-dp, so sim·1e6 rounds to an exact BIGINT in both
    # engines, and (sum/count)/1e6 is two IEEE divisions on identical
    # operands — bit-identical cross-engine. A round(sum_decimal/count,
    # 6) here can land EXACTLY on a half-way point (6-dp grid divided by
    # a small count), where Spark's HALF_UP and DuckDB's double rounding
    # disagree — the round-8 property fuzzer caught sil1's twin doing it
    return (
        kmeans_assignments(embeddings, k, iters)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            (
                F.sum(F.round(F.col("sim") * F.lit(1000000.0), 0).cast("long"))
                .cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0)
            ).alias("mean_sim"),
        )
        .orderBy("cluster_id")
    )


def sil1_cluster_margins(
    embeddings: DataFrame, k: int = 8, iters: int = 2
) -> DataFrame:
    """Cluster-separation audit of the kmeans1 fit — per cluster: member
    count, mean and min ASSIGNMENT MARGIN (own-centroid similarity minus
    the best OTHER centroid's similarity; the simplified-silhouette
    analog under kmeans1's dot-product geometry). Near-zero margins mark
    boundary vectors (ambiguous topics, k set too high); a cluster whose
    MEAN margin is near zero is indistinguishable from a neighbor —
    the fold-the-clusters signal a corpus-budgeting pipeline reads
    before trusting kmeans1's topic slices.

    Determinism: the margin is a difference of two 6-dp-rounded sims
    from the SAME _fitted_centroids state kmeans1 scores against
    (refactor-shared, not re-derived); second-best = element 2 of the
    descending-sorted sim array, which under ties equals the max —
    margin 0, identically in both engines (the oracle's rn=2 ordered by
    sim DESC alone). Scale shape: the fit is kmeans1's (iters-1 corpus
    scans + k-row collects); the readout is ONE map-only pass + ONE
    ≤k-group agg. Guards: a single-centroid fit (corpus smaller than 2
    valid vectors) yields NULL margins, never an out-of-bounds abort."""
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    emb = valid_vectors(embeddings)
    # min-vec_id row's width ≡ the oracle's _FIT_W (see kmeans_assignments)
    fit_row = emb.orderBy("vec_id").select("embedding").first()
    if fit_row is None:
        # zero valid vectors: degrade to the oracle's empty result (emb
        # is already empty here) instead of indexing None (r8 advice)
        return emb.select(
            F.lit(None).cast("int").alias("cluster_id"),
            F.lit(None).cast("bigint").alias("n_members"),
            F.lit(None).cast("double").alias("mean_margin"),
            F.lit(None).cast("double").alias("min_margin"),
        )
    dim = len(fit_row["embedding"])
    from csv_crm_upload_spark.analytics.fanout import fan_out

    # fit-width rows only; fanned out for the same reason as
    # kmeans_assignments (single-task scan → per-row k×d scoring)
    emb = fan_out(emb.filter(F.size("embedding") == dim))
    cent = _fitted_centroids(emb, k, iters, dim)
    if len(cent) >= 2:
        # Arrow-native margins (≡ the sims/desc/second expression tail —
        # tests/test_arrowquant.py), dropping the per-call k×dim literal
        # tree like kmeans_assignments did (round 13)
        from csv_crm_upload_spark.analytics.arrowquant import margins_arrow

        scored = margins_arrow(emb, cent)
    else:
        # singleton fit: cluster_id is the lone centroid's id and the
        # second-best sim does not exist → NULL margin (the pre-r13
        # expression's F.when(size(desc) >= 2, ...) branch)
        scored = emb.select(
            F.lit(cent[0][0]).cast("int").alias("cluster_id"),
            F.lit(None).cast("double").alias("margin"),
        )
    # exact micro-unit mean — see kmeans1_topic_clusters: a post-division
    # round(…, 6) lands on half-way points where the engines disagree
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            (
                F.sum(F.round(F.col("margin") * F.lit(1000000.0), 0).cast("long"))
                .cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0)
            ).alias("mean_margin"),
            F.min("margin").alias("min_margin"),
        )
        .orderBy("cluster_id")
    )


def _sdd1_plan(
    embeddings: DataFrame, k: int = 8, iters: int = 2, threshold: float = 0.9
) -> tuple[DataFrame, DataFrame]:
    """The LAZY SemDeDup plan plus the persisted assignment handle the
    caller must release after materializing. Split out so the
    shuffle-budget audit (tests/test_plan_quality.py) can inspect the
    real plan — the public sdd1_semantic_dedup materializes eagerly,
    which collapses its returned plan to a checkpoint scan."""
    from csv_crm_upload_spark.analytics.similarity import _dot, _norm

    # persisted: the pair join consumes the assignment twice and the
    # final left join a third time — uncached, the full map-only argmax
    # pass over the corpus would run three times. Norms are hoisted to
    # a per-VECTOR column below the join (knn_bruteforce's trick): the
    # per-PAIR expression is one dot product, not dot + two norms —
    # same expression tree as cosine(), so bit-identical to the oracle.
    assigned = kmeans_assignments(embeddings, k, iters).select(
        "vec_id",
        "embedding",
        "cluster_id",
        _norm(F.col("embedding")).alias("nrm"),
    ).persist()
    a = assigned.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "cluster_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        "cluster_id",
    )
    pair_cos = _dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    witnesses = (
        a.join(b, "cluster_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", F.round(pair_cos, 6))
        .filter(F.col("cos_sim") >= threshold)
        .groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.min("vec_a").alias("dup_of"))
    )
    out = (
        assigned.join(witnesses, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("dup_of").isNull().alias("is_kept"),
            "dup_of",
        )
        .orderBy("vec_id")
    )
    return out, assigned


def sdd1_semantic_dedup(
    embeddings: DataFrame, k: int = 8, iters: int = 2, threshold: float = 0.9
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication by cluster-then-prune: k-means the corpus embeddings,
    then WITHIN each cluster drop any vector that has a cosine-similar
    (>= threshold) neighbor with a lower vec_id. Catches paraphrase-level
    duplication that exact/MinHash text dedup cannot see; the published
    method's "keep one per semantic neighborhood" with a deterministic
    keeper (lowest vec_id; the paper keeps the centroid-farthest —
    equally arbitrary, but id-ordering is engine-stable and oracle-able).

    Output: one row per vector — (vec_id, cluster_id, is_kept, dup_of)
    where dup_of is the lowest-id witness that evicted it (NULL if kept).
    EAGER: the result materializes via localCheckpoint before the
    assignment cache releases (the pair join consumes the assignment
    twice and the final left join a third time — uncached, the full
    map-only argmax pass would run three times); the lazy plan audited
    by the budget test lives in _sdd1_plan.

    Scale shape: the quadratic pair space is bounded to SAME-CLUSTER
    pairs — one shuffle on cluster_id, never an all-pairs join; in
    production k grows ∝ corpus size so the per-cluster candidate set
    stays constant (the paper's own scaling argument). Assignment is the
    map-only broadcast-centroid pass of kmeans_assignments; per-vector
    norms are hoisted below the pair join (knn_bruteforce's trick) so
    the per-pair expression is one dot product; cosine is 6-dp rounded
    before the threshold so the keep set is engine-exact."""
    out, assigned = _sdd1_plan(embeddings, k, iters, threshold)
    out = out.localCheckpoint(eager=True)
    assigned.unpersist()
    return out


def drift2_label_centroid_drift(embeddings: DataFrame) -> DataFrame:
    """Per-group embedding-centroid drift — the representation-space
    cousin of drift1's token-distribution KL: for each label group, the
    cosine between ITS centroid and the GLOBAL centroid (how far each
    slice's mean representation sits from the corpus mean — the cheap
    embedding-health monitor for a growing multi-source corpus).

    Cross-engine exactness (the kmeans/ppl1 decimal discipline):
    components round to 9 dp then DECIMAL-sum per (label, dim) — order
    free — centroid components are one identical double division
    rounded to 9 dp, and the cosine's 64 per-dim products round to
    12 dp into DECIMAL(38,12) sums before the final double formula.

    Scale shape: posexplode rides the scan; ONE combining shuffle on
    (label, dim) builds every per-label centroid; the global centroid
    is the same partials re-combined (dims × labels rows — tiny) and
    broadcasts back; the readout is labels rows."""
    from csv_crm_upload_spark.analytics.fanout import fan_out

    comp = fan_out(embeddings).select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "v")
    ).select(
        "label",
        "dim",
        F.round(F.col("v").cast("double"), 9).cast("decimal(28,9)").alias("v9"),
    )
    per = comp.groupBy("label", "dim").agg(
        F.sum("v9").alias("s"), F.count(F.lit(1)).alias("n")
    )
    glob = per.groupBy("dim").agg(F.sum("s").alias("gs"), F.sum("n").alias("gn"))
    lc = F.round(F.col("s").cast("double") / F.col("n"), 9)
    gc = F.round(F.col("gs").cast("double") / F.col("gn"), 9)
    terms = per.join(F.broadcast(glob), "dim").select(
        "label",
        "n",
        F.round(lc * gc, 12).cast("decimal(38,12)").alias("xy"),
        F.round(lc * lc, 12).cast("decimal(38,12)").alias("xx"),
        F.round(gc * gc, 12).cast("decimal(38,12)").alias("yy"),
    )
    agg = terms.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
        F.sum("yy").alias("syy"),
    )
    cos = F.round(
        F.col("sxy").cast("double")
        / (F.sqrt(F.col("sxx").cast("double")) * F.sqrt(F.col("syy").cast("double"))),
        6,
    )
    return agg.select(
        "label", "n_vectors", (cos + F.lit(0.0)).alias("cos_to_global")
    ).orderBy(
        "label"
    )


def mmd1_embedding_drift(embeddings: DataFrame) -> DataFrame:
    """Pairwise linear-kernel Maximum Mean Discrepancy between every
    pair of label populations — the two-sample test of the drift family
    lifted into REPRESENTATION space: where ks1/w1d1/cvm1 compare two
    scalar distributions and drift2 scores each slice against the
    global centroid, MMD² with the linear kernel k(x,y)=x·y reduces
    EXACTLY to ||μ_a − μ_b||² (Gretton et al. 2012, eq. 5 — the kernel
    mean embedding collapses to the ordinary mean), so the pairwise
    drift matrix costs one combining aggregation, never a pairwise
    corpus join. A rising mmd2 between two sources/snapshots is the
    embedding-health alarm that fires BEFORE downstream models notice.

    Cross-engine exactness (drift2's decimal discipline): components
    round to 9 dp and DECIMAL-sum per (label, dim) — order-free; each
    mean is one identical double division rounded to 9 dp; per-dim
    squared differences round to 12 dp into DECIMAL(38,12) sums (again
    order-free), and the readout is one 6-dp double round.

    Scale shape: posexplode rides the scan; ONE combining shuffle on
    (label, dim) reduces 100 TB to |labels|·d rows; the pairwise stage
    is a self-join of THAT tiny table (|labels|²·d rows at most — the
    js1 bounded-pairs convention). Rows are gated to valid vectors of
    the corpus fit width (the kmeans _FIT_W discipline): a ragged or
    corrupt vector degrades to absence, never a truncated dim join."""
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    out_schema = (
        "label_a int, label_b int, n_a long, n_b long, mmd2 double"
    )
    # fit width from the first valid vector of the WHOLE table (the
    # _FIT_W rule all kmeans-family fits share — NOT the first labeled
    # one: the oracle's width subquery has no label filter, and a
    # min-vec_id valid-but-unlabeled vector of a different width would
    # otherwise gate the two engines to different row sets)
    first = (
        valid_vectors(embeddings)
        .orderBy("vec_id")
        .select(F.size("embedding").alias("d"))
        .first()
    )
    if first is None:
        return embeddings.sparkSession.createDataFrame([], out_schema)
    from csv_crm_upload_spark.analytics.fanout import fan_out

    gated = fan_out(
        valid_vectors(embeddings)
        .filter(F.col("label").isNotNull())
        .filter(F.size("embedding") == first["d"])
    )
    per = (
        gated.select("label", F.posexplode(F.col("embedding")).alias("dim", "v"))
        .select(
            "label",
            "dim",
            F.round(F.col("v").cast("double"), 9).cast("decimal(28,9)").alias("v9"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("v9").alias("s"), F.count(F.lit(1)).alias("n"))
        # materialize the |labels|·d-row reduction ONCE: both sides of
        # the pairwise self-join read it, and without the pin each side
        # would re-run the full corpus scan+agg (the kmeans1/sil1
        # construction-job sanction; bounded rows)
        .localCheckpoint(eager=True)
    )
    pa = per.select(
        F.col("label").alias("label_a"), "dim",
        F.col("s").alias("sa"), F.col("n").alias("na"),
    )
    pb = per.select(
        F.col("label").alias("label_b"), "dim",
        F.col("s").alias("sb"), F.col("n").alias("nb"),
    )
    ma = F.round(F.col("sa").cast("double") / F.col("na"), 9)
    mb = F.round(F.col("sb").cast("double") / F.col("nb"), 9)
    terms = (
        # pb is the already-reduced (label, dim) table — |labels|·d rows,
        # provably bounded — so the pairwise stage broadcasts it instead
        # of re-exchanging both sides on dim
        pa.join(F.broadcast(pb), "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .select(
            "label_a", "label_b", "na", "nb",
            F.round((ma - mb) * (ma - mb), 12).cast("decimal(38,12)").alias("t"),
        )
    )
    return (
        terms.groupBy("label_a", "label_b")
        .agg(
            F.max("na").cast("long").alias("n_a"),
            F.max("nb").cast("long").alias("n_b"),
            F.round(F.sum("t").cast("double"), 6).alias("mmd2"),
        )
        .orderBy("label_a", "label_b")
    )


def decon2_semantic_contamination(
    embeddings: DataFrame, threshold: float = 0.9, benchmark_label: int = 0
) -> DataFrame:
    """Semantic decontamination — the embedding-level cousin of decon1's
    13-gram overlap audit: flag corpus vectors whose cosine similarity
    to ANY benchmark vector reaches the threshold (paraphrased eval
    leakage that n-gram matching cannot see; SemDeDup's machinery aimed
    across corpora instead of within one). The benchmark here is the
    label==`benchmark_label` slice of the embeddings table (standing in
    for a real eval set's embeddings).

    Output: (vec_id, closest_benchmark, cos_sim) — one row per
    CONTAMINATED corpus vector with its nearest flagging benchmark
    (max cos, ties to lowest benchmark id).

    Scale shape: benchmarks do NOT grow with the corpus (decon1's own
    sanctioned-broadcast argument), so this is a broadcast join riding
    the corpus scan — map-only per corpus vector, no shuffle until the
    tiny per-vector argmax combine; per-vector norms hoisted below the
    join."""
    from csv_crm_upload_spark.analytics.similarity import _dot, _norm, valid_vectors

    bench = valid_vectors(
        embeddings.filter(F.col("label") == benchmark_label)
    ).select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("bench_emb"),
        _norm(F.col("embedding")).alias("bench_nrm"),
    )
    corpus = valid_vectors(
        embeddings.filter(F.col("label") != benchmark_label)
    ).select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    cos = F.round(
        _dot(F.col("embedding"), F.col("bench_emb"))
        / (F.col("nrm") * F.col("bench_nrm")),
        6,
    )
    hits = (
        corpus.crossJoin(F.broadcast(bench))
        # ragged pairs excluded, not NULL-scored (knn_bruteforce)
        .filter(F.size("embedding") == F.size("bench_emb"))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
    )
    best = F.max(F.struct(F.col("cos_sim"), (-F.col("bench_id")).alias("neg_id")))
    return (
        hits.groupBy("vec_id")
        .agg(best.alias("b"))
        .select(
            "vec_id",
            (-F.col("b.neg_id")).cast("bigint").alias("closest_benchmark"),
            F.col("b.cos_sim").alias("cos_sim"),
        )
        .orderBy("vec_id")
    )


def prune1_prototype_pruning(
    embeddings: DataFrame, keep_num: int = 1, keep_den: int = 4
) -> DataFrame:
    """SSL-prototype data pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws: beating power law scaling via data pruning",
    arXiv:2206.14486): score every vector by its cosine to its OWN
    group's prototype (the label centroid — the paper's k-means
    prototype, here the label structure the table already carries), and
    keep the HARDEST keep_num/keep_den fraction per group — the
    far-from-prototype examples the paper shows matter most in the
    abundant-data regime. Output per surviving-score vector:
    (vec_id, label, cos_to_prototype, prune_rank, n_label, keep).

    Determinism (drift2's decimal discipline end-to-end): components
    round to 9 dp into DECIMAL(28,9) per-(label,dim) sums; centroid
    components are one double division rounded to 9 dp; the per-vector
    cosine terms round to 12 dp into DECIMAL(38,12) order-free sums and
    the final cosine rounds to 6 dp (+0.0 signed-zero guard). Zero-norm
    sides (all-zero vector or degenerate centroid) are EXCLUDED
    identically in both engines (the zipf1/corr1 0/0 rule). The keep
    test is pure integer arithmetic — prune_rank · keep_den <=
    n_label · keep_num — no float threshold to disagree on. NULL/empty
    embeddings vanish in the posexplode exactly as the oracle's UNNEST
    over range(len) does; NULL labels survive via null-safe keys.

    Plan at 100 TB: posexplode rides the scan; ONE combining shuffle on
    (label, dim) builds every prototype (labels × dims rows); per-vector
    cosine is one combining agg keyed by vec_id. The ranking strategy is
    CARDINALITY-ADAPTIVE (advice r7 — nothing bounds |labels| for a real
    corpus): a cheap label-count scan picks between
    a grouped `ordered.running` count (few labels: group-prefixed range
    partitioning + per-cell offsets — no per-label single-task window,
    driver data partitions · |labels| cells) and the plain hash-partitioned
    window (many labels: each partition is small, Spark's own windowing
    is the scale-correct plan, and neither the broadcast prototype join
    nor the cell-count collect would survive |labels| → corpus-order).
    The two plans are value-identical — same order keys, same tiebreak.
    Reference has no embedding surface; this extends the training-ops
    mandate (SURVEY.md §2 addendum)."""
    # one-column scan; the 1024 cut matches a grouped running count's
    # own contract (low-cardinality groups) and keeps the prototype
    # broadcast (|labels| · dims rows) comfortably under task memory
    n_labels = embeddings.select("label").distinct().count()
    low_card = n_labels <= 1024

    comp = embeddings.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("dim", "v")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("v").cast("double"), 9).cast("decimal(28,9)").alias("v9"),
    )
    per = comp.groupBy("label", "dim").agg(
        F.sum("v9").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cc = F.round(F.col("s").cast("double") / F.col("n"), 9)
    proto = per.select(
        F.col("label").alias("p_label"), F.col("dim").alias("p_dim"), cc.alias("cc")
    )
    v9d = F.col("v9").cast("double")
    proto_side = F.broadcast(proto) if low_card else proto
    terms = comp.join(
        proto_side,
        comp["label"].eqNullSafe(proto["p_label"]) & (comp["dim"] == proto["p_dim"]),
    ).select(
        "vec_id",
        "label",
        F.round(v9d * F.col("cc"), 12).cast("decimal(38,12)").alias("xy"),
        F.round(v9d * v9d, 12).cast("decimal(38,12)").alias("xx"),
        F.round(F.col("cc") * F.col("cc"), 12).cast("decimal(38,12)").alias("yy"),
    )
    agg = terms.groupBy("vec_id", "label").agg(
        F.sum("xy").alias("sxy"), F.sum("xx").alias("sxx"), F.sum("yy").alias("syy")
    )
    cos6 = F.round(
        F.col("sxy").cast("double")
        / (F.sqrt(F.col("sxx").cast("double")) * F.sqrt(F.col("syy").cast("double"))),
        6,
    )
    scored = (
        agg.filter((F.col("sxx") > 0) & (F.col("syy") > 0))
        .select("vec_id", "label", (cos6 + F.lit(0.0)).alias("cos_to_prototype"))
    )
    if low_card:
        ranked, _ = running(
            scored,
            ["cos_to_prototype", "vec_id"],
            {"prune_rank": ("count", None)},
            ["label"],
        )
        ranked = ranked.withColumnRenamed("prune_rank_total", "n_label")
    else:
        from pyspark.sql import Window

        w = Window.partitionBy("label").orderBy("cos_to_prototype", "vec_id")
        ranked = scored.withColumn(
            "prune_rank", F.row_number().over(w)
        ).withColumn(
            "n_label", F.count(F.lit(1)).over(Window.partitionBy("label"))
        )
    return ranked.select(
        "vec_id",
        "label",
        "cos_to_prototype",
        "prune_rank",
        F.col("n_label").cast("long").alias("n_label"),
        (
            F.col("prune_rank") * F.lit(keep_den)
            <= F.col("n_label") * F.lit(keep_num)
        ).alias("keep"),
    ).orderBy("label", "prune_rank")


def pur1_cluster_purity(
    embeddings: DataFrame, k: int = 8, iters: int = 2
) -> DataFrame:
    """External cluster-quality audit of the kmeans1 fit against the
    corpus labels: per cluster, the majority label's share (purity) —
    the label-agreement readout that says whether kmeans1's topic
    slices line up with a known taxonomy (sil1 measures geometric
    separation; THIS measures semantic agreement; both read the same
    shared fit).

    Determinism: the assignment is kmeans_assignments' (the oracle-
    unrolled fit chain); majority pick orders by (count DESC, label ASC
    NULLS FIRST) — explicit null placement because the engines' default
    null ordering differs and an unlabeled (NULL-label) group is a
    legitimate tie contender. Purity is one double division of exact
    longs rounded to 6 dp.

    Scale shape: the fit is kmeans1's; the readout is one (cluster,
    label) combining agg + a ≤k·|labels| window + a ≤k-row rollup."""
    from pyspark.sql import Window

    asg = kmeans_assignments(embeddings, k, iters).select("vec_id", "cluster_id")
    cl = (
        asg.join(embeddings.select("vec_id", "label"), "vec_id")
        .groupBy("cluster_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n").desc(), F.col("label").asc_nulls_first()
    )
    ranked = cl.withColumn("rn", F.row_number().over(w))
    tot = cl.groupBy("cluster_id").agg(F.sum("n").cast("long").alias("n_members"))
    return (
        ranked.filter(F.col("rn") == 1)
        .join(tot, "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            F.col("label").alias("top_label"),
            F.col("n").alias("n_top"),
            (
                F.round(
                    F.col("n").cast("double") / F.col("n_members").cast("double"), 6
                )
                + F.lit(0.0)
            ).alias("purity"),
        )
        .orderBy("cluster_id")
    )
