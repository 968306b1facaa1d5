"""Distributed logistic-regression training over the documents corpus —
the quality/language filter model of a training-data pipeline (the
fastText-classifier role: learn a linear gate from cheap per-doc
features), and the repo's demonstration that FIXED-STEP gradient
descent distributes the same way fixed-round Lloyd's does (kmeans1):

  * the per-example pass (features, sigmoid, gradient contribution) is
    MAP-ONLY and rides the scan;
  * each GD step is one map-side-combining groupBy carrying 4 decimal
    sums — the shuffle moves k+1 numbers per partition, not the corpus;
  * weights live on the driver between steps (a 1-row collect, the
    kmeans/pr1 bounded-scalar pattern) and re-enter the next plan as
    literals.

Cross-engine determinism (oracle-paired — the DuckDB oracle unrolls
both GD steps as CTEs):
  * features are exact per-row arithmetic: integer counts and single
    IEEE divisions, identical in both engines;
  * the only transcendental (sigmoid's exp) is rounded to 9 dp per row
    before gradients (the ppl1 discipline);
  * gradient terms are rounded to 12 dp into DECIMAL(28,12) so the
    corpus sum is EXACT (order-free);
  * weight updates are F.round-ed IN THE PLAN (half-away-from-zero in
    both engines) before collection — driver Python never rounds
    (Python's round() is half-even and would diverge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.fanout import fan_out
from csv_crm_upload_spark.analytics.ordered import running
from csv_crm_upload_spark.analytics.textstats import EN_STOPWORDS, norm_tokens

FEATURES = ["intercept", "stopword_ratio", "len_capped", "avg_tok_len"]


def _feature_frame(documents: DataFrame) -> DataFrame:
    """(doc_id, x0..x3, y): x0 intercept, x1 English-stopword fraction
    (the discriminative signal for the lang='en' label), x2 token count
    capped at 256 and scaled, x3 chars-per-token scaled by 64."""
    toks = norm_tokens()
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    nt = F.size(toks).cast("double")
    nstop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("double")
    return fan_out(documents.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )).select(
        "doc_id",
        "lang",
        F.lit(1.0).alias("x0"),
        (nstop / nt).alias("x1"),
        (F.least(nt, F.lit(256.0)) / F.lit(256.0)).alias("x2"),
        (F.col("n_chars").cast("double") / nt / F.lit(64.0)).alias("x3"),
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )


def train_weights(documents: DataFrame, iters: int = 2) -> list[float]:
    """The GD loop — w after `iters` full-batch steps (lr = 1.0) from
    w = 0 on the lang='en' label; shared by lr1 (weight readout) and
    lr2 (inference scoring). iters=0 is the untrained baseline — the
    zero vector, as before the history refactor."""
    hist = train_weight_history(documents, iters)
    return hist[-1] if hist else [0.0, 0.0, 0.0, 0.0]


def train_weight_history(
    documents: DataFrame, iters: int = 2, feats: DataFrame | None = None
) -> list[list[float]]:
    """Per-step weight snapshots [w_after_step_1, ..., w_after_step_iters]
    — the training-dynamics record dataset cartography scores against
    (cart1); train_weights returns the last entry. Pass an
    already-PERSISTED `feats` (from _feature_frame) to share the
    tokenization pass with a caller that also scores against it
    (auc1/cart1) — the caller then owns its lifecycle; without it the
    frame is persisted/unpersisted here."""
    # persisted: the count plus every GD step re-consumes feats — without
    # the cache that is 1+iters full tokenization passes (bpe1's pattern)
    own = feats is None
    if own:
        feats = _feature_frame(documents).persist()
    history: list[list[float]] = []
    try:
        n = feats.count()  # bounded driver scalar (fixed by the corpus)
        if n == 0:
            # nothing to fit: callers fall back to the zero-weight
            # score (constant p = 0.5) over an empty frame — every
            # readout downstream is empty rather than a None-weight
            # crash at construction
            return history
        w = [0.0, 0.0, 0.0, 0.0]
        for _ in range(iters):
            z = (
                F.lit(w[0]) * F.col("x0")
                + F.lit(w[1]) * F.col("x1")
                + F.lit(w[2]) * F.col("x2")
                + F.lit(w[3]) * F.col("x3")
            )
            p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
            d = p - F.col("y")
            sums = [
                F.sum(F.round(d * F.col(f"x{j}"), 12).cast("decimal(28,12)"))
                .cast("double")
                .alias(f"g{j}")
                for j in range(4)
            ]
            # update rounded IN THE PLAN (half-away-from-zero both engines)
            upd = feats.agg(*sums).select(
                *[
                    F.round(F.lit(w[j]) - F.col(f"g{j}") / F.lit(float(n)), 12).alias(
                        f"w{j}"
                    )
                    for j in range(4)
                ]
            ).collect()[0]
            w = [float(upd[f"w{j}"]) for j in range(4)]
            history.append(w)
        return history
    finally:
        if own:
            feats.unpersist()


def lr1_quality_classifier(documents: DataFrame, iters: int = 2) -> DataFrame:
    """(feature, weight) after `iters` GD steps — the learned linear
    quality / language gate (see train_weights for the loop shape and
    the module docstring for the determinism pivots); inference is a
    map-only dot product + threshold (lr2_classifier_scores)."""
    w = train_weights(documents, iters)
    spark = documents.sparkSession
    return spark.createDataFrame(
        list(zip(FEATURES, w)), "feature string, weight double"
    )


def lr2_classifier_scores(documents: DataFrame, iters: int = 2) -> DataFrame:
    """Inference for the lr1 gate — per-lang readout of what the trained
    model predicts: (lang, n_docs, n_pred_en, mean_p). MAP-ONLY scoring
    (weights ride the plan as literals, one sigmoid per row) + one
    combining groupBy(lang) — the shape a 100 TB corpus-wide filter pass
    takes. mean_p is the decimal-exact mean of the 9-dp rounded
    per-row probabilities (the kmeans mean_sim discipline)."""
    w = train_weights(documents, iters)
    feats = _feature_frame(documents)
    z = (
        F.lit(w[0]) * F.col("x0")
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    return (
        feats.select("lang", p.alias("p"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("p") >= 0.5).cast("long")).cast("bigint").alias("n_pred_en"),
            F.round(
                F.sum(F.col("p").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_p"),
        )
        .orderBy("lang")
    )


def auc1_classifier_auc(documents: DataFrame, iters: int = 2) -> DataFrame:
    """Exact ROC-AUC of the lr1 gate against its own lang='en' label —
    the eval a pipeline runs before trusting a learned filter. Computed
    as the rank-sum (Mann-Whitney) statistic over the TOTAL order
    (p, doc_id): AUC = (2·Σ_{pos} rank − P(P+1)) / (2·P·N).

    Convention, explicit: ties in p are broken by doc_id rather than
    averaged — a deterministic total order both engines share (the
    tie-adjusted estimator would need average ranks; with 9-dp scores
    over heterogeneous features, exact-tie mass is negligible and the
    convention is bit-reproducible at any scale).

    Scale shape: map-only scoring (weights as plan literals), the
    running count of `ordered.running` for the global rank (range-repartition
    + per-partition offsets — never a single-task sort over the
    corpus), then ONE 1-row aggregate; rank sums run in DECIMAL(38,0)
    because Σ rank ~ n²/2 overflows int64 past ~4·10⁹ rows. Output one
    row (n_pos, n_neg, auc), empty when either class is absent (0/0 is
    engine-divergent; both engines exclude identically)."""
    # ONE tokenization pass: the persisted feature frame feeds training
    # AND scoring; the bounded result is pinned before the unpersist so
    # evaluation never re-derives the features (review r7)
    feats = _feature_frame(documents).persist()
    hist = train_weight_history(documents, iters, feats=feats)
    w = hist[-1] if hist else [0.0, 0.0, 0.0, 0.0]
    z = (
        F.lit(w[0]) * F.col("x0")
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    scored = feats.select("doc_id", "y", p.alias("p"))
    ranked, _ = running(scored, ["p", "doc_id"], {"rnk": ("count", None)})
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = ranked.agg(
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("y") == 0.0, 1).otherwise(0)).cast("long").alias("n_neg"),
        F.sum(
            F.when(F.col("y") == 1.0, d38(F.col("rnk"))).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("rsum"),
    )
    P, N = F.col("n_pos"), F.col("n_neg")
    numer = d38(F.lit(2)) * F.col("rsum") - d38(P) * (d38(P) + 1)
    auc = F.round(
        numer.cast("double") / (F.lit(2.0) * P.cast("double") * N.cast("double")), 6
    )
    out = (
        agg.filter((P > 0) & (N > 0))
        .select(P.alias("n_pos"), N.alias("n_neg"), auc.alias("auc"))
        .localCheckpoint(eager=True)  # <= 1 row
    )
    feats.unpersist()
    return out


def cart1_dataset_cartography(documents: DataFrame, iters: int = 2) -> DataFrame:
    """Dataset cartography (Swayamdipta et al. 2020, arXiv:2009.10795)
    over the lr1 gate's own training dynamics: per document, the MEAN
    true-class confidence and the (population) VARIABILITY of that
    confidence across the GD steps — the two coordinates whose map
    separates easy-to-learn / hard-to-learn / ambiguous examples for
    curation. The per-step weight snapshots come from the SAME unrolled
    deterministic training the lr1/lr2 oracles pin (train_weight_history);
    scoring each step is map-only with the step's weights as plan
    literals, so the whole operator is `iters` fused column expressions
    riding ONE scan — no shuffle at all before the result order.

    Determinism: each step's sigmoid is rounded to 9 dp (the ppl1
    discipline) BEFORE the confidence/mean/variability arithmetic,
    mean is rounded to 9 dp before the deviation terms, outputs to
    6 dp. `above_chance` (mean_conf >= 0.5) is the scale-robust region
    readout — absolute 0.7/0.3 region cuts are presentation-layer and
    fixture-dependent, the coordinates are the operator."""
    if iters < 1:
        # auc1 degrades gracefully to the chance line on an empty history;
        # cartography has no such fallback — variability of zero steps is
        # undefined, so fail loudly instead of IndexError-ing on confs[0]
        raise ValueError("cart1_dataset_cartography needs iters >= 1")
    feats = _feature_frame(documents).persist()
    hist = train_weight_history(documents, iters, feats=feats)
    confs = []
    for w in hist:
        z = (
            F.lit(w[0]) * F.col("x0")
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        )
        p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
        confs.append(F.when(F.col("y") == 1.0, p).otherwise(F.lit(1.0) - p))
    t = len(confs)
    total = confs[0]
    for c in confs[1:]:
        total = total + c
    mean9 = F.round(total / F.lit(float(t)), 9)
    sqsum = None
    for c in confs:
        term = (c - mean9) * (c - mean9)
        sqsum = term if sqsum is None else sqsum + term
    var9 = F.round(F.sqrt(sqsum / F.lit(float(t))), 9)
    out = (
        feats.select(
            "doc_id",
            F.round(mean9, 6).alias("mean_conf"),
            F.round(var9, 6).alias("variability"),
            (mean9 >= 0.5).alias("above_chance"),
        )
        .orderBy("doc_id")
        # pin before unpersist: the map (one row per doc) is what the
        # consumer materializes anyway; without this, evaluating the
        # lazy result would re-tokenize the corpus a second time
        .localCheckpoint(eager=True)
    )
    feats.unpersist()
    return out


def cal1_calibration_bins(documents: DataFrame, iters: int = 2) -> DataFrame:
    """Reliability diagram of the lr1 gate — predicted-probability
    deciles vs observed positive rate, the calibration audit a pipeline
    runs before using classifier scores as sampling WEIGHTS (an
    uncalibrated filter silently reweights the corpus even at a fixed
    threshold; auc1 checks ranking, this checks the scores themselves).

    Per decile bin floor(10·p) (clamped to 9): population, mean
    predicted p, observed positive rate, and the absolute gap — the
    summands of expected calibration error (ECE = Σ nᵢ/N·gapᵢ, left to
    the reader so every bin stays visible). Bin means sum 9-dp scores
    in DECIMAL (order-free, ppl1 discipline); the bin id is integer
    arithmetic on the already-rounded p, so both engines bin
    identically. Scale shape: map-only scoring (weights are plan
    literals) + ONE ≤10-group agg — nothing ordered, nothing
    corpus-sized off the executors."""
    feats = _feature_frame(documents).persist()
    hist = train_weight_history(documents, iters, feats=feats)
    w = hist[-1] if hist else [0.0, 0.0, 0.0, 0.0]
    z = (
        F.lit(w[0]) * F.col("x0")
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    binned = feats.select(
        F.least(F.floor(p * 10).cast("int"), F.lit(9)).alias("bin"),
        p.alias("p"),
        "y",
    )
    # NO post-division rounding anywhere (the kmeans1/sil1 half-way
    # class): mean_p = exact nano-unit integer sum (p is 9-dp, so p·1e9
    # rounds to an exact integer both engines) divided twice in IEEE;
    # pos_rate = raw int/int double division; abs_gap = |difference| of
    # two already-identical doubles — every column matches bit-for-bit.
    # The nano-units accumulate in DECIMAL(38,0), not BIGINT: a decile
    # bin holding > ~9.2e9 scored docs would wrap a long sum silently
    # (Spark non-ANSI) while DuckDB promotes to HUGEINT — the r10-advice
    # overflow divergence class (decimal sums are exact to 1e38).
    out = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.sum(
                    F.round(F.col("p") * F.lit(1000000000.0), 0).cast("decimal(38,0)")
                )
                .cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000000.0)
            ).alias("mean_p"),
            (
                F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("pos_rate"),
        )
        .withColumn("abs_gap", F.abs(F.col("mean_p") - F.col("pos_rate")))
        .orderBy("bin")
        .localCheckpoint(eager=True)  # <= 10 rows
    )
    feats.unpersist()
    return out


def cal2_brier_decomposition(documents: DataFrame, iters: int = 2) -> DataFrame:
    """Murphy decomposition of the lr1 gate's Brier score (Murphy 1973):
    BS_binned = reliability − resolution + uncertainty over cal1's
    probability deciles, reported next to the RAW Brier score and the
    bin-weighted ECE — the one-row readout that says whether a bad
    Brier comes from MIScalibration (reliability up) or from the
    classifier simply not separating (resolution down vs uncertainty).
    cal1 shows the reliability diagram; this is its scalar summary.

    Cross-engine exactness: p is the same 9-dp score cal1 bins, so
    bin ids and the nano-unit mean_p sums are exact integers; raw
    Brier terms (p−y)² round to 12 dp into DECIMAL sums; per-bin
    decomposition terms n·(·)² round to 9 dp into DECIMAL sums over
    ≤10 bins; every readout is one double division of those exact
    pieces (the cal1 no-post-division-rounding discipline). An empty
    scored corpus emits no row.

    Scale shape: map-only scoring (weights are plan literals) + ONE
    ≤10-group agg; the decomposition runs on the checkpointed ≤10-row
    bin table with a 1-row totals broadcast."""
    feats = _feature_frame(documents).persist()
    hist = train_weight_history(documents, iters, feats=feats)
    w = hist[-1] if hist else [0.0, 0.0, 0.0, 0.0]
    z = (
        F.lit(w[0]) * F.col("x0")
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    binned = feats.select(
        F.least(F.floor(p * 10).cast("int"), F.lit(9)).alias("bin"),
        p.alias("p"),
        "y",
    )
    per_bin = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).cast("long").alias("pos"),
            # DECIMAL(38,0), not BIGINT (cal1's discipline, r10 advice):
            # a >9.2e9-doc bin would wrap a long sum silently in Spark
            # while DuckDB promotes to HUGEINT — engines would diverge
            F.sum(
                F.round(F.col("p") * F.lit(1000000000.0), 0).cast("decimal(38,0)")
            ).alias("psum_nano"),
            F.sum(
                F.round((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 12)
                .cast("decimal(38,12)")
            ).alias("bsum"),
        )
        .localCheckpoint(eager=True)  # <= 10 rows, read by totals AND terms
    )
    feats.unpersist()
    tot = per_bin.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("pos").cast("long").alias("tpos"),
        F.sum("bsum").alias("tb"),
    )
    mean_p = F.col("psum_nano").cast("double") / F.col("n") / F.lit(1000000000.0)
    o = F.col("pos").cast("double") / F.col("n")
    ybar = F.col("tpos").cast("double") / F.col("nn")
    terms = per_bin.crossJoin(F.broadcast(tot)).select(
        "n",
        "nn",
        "tb",
        mean_p.alias("mean_p"),
        o.alias("o"),
        ybar.alias("ybar"),
    )

    def _dsum(c):
        return F.sum(F.round(c, 9).cast("decimal(38,12)"))

    agg = terms.groupBy("nn", "tb").agg(
        _dsum(
            F.col("n") * (F.col("mean_p") - F.col("o")) * (F.col("mean_p") - F.col("o"))
        ).alias("rel"),
        _dsum(
            F.col("n") * (F.col("o") - F.col("ybar")) * (F.col("o") - F.col("ybar"))
        ).alias("res"),
        _dsum(F.col("n") * F.abs(F.col("mean_p") - F.col("o"))).alias("ece_n"),
        F.max("ybar").alias("ybar"),
    )
    return agg.filter(F.col("nn") > 0).select(
        F.col("nn").alias("n"),
        (F.round(F.col("tb").cast("double") / F.col("nn"), 6) + F.lit(0.0)).alias("brier"),
        (F.round(F.col("ece_n").cast("double") / F.col("nn"), 6) + F.lit(0.0)).alias("ece"),
        (F.round(F.col("rel").cast("double") / F.col("nn"), 6) + F.lit(0.0)).alias(
            "reliability"
        ),
        (F.round(F.col("res").cast("double") / F.col("nn"), 6) + F.lit(0.0)).alias(
            "resolution"
        ),
        (
            F.round(F.col("ybar") * (F.lit(1.0) - F.col("ybar")), 6) + F.lit(0.0)
        ).alias("uncertainty"),
    )
