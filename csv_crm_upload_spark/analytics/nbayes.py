"""Multinomial Naive Bayes language identification — the classic
token-count classifier (Laplace-smoothed, log-space) trained AND applied
in one distributed pass: the langid / domain-id gate of a training-data
pipeline when a linear model over hand features (logreg.py) is too
coarse.

Spark shape:
  * training is two combining aggregations — per-(lang, token) counts
    and per-lang totals (the model IS these tables; no iterations);
  * scoring joins each doc's token counts against the per-class
    conditionals: the doc side shuffles ONCE on token, the class side
    is class-count-bounded; class totals/priors (L rows) broadcast;
  * the argmax is a per-doc window — state is L rows per doc.
At many classes the doc×class expansion is bounded by joining SEEN
(token, class) pairs only and correcting with the class's default
unseen score — noted here, not needed at L = 5.

Cross-engine determinism (oracle-paired): every log2 conditional is
rounded to 9 dp per DISTINCT (token, class) — the ppl1 discipline —
then multiplied by integer counts into DECIMAL(20,12) so per-doc score
sums are exact; argmax ties break to the lexicographically smallest
class in both engines. The ONE scoring implementation (_best_class)
serves the inline confusion readout, the persisted-model classify, and
the holdout eval, so the discipline cannot drift between them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.fanout import fan_out
from csv_crm_upload_spark.analytics.textstats import norm_tokens
from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout


def _nonempty(documents: DataFrame) -> DataFrame:
    return fan_out(
        documents.filter(F.col("text").isNotNull() & (F.trim(F.col("text")) != ""))
    )


def _base_tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, lang, tok) — one row per token OCCURRENCE."""
    return _nonempty(documents).select(
        "doc_id", "lang", F.explode(norm_tokens()).alias("tok")
    )


def _class_priors(class_stats: DataFrame, n_docs: int) -> DataFrame:
    """(cand, n_l, prior) from (lang, n_l, docs_l) — L rows, broadcast
    by every scorer."""
    return class_stats.select(
        F.col("lang").alias("cand"),
        "n_l",
        F.round(F.log2(F.col("docs_l").cast("double") / F.lit(float(n_docs))), 9).alias(
            "prior"
        ),
    )


def _best_class(
    dtc: DataFrame, langs: DataFrame, cond: DataFrame, vocab_n: int, keys: list[str]
) -> DataFrame:
    """THE scoring pass: per-doc argmax class under Laplace-smoothed NB.

    dtc: (*keys, tok, cnt) doc token counts (keys[0] must be doc_id);
    langs: (cand, n_l, prior); cond: (cand, tok, c_lt).
    Returns (*keys, cand, score) — one row per doc, smallest-class
    tie-break. Tokens with no (cand, tok) count fall through the same
    (c+1)/(n_l+V) formula via the left join's NULL."""
    logp = F.round(
        F.log2(
            (F.coalesce(F.col("c_lt"), F.lit(0)) + 1).cast("double")
            / (F.col("n_l") + F.lit(vocab_n)).cast("double")
        ),
        9,
    )
    scored = (
        dtc.crossJoin(F.broadcast(langs))
        .join(cond, ["cand", "tok"], "left")
        .groupBy(*keys, "cand", "prior")
        .agg(
            F.sum(
                F.col("cnt").cast("decimal(12,0)") * logp.cast("decimal(20,12)")
            ).alias("ll")
        )
        .select(
            *keys,
            "cand",
            (F.col("prior").cast("decimal(20,12)") + F.col("ll"))
            .cast("double")
            .alias("score"),
        )
    )
    w = Window.partitionBy(keys[0]).orderBy(F.col("score").desc(), F.col("cand"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def nb_inline_predictions(documents: DataFrame) -> DataFrame:
    """(doc_id, lang, cand) — every doc's NB-predicted class under the
    model trained on the corpus itself (the self-train langid pass a
    pipeline runs to FILTER a corpus, and the input to nb1's confusion
    readout). Eagerly computed via localCheckpoint so the bounded
    scalars (vocab, n_docs) and the persisted base release cleanly."""
    base = _base_tokens(documents).persist()
    try:
        clt = base.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c_lt"))
        class_stats = base.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_l"), F.countDistinct("doc_id").alias("docs_l")
        )
        vocab_n = base.select("tok").distinct().count()
        n_docs = _nonempty(documents).count()

        dtc = base.groupBy("doc_id", "lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
        pred = _best_class(
            dtc,
            _class_priors(class_stats, n_docs),
            clt.select(F.col("lang").alias("cand"), "tok", "c_lt"),
            vocab_n,
            keys=["doc_id", "lang"],
        )
        return pred.select("doc_id", "lang", "cand").localCheckpoint(eager=True)
    finally:
        base.unpersist()


def nb1_langid_confusion(documents: DataFrame) -> DataFrame:
    """Train Laplace-smoothed multinomial NB on (lang | tokens) over the
    full corpus, classify every doc, and return the confusion matrix —
    (lang, pred_lang, n_docs). The diagonal mass is the self-consistency
    readout (how separable the corpus's classes are under their own
    token statistics)."""
    return (
        nb_inline_predictions(documents)
        .groupBy("lang", F.col("cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# Persisted NB model — train once / classify many, with O(vocab) appends.
# Counts are ADDITIVE, so the model folds new corpus shards exactly: every
# epoch is a fully-merged snapshot (unlike the delta-chained postings of
# the text index, the model IS vocab-sized, so a merged snapshot costs the
# same O(vocab x L) pass a delta merge would). base_epoch == epoch always;
# superseded snapshots are reclaimed by CorpusIndexService.vacuum() /
# manifest.gc_stale_epochs.
# ---------------------------------------------------------------------------

LAYOUT = Layout(
    snapshots={"counts": ("tok_bucket",), "class_stats": (), "model_stats": ()}
)


def _counts(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """((lang, tok, c_lt), (lang, n_l, docs_l)) of a token frame."""
    return (
        base.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c_lt")),
        base.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_l"), F.countDistinct("doc_id").alias("docs_l")
        ),
    )


def _write_snapshot(
    clt: DataFrame,
    class_stats: DataFrame,
    n_docs: int,
    path: str,
    epoch: int,
    n_buckets: int,
) -> None:
    """Land one fully-merged model snapshot as epoch dirs (no commit):
    (lang, tok) counts, per-class totals and the 1-row vocab/doc stats.
    The vocab size is read back from the counts just written — one
    column scan, not a re-run of the counts plan."""
    spark = clt.sparkSession
    bucket = F.pmod(F.hash("tok"), F.lit(n_buckets)).alias("tok_bucket")
    manifest.write_epoch(
        clt.select("lang", "tok", "c_lt", bucket), path, LAYOUT, "counts", epoch
    )
    manifest.write_epoch(class_stats, path, LAYOUT, "class_stats", epoch)
    vocab_n = (
        spark.read.parquet(f"{path}/counts/epoch={epoch}")
        .select("tok")
        .distinct()
        .count()
    )
    stats = spark.createDataFrame([(vocab_n, n_docs)], "vocab_n bigint, n_docs bigint")
    manifest.write_epoch(stats, path, LAYOUT, "model_stats", epoch)


def save_nb_model(documents: DataFrame, path: str, n_buckets: int = 64) -> None:
    """Persist the Laplace-smoothed NB model: (lang, tok) counts
    partitioned by a token hash bucket (probes prune to their tokens'
    buckets, the text-index convention), per-class totals, and the
    1-row vocab/doc stats — all epoch-versioned (atomic rebuild over a
    live model; manifest.rebuild)."""

    def write(e: int) -> None:
        # the token frame feeds four jobs — persisted so the tokenize
        # lineage runs once
        base = _base_tokens(documents).persist()
        try:
            clt, class_stats = _counts(base)
            n_docs = base.select("doc_id").distinct().count()
            _write_snapshot(clt, class_stats, n_docs, path, e, n_buckets)
        finally:
            base.unpersist()

    manifest.rebuild(path, LAYOUT, write, n_buckets=n_buckets)


def update_nb_model(
    new_documents: DataFrame, path: str, txn: tuple[str, int] | None = None
) -> None:
    """Fold a corpus APPEND into the model (manifest.append): tokenize
    ONLY the new docs, merge their counts into the next fully-merged
    snapshot (an O(vocab x L) pass — never a re-scan of the trained
    corpus), and commit atomically. A delta with no text is a no-op;
    `txn` is the streaming replay guard.

    Precondition (caller's dedup responsibility): new doc_ids are not
    already trained on — double-folding a shard would double its counts.
    """
    spark = new_documents.sparkSession

    def write(tokens: DataFrame, m: dict, nxt: int) -> None:
        epoch = m["epoch"]
        base = tokens.persist()
        try:
            delta_clt, delta_cs = _counts(base)
            clt = (
                spark.read.parquet(f"{path}/counts/epoch={epoch}")
                .select("lang", "tok", "c_lt")
                .unionByName(delta_clt)
                .groupBy("lang", "tok")
                .agg(F.sum("c_lt").alias("c_lt"))
            )
            class_stats = (
                spark.read.parquet(f"{path}/class_stats/epoch={epoch}")
                .unionByName(delta_cs)
                .groupBy("lang")
                .agg(F.sum("n_l").alias("n_l"), F.sum("docs_l").alias("docs_l"))
            )
            old_ms = spark.read.parquet(f"{path}/model_stats/epoch={epoch}").first()
            n_docs = old_ms["n_docs"] + base.select("doc_id").distinct().count()
            _write_snapshot(clt, class_stats, n_docs, path, nxt, m["n_buckets"])
        finally:
            base.unpersist()

    manifest.append(
        path, LAYOUT, txn, lambda m: _base_tokens(new_documents), write
    )


def classify_with_nb_model(documents: DataFrame, path: str) -> DataFrame:
    """Classify arbitrary docs against the persisted model —
    (doc_id, pred_lang, score): the trained counts do the work, the doc
    side shuffles once on token, and the counts scan is PRUNED to the
    buckets the docs' tokens hash into (bounded bucket-id collect, the
    indexed-BM25 probe shape). Scoring is _best_class — the same pass
    nb1_langid_confusion runs inline."""
    spark = documents.sparkSession
    m = manifest.read_manifest(path)
    epoch, n_buckets = m["epoch"], m["n_buckets"]

    doc_toks = _nonempty(documents).select(
        "doc_id", F.explode(norm_tokens()).alias("tok")
    )
    dtc = doc_toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))

    # bounded collect: the distinct buckets this doc set's tokens hash to
    q_buckets = [
        r["b"]
        for r in doc_toks.select(
            F.pmod(F.hash("tok"), F.lit(n_buckets)).alias("b")
        ).distinct().collect()
    ]
    cond = (
        spark.read.parquet(f"{path}/counts/epoch={epoch}")
        .filter(F.col("tok_bucket").isin(q_buckets))
        .select(F.col("lang").alias("cand"), "tok", "c_lt")
    )
    ms = spark.read.parquet(f"{path}/model_stats/epoch={epoch}").first()
    langs = _class_priors(
        spark.read.parquet(f"{path}/class_stats/epoch={epoch}"), ms["n_docs"]
    )
    pred = _best_class(dtc, langs, cond, ms["vocab_n"], keys=["doc_id"])
    return pred.select("doc_id", F.col("cand").alias("pred_lang"), "score").orderBy(
        "doc_id"
    )


def nb2_holdout_accuracy(documents: DataFrame) -> DataFrame:
    """Leakage-safe holdout evaluation of the NB langid model —
    (split, n_docs, n_correct): train ONLY on split1's train gate
    (pmod(md5_60(doc_id), 100) < 80 — the SAME corpus_prep._md5_60 the
    split/leakage operators use), classify the val and test docs, count
    exact-match predictions. The eval-hygiene composition a pipeline
    actually ships (nb1 is the self-consistency ceiling; this is the
    generalization readout); integer outputs keep it engine-exact with
    no ratio rounding hazards.

    Scale shape is nb1's: the model is two combining aggs over the
    TRAIN tokens, holdout docs shuffle once on token, class stats
    broadcast. Tokens unseen in training fall through the same
    Laplace (c+1) path via the left join's NULL."""
    from csv_crm_upload_spark.plans.corpus_prep import _md5_60

    gate = F.pmod(_md5_60(F.col("doc_id")), F.lit(100))
    nonempty = _nonempty(documents).withColumn("_gate", gate)

    train_base = (
        nonempty.filter(F.col("_gate") < 80)
        .select("doc_id", "lang", F.explode(norm_tokens()).alias("tok"))
        .persist()
    )
    try:
        clt = train_base.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c_lt"))
        class_stats = train_base.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_l"), F.countDistinct("doc_id").alias("docs_l")
        )
        vocab_n = train_base.select("tok").distinct().count()
        n_train = nonempty.filter(F.col("_gate") < 80).count()

        hold = nonempty.filter(F.col("_gate") >= 80).select(
            "doc_id",
            "lang",
            F.when(F.col("_gate") < 90, F.lit("val")).otherwise(F.lit("test")).alias(
                "split"
            ),
            F.explode(norm_tokens()).alias("tok"),
        )
        dtc = hold.groupBy("doc_id", "lang", "split", "tok").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        pred = _best_class(
            dtc,
            _class_priors(class_stats, n_train),
            clt.select(F.col("lang").alias("cand"), "tok", "c_lt"),
            vocab_n,
            keys=["doc_id", "lang", "split"],
        )
        return (
            pred.groupBy("split")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                # NULL-safe correctness count (fuzz seed 77717, r11): a
                # holdout doc with NULL lang makes (cand == lang) NULL;
                # the bare cast-sum returned NULL where the oracle's
                # CASE WHEN counts 0 — when/otherwise routes NULL to 0
                F.sum(
                    F.when(F.col("cand") == F.col("lang"), 1).otherwise(0).cast("long")
                )
                .cast("bigint")
                .alias("n_correct"),
            )
            .orderBy("split")
        )
    finally:
        train_base.unpersist()
