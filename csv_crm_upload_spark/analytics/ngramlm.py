"""Persisted n-gram language model — the twelfth artifact under the
shared epoch-manifest protocol (operators/manifest.py): the corpus's
unigram + bigram count tables, maintained incrementally, powering the
whole LM-scoring family (ppl1 unigram log-loss, ppl2 Laplace bigram
log-loss, kn1 interpolated Kneser-Ney) WITHOUT re-counting the corpus
per probe. This is the production split of the inline operators: the
inline forms re-derive the LM from the scored corpus every call (their
oracle design); at 100 TB a pipeline counts once, folds appends, and
scores any probe set against the stored statistics.

Layout (the substr-index conventions — epoch-RANGED ADDITIVE counts):
  unigrams/epoch=E/tbucket=B/  (tok_h, n)        token-instance counts
  bigrams/epoch=E/bbucket=B/   (bg_h, prev_h, w_h, n)  bigram-instance
                               counts keyed by the md5-60 bigram hash,
                               carrying BOTH half hashes so the prefix
                               marginals (c_prev, N1+(prev,*)) and the
                               continuation counts (N1+(*,w)) Kneser-Ney
                               needs are RE-COMBINES of this one table
  MANIFEST                     epoch / base_epoch / n_buckets /
                               key_format (+ last_txn)

Stored keys are 60-bit token/bigram HASHES, not text: 8 bytes per
distinct type, the substr-index trade — a collision can only MERGE two
types' counts, and over the fixtures every indexed probe is
value-identical to the inline operator (test-pinned).

Counts are ADDITIVE, so appends are O(new docs) with NO reconciliation:
a type's corpus-wide count is the SUM of its per-epoch counts, and every
DERIVED statistic (vocabulary size, prefix marginals, continuation type
counts, bigram type total) is computed from the SUMMED table — which is
why incremental ≡ rebuild holds bit-exactly for all three probes.
Probes aggregate the live [base_epoch, epoch] range; OPTIMIZE sum-merges
the chain back to one epoch (exact by additivity).

Maintenance contract (shared with every other artifact):
  * build  — save_ngramlm_model: atomic rebuild-over-live
  * append — update_ngramlm_model: O(new docs), additive fold
  * OPTIMIZE — compact_ngramlm_model (sum-merged, not just unioned)
  * gc     — CorpusIndexService.vacuum, from LAYOUT

Reference: csv-crm-upload has no LM surface; this extends the
training-ops mandate (SURVEY.md §2 addendum) the way BM25/NB/BPE/PCA do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.fanout import fan_out
from csv_crm_upload_spark.analytics.textstats import _word_ngrams, norm_tokens
from csv_crm_upload_spark.functions.hashing import md5_60
from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout, Ranged

DEFAULT_N_BUCKETS = 16

#: derived-key format stamp (manifest.check_key_format): tok_h = md5-60
#: of norm_tokens tokens; bg_h = md5-60 of the \x01-joined bigram. Bump
#: when the tokenization, the bigram join byte, or the hash changes.
KEY_FORMAT = "normtok-md560-x01bigram-v1"

#: both tables are epoch-RANGED additive counts — probes and compaction
#: SUM-merge the live range. prev_h/w_h are functions of bg_h, carried
#: by max (a no-op merge of identical values — never a cross-type mix
#: absent a 60-bit collision). The explicit read schemas cover a corpus
#: of NULL-text docs (or, for bigrams, all-single-token docs), which
#: writes a data-file-less partitioned dir that schema inference cannot
#: read.
LAYOUT = Layout(
    ranged={
        "unigrams": Ranged(
            partition=("tbucket",),
            schema="tok_h long, n long, tbucket int, epoch int",
            keys=("tok_h",),
            sums=("n",),
        ),
        "bigrams": Ranged(
            partition=("bbucket",),
            schema="bg_h long, prev_h long, w_h long, n long, bbucket int, epoch int",
            keys=("bg_h",),
            sums=("n",),
            carry=("prev_h", "w_h"),
        ),
    },
    key_format=KEY_FORMAT,
    missing_ok=True,
)


def _lm_counts(
    documents: DataFrame, n_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """((tok_h, n, tbucket), (bg_h, prev_h, w_h, n, bbucket)) — the given
    documents' token- and bigram-instance counts, derived from the SAME
    tokenization every text operator shares (textstats.norm_tokens /
    _word_ngrams — one definition, so the model can never desynchronize
    from the inline LM operators or the DuckDB oracles)."""
    base = fan_out(documents.filter(F.col("text").isNotNull()))
    uni = (
        base.select(F.explode(norm_tokens()).alias("tok"))
        .select(md5_60(F.col("tok")).alias("tok_h"))
        .groupBy("tok_h")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("tbucket", F.pmod(F.col("tok_h"), F.lit(n_buckets)))
    )
    bg = F.col("bg")
    bi = (
        base.select(F.explode(_word_ngrams(norm_tokens(), 2)).alias("bg"))
        .select(
            md5_60(bg).alias("bg_h"),
            md5_60(F.split(bg, "\x01").getItem(0)).alias("prev_h"),
            md5_60(F.split(bg, "\x01").getItem(1)).alias("w_h"),
        )
        .groupBy("bg_h", "prev_h", "w_h")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("bbucket", F.pmod(F.col("bg_h"), F.lit(n_buckets)))
    )
    return uni, bi


def save_ngramlm_model(
    documents: DataFrame, path: str, n_buckets: int = DEFAULT_N_BUCKETS
) -> None:
    """Count the corpus once (atomic rebuild over a live model;
    manifest.rebuild)."""

    def write(e: int) -> None:
        uni, bi = _lm_counts(documents, n_buckets)
        manifest.write_epoch(uni, path, LAYOUT, "unigrams", e)
        manifest.write_epoch(bi, path, LAYOUT, "bigrams", e)

    manifest.rebuild(path, LAYOUT, write, n_buckets=n_buckets)


def load_unigram_counts(spark, path: str) -> DataFrame:
    """The corpus-wide (tok_h, n) table — the live epoch range SUMMED per
    token (additive ⇒ exactly a rebuild's table; manifest-resolved, so a
    racing update or compaction is invisible — old-or-new, never
    partial)."""
    m = manifest.checked_manifest(path, LAYOUT)
    return manifest.live(spark, path, m, LAYOUT, "unigrams", merged=True)


def load_bigram_counts(spark, path: str) -> DataFrame:
    """The corpus-wide (bg_h, prev_h, w_h, n) table, summed over the live
    epoch range."""
    m = manifest.checked_manifest(path, LAYOUT)
    return manifest.live(spark, path, m, LAYOUT, "bigrams", merged=True)


def update_ngramlm_model(
    new_documents: DataFrame, path: str, txn: tuple[str, int] | None = None
) -> None:
    """Fold a corpus APPEND: count ONLY the new documents and commit the
    deltas as a new epoch (manifest.append) — additivity makes every
    summed table (and every statistic derived from it) EXACTLY what a
    rebuild over the full corpus would produce (test-pinned). A delta
    with no non-NULL text is a no-op. Precondition (as for any index
    append): new doc_ids are not already counted."""

    def write(uni: DataFrame, m: dict, e: int) -> None:
        manifest.write_epoch(uni, path, LAYOUT, "unigrams", e)
        bi = _lm_counts(new_documents, m["n_buckets"])[1]
        manifest.write_epoch(bi, path, LAYOUT, "bigrams", e)

    # the unigram delta decides emptiness: a doc with no token has no
    # bigram either
    manifest.append(
        path,
        LAYOUT,
        txn,
        lambda m: _lm_counts(new_documents, m["n_buckets"])[0].localCheckpoint(
            eager=True
        ),
        write,
    )


def compact_ngramlm_model(spark, path: str) -> bool:
    """OPTIMIZE: SUM-merge the live chain of BOTH tables into one epoch
    (exact by additivity — a union-only compactor would double-store
    types seen in several epochs) in one atomic manifest commit.
    Returns False when already compact."""
    return manifest.compact_epochs(spark, path, LAYOUT)


# ---------------------------------------------------------------------------
# probes — the three LM scores against the PERSISTED statistics. Each is
# the inline operator's formula verbatim (same fixed double expression
# tree, same 9-dp → DECIMAL(20,12) weighted-sum discipline), with the
# corpus statistics read from the model instead of re-counted; over the
# indexed corpus itself each is value-identical to its inline twin
# (test-pinned). Plan shape: the probe side contributes one map-only
# token/bigram pass + one (doc, key) combining agg; the model side is
# bucket-partitioned summed counts; joins are keyed on the 60-bit
# hashes; the scalar statistics (totals, vocab size, type count) are
# 1-row broadcasts.
# ---------------------------------------------------------------------------


def ppl1_model_logloss(documents: DataFrame, path: str) -> DataFrame:
    """Per-doc unigram log-loss of `documents` under the PERSISTED LM —
    textstats.ppl1_unigram_logloss with stored counts. Probe tokens the
    model never saw have no finite bits (count 0 → log2(0)); instead of
    silently dropping them from n_tokens/total_bits (which understates
    the loss for non-indexed probe sets), the LEFT join surfaces them in
    an explicit `n_oov` column: n_tokens/total_bits cover exactly the
    in-vocabulary tokens, n_oov counts the excluded ones, so a self-probe
    (the indexed corpus, where n_oov is provably 0) is value-identical to
    the inline twin modulo the extra column, and a foreign probe cannot
    misreport coverage."""
    spark = documents.sparkSession
    toks = documents.filter(F.col("text").isNotNull()).select(
        "doc_id", F.explode(norm_tokens()).alias("tok")
    )
    per_doc = toks.groupBy("doc_id", md5_60(F.col("tok")).alias("tok_h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    counts = load_unigram_counts(spark, path).withColumnRenamed("n", "n_tok")
    total = counts.agg(F.sum("n_tok").alias("n_total"))
    seen = F.col("n_tok").isNotNull()
    bits = F.round(
        -F.log2(F.col("n_tok").cast("double") / F.col("n_total")), 9
    ).cast("decimal(20,12)")
    contrib = F.when(seen, F.col("c").cast("decimal(12,0)") * bits)
    return (
        per_doc.join(counts, "tok_h", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum(F.when(seen, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
            F.coalesce(F.sum(contrib).cast("double"), F.lit(0.0)).alias(
                "total_bits"
            ),
            F.coalesce(F.sum(F.when(~seen, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_oov"),
        )
        .orderBy("doc_id")
    )


def _probe_bigrams(documents: DataFrame) -> DataFrame:
    """(doc_id, bg_h, p_h, w_h, c) — the probe's bigram instance counts
    with both component hashes derived by the \\x01-SPLIT of the joined
    gram: the ONE convention the whole LM family shares (_lm_counts'
    stored prev_h/w_h, the inline operators' prefix marginals, and the
    DuckDB oracles all split the gram the same way), so a probe's
    component hashes can never desynchronize from the model's stored
    ones. A token CONTAINING \\x01 mis-segments — identically in every
    path and both engines, the documented price of the join byte."""
    bg = F.col("bg")
    return (
        fan_out(documents.filter(F.col("text").isNotNull()))
        .select("doc_id", F.explode(_word_ngrams(norm_tokens(), 2)).alias("bg"))
        .groupBy(
            "doc_id",
            md5_60(bg).alias("bg_h"),
            md5_60(F.split(bg, "\x01").getItem(0)).alias("p_h"),
            md5_60(F.split(bg, "\x01").getItem(1)).alias("w_h"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )


def ppl2_model_logloss(documents: DataFrame, path: str) -> DataFrame:
    """Per-doc Laplace bigram log-loss under the PERSISTED LM —
    textstats.ppl2_bigram_logloss with stored counts: the prefix
    marginal c(prev,·) is a re-combine of the stored bigram table and
    the vocabulary size V is the stored unigram table's row count.

    Unseen bigrams whose BOTH tokens are in-vocabulary score via the
    smoothed formula itself — c(prev,w) coalesced to 0, c(prev,·)
    coalesced to 0 (a vocab token never seen as a prefix still gets the
    Laplace floor 1/(0+V)) — because add-1 smoothing exists precisely to
    give unseen-but-in-vocab bigrams finite probability; excluding them
    understated a foreign probe's loss. `n_oov` counts only
    bigrams the model truly cannot score: either token absent from the
    stored vocabulary (V doesn't cover it). On a self-probe every bigram
    is seen and both tokens are in-vocab, so this is value-identical to
    the inline twin (test-pinned)."""
    spark = documents.sparkSession
    per_doc = _probe_bigrams(documents)
    bgc = load_bigram_counts(spark, path).select(
        "bg_h", F.col("n").alias("c_bg")
    )
    prev_counts = (
        load_bigram_counts(spark, path)
        .groupBy(F.col("prev_h").alias("p_h"))
        .agg(F.sum("n").alias("c_prev"))
    )
    uni = load_unigram_counts(spark, path)
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    prev_iv = uni.select(
        F.col("tok_h").alias("p_h"), F.lit(True).alias("prev_iv")
    )
    w_iv = uni.select(F.col("tok_h").alias("w_h"), F.lit(True).alias("w_iv"))
    scoreable = F.coalesce(F.col("prev_iv"), F.lit(False)) & F.coalesce(
        F.col("w_iv"), F.lit(False)
    )
    bits = F.round(
        -F.log2(
            (F.coalesce(F.col("c_bg"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("c_prev"), F.lit(0)) + F.col("v")).cast(
                "double"
            )
        ),
        9,
    ).cast("decimal(20,12)")
    contrib = F.when(scoreable, F.col("c").cast("decimal(12,0)") * bits)
    return (
        per_doc.join(bgc, "bg_h", "left")
        .join(prev_counts, "p_h", "left")
        .join(prev_iv, "p_h", "left")
        .join(w_iv, "w_h", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum(F.when(scoreable, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_bigrams"),
            F.coalesce(F.sum(contrib).cast("double"), F.lit(0.0)).alias(
                "total_bits"
            ),
            F.coalesce(F.sum(F.when(~scoreable, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_oov"),
        )
        .orderBy("doc_id")
    )


def kn1_model_logloss(documents: DataFrame, path: str) -> DataFrame:
    """Per-doc interpolated Kneser-Ney bigram log-loss under the
    PERSISTED LM — textstats.kn1_kneser_ney_logloss with every
    statistic (c(prev,w), c(prev,·), N1+(prev,·), N1+(·,w), |types|)
    derived from the stored SUMMED bigram table, D = 0.75.

    Unseen bigrams score via KN's own backoff whenever the model CAN
    back off — prev seen as a prefix (c(prev,·) > 0, so the discount
    mass λ(prev) is defined) and w seen as a continuation
    (N1+(·,w) > 0, so p_cont(w) > 0): c(prev,w) coalesces to 0 and the
    discounted term floors at 0 via GREATEST, leaving
    λ(prev)·p_cont(w) — the backoff mass KN reserves for exactly these
    bigrams; excluding them discarded the smoothing and understated a
    foreign probe's loss. `n_oov` counts only bigrams the
    model truly cannot score finitely: prev never a prefix (no backoff
    weight) or w never a continuation (p_cont = 0 ⇒ −log2 = ∞). On a
    self-probe every bigram is seen, which implies both joins hit, so
    this is value-identical to the inline twin (test-pinned)."""
    spark = documents.sparkSession
    per_doc = _probe_bigrams(documents)
    bgc = load_bigram_counts(spark, path)
    prev_stats = bgc.groupBy(F.col("prev_h").alias("p_h")).agg(
        F.sum("n").alias("c_prev"), F.count(F.lit(1)).alias("n1p_prev")
    )
    cont_counts = bgc.groupBy("w_h").agg(F.count(F.lit(1)).alias("n1p_w"))
    n_types = bgc.agg(F.count(F.lit(1)).alias("n_types"))
    c_bg0 = F.coalesce(F.col("c_bg"), F.lit(0)).cast("double")
    p_kn = (
        F.greatest(c_bg0 - F.lit(0.75), F.lit(0.0))
        / F.col("c_prev").cast("double")
    ) + (
        (
            (F.lit(0.75) * F.col("n1p_prev").cast("double"))
            / F.col("c_prev").cast("double")
        )
        * (F.col("n1p_w").cast("double") / F.col("n_types").cast("double"))
    )
    scoreable = F.col("c_prev").isNotNull() & F.col("n1p_w").isNotNull()
    bits = F.round(-F.log2(p_kn), 9).cast("decimal(20,12)")
    contrib = F.when(scoreable, F.col("c").cast("decimal(12,0)") * bits)
    return (
        per_doc.join(bgc.select("bg_h", F.col("n").alias("c_bg")), "bg_h", "left")
        .join(prev_stats, "p_h", "left")
        .join(cont_counts, "w_h", "left")
        .crossJoin(F.broadcast(n_types))
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum(F.when(scoreable, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_bigrams"),
            F.coalesce(F.sum(contrib).cast("double"), F.lit(0.0)).alias(
                "total_bits"
            ),
            F.coalesce(F.sum(F.when(~scoreable, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_oov"),
        )
        .orderBy("doc_id")
    )
