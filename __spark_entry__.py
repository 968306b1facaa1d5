"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship reference-faithful pipeline on sf0.001.
`queries()` — one entry per implemented operator (SURVEY.md §2 ids in the
key prefixes) plus the widened analytics / training-data surface.
`oracle_sql()` — DuckDB-runnable ANSI SQL equivalents; every query aliases
columns identically on both sides.

Cross-engine determinism conventions used throughout (see module
docstrings in csv_crm_upload_spark.analytics):
  * double sums go through DECIMAL (exact) then cast back to double;
  * every top-k / row_number has a total order;
  * hash arithmetic is md5-derived (identical hex in both engines);
  * floating ratios are rounded to fixed decimals before compare/rank.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import dedup as dd
from csv_crm_upload_spark.analytics import multimodal as mm
from csv_crm_upload_spark.analytics import similarity as sim
from csv_crm_upload_spark.analytics import textstats as ts
from csv_crm_upload_spark.analytics import grouped_pandas as gp
from csv_crm_upload_spark.analytics import ivf
from csv_crm_upload_spark.analytics import bpe
from csv_crm_upload_spark.analytics import clustering as clus
from csv_crm_upload_spark.analytics import logreg
from csv_crm_upload_spark.analytics import pca
from csv_crm_upload_spark.analytics import rollup as rlp
from csv_crm_upload_spark.analytics import auditlog as alog
from csv_crm_upload_spark.analytics import sketch_audit as ska
from csv_crm_upload_spark.analytics import nbayes
from csv_crm_upload_spark.plans import corpus_prep as prep
from csv_crm_upload_spark.analytics import ivfpq as ivfpqm
from csv_crm_upload_spark.analytics import pq as pqm
from csv_crm_upload_spark.analytics import retrieval as rtr
from csv_crm_upload_spark.analytics import tpch
from csv_crm_upload_spark.streaming import windows as stw
from csv_crm_upload_spark.operators import bloom
from csv_crm_upload_spark.operators import expectations as dq
from csv_crm_upload_spark.operators.dedup import dedupe_batch
from csv_crm_upload_spark.operators.mutate import finalize_columns
from csv_crm_upload_spark.operators.validate import validate_split
from csv_crm_upload_spark.sources.tables import load_table

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's end-to-end ingest → pending-upload query
    (SURVEY §7.2) run over sf0.001, customer table reshaped as the CSV
    input (FIXTURES.md §6): validate (V1/V2) → dedup (D1) → defaults (U3)
    → pending filter+projection (F1+P1)."""
    customer = load_table(spark, SF0001, "customer")
    raw = customer.select(
        F.col("c_custkey").cast("string").alias("id"),
        F.split(F.col("c_name"), "#")[0].alias("first_name"),
        F.lit("cust").alias("last_name"),
        F.concat(F.lit("c"), F.col("c_custkey").cast("string"), F.lit("@example.com")).alias("email"),
        F.lit(None).cast("string").alias("phone"),
    )
    clean, _quarantine = validate_split(raw)
    table = finalize_columns(dedupe_batch(clean), now="2026-08-13 00:00:00")
    return (
        table.filter(~F.col("uploaded"))
        .select("id", "first_name", "last_name", "email", "phone")
        .orderBy("id")
    )


# ---------------------------------------------------------------------------
# queries(): name -> (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def _t(name):
    def get(spark, sf_dir):
        return load_table(spark, sf_dir, name)

    return get


@functools.cache
def _scratch_root(pid: int) -> str:
    # keyed by pid: a forked child gets its own root and its own exit hook
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_{pid}")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _scratch(name: str) -> str:
    """`<tempdir>/spark_graft_<pid>/<name>`: where a query that writes an
    artifact and reads it back keeps it, and where its oracle reads it.
    One root per process, so concurrent processes never share a file;
    the root is removed at interpreter exit. Nothing is created here —
    the query's own write makes the directory."""
    return os.path.join(_scratch_root(os.getpid()), name)


def q_s1_scan_customer(spark, sf):
    """S1/S4: full table scan (schema-imposed, no inference)."""
    return _t("customer")(spark, sf)


def q_p1_projection(spark, sf):
    """P1: column-pruned projection (pruning reaches the parquet scan)."""
    return _t("customer")(spark, sf).select("c_custkey", "c_name", "c_mktsegment")


def q_f1_filter_pending(spark, sf):
    """F1+P1: the reference's pending-scan shape (flag predicate + prune)."""
    return (
        _t("orders")(spark, sf)
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_v1_cast_validate(spark, sf):
    """V1: cast-validate (try_cast semantics — bad value → row rejected)."""
    k = F.regexp_extract(F.col("props"), r"[0-9]+", 0).try_cast("long")
    return (
        _t("events")(spark, sf)
        .select("event_id", k.alias("k_value"))
        .filter(F.col("k_value").isNotNull())
    )


def q_v2_required_filter(spark, sf):
    """V2: required-field (non-empty) filter."""
    return (
        _t("documents")(spark, sf)
        .filter(F.col("text").isNotNull() & (F.trim(F.col("text")) != ""))
        .select("doc_id", "source")
    )


def q_d1_dedup_first_writer(spark, sf):
    """D1/D2: deterministic first-writer-wins dedup as group-min."""
    return (
        _t("events")(spark, sf)
        .groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_event_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def q_d1_anti_join(spark, sf):
    """D1: left-anti join (the uniqueness-vs-store operator)."""
    customer = _t("customer")(spark, sf)
    orders = _t("orders")(spark, sf)
    return customer.join(orders.select("o_custkey"), customer["c_custkey"] == orders["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


def q_u1_flag_recompute(spark, sf):
    """U1: keyed state recompute (flag flip as CASE over a success set)."""
    return _t("orders")(spark, sf).select(
        "o_orderkey",
        ((F.col("o_orderstatus") != "O") | (F.col("o_totalprice") >= 50000.0)).alias("uploaded"),
    )


def q_u3_defaults(spark, sf):
    """U3: insert-time defaults (constant columns)."""
    return _t("customer")(spark, sf).select(
        F.col("c_custkey").alias("id"),
        F.lit(False).alias("uploaded"),
        F.lit("2026-08-13 00:00:00").cast("timestamp").alias("created_ts"),
    )


def q_a1_count(spark, sf):
    """A1: count."""
    return _t("lineitem")(spark, sf).agg(F.count(F.lit(1)).alias("n"))


def q_x3_json_props(spark, sf):
    """X3 on real nested data: schema-directed JSON field extraction from
    the events.props payload column (from_json — JVM-side, typed)."""
    parsed = F.from_json(F.col("props"), "k INT")
    return _t("events")(spark, sf).select(
        "event_id", parsed["k"].alias("k"),
    )


def q_x2_x3_json_roundtrip(spark, sf):
    """X2+X3: to_json → from_json round-trip is the identity."""
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_acctbal", DoubleType()),
        ]
    )
    payload = F.to_json(F.struct("c_custkey", "c_name", "c_acctbal"))
    parsed = F.from_json(payload, schema)
    return _t("customer")(spark, sf).select(
        parsed["c_custkey"].alias("c_custkey"),
        parsed["c_name"].alias("c_name"),
        parsed["c_acctbal"].alias("c_acctbal"),
    )


def q_t5_redact_pii(spark, sf):
    """PII redaction over a synthesized contact note (the documents corpus
    is PII-free word salad, so the note embeds a real email + phone per
    customer — both engines construct the identical input)."""
    cust = _t("customer")(spark, sf)
    handle = F.lower(F.regexp_replace(F.col("c_name"), "#", "."))
    note = F.concat(
        F.lit("contact "),
        F.col("c_name"),
        F.lit(" at "),
        handle,
        F.lit("@corp.example or +1-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    return ts.t5_redact_pii(
        cust.select("c_custkey", note.alias("note")), col="note", id_col="c_custkey"
    )


def _q_skw1(s: SparkSession, sf: str) -> DataFrame:
    """Per-event-type exact distinct users via the salted two-stage
    aggregation (operators/skew.py) — the skew-safe plan, oracle-pinned
    to the plain COUNT(DISTINCT)."""
    from csv_crm_upload_spark.operators.skew import salted_count_distinct

    return salted_count_distinct(
        _t("events")(s, sf), ["event_type"], "user_id", out_col="n_users"
    ).orderBy("event_type")


def _q_skw3(s: SparkSession, sf: str) -> DataFrame:
    """Per-event-type value sum+count via the salted two-phase
    aggregation (operators/skew.py:two_phase_agg) — the decomposable-agg
    skew fallback, oracle-pinned to the plain GROUP BY. The decimal
    routing inside two_phase_agg makes the double total order-free, so
    the (key, salt) partial stage cannot change the result."""
    from csv_crm_upload_spark.operators.skew import two_phase_agg

    return two_phase_agg(
        _t("events")(s, sf).filter(F.col("value").isNotNull()),
        "event_type",
        "value",
    ).orderBy("event_type")


# Round-13 driver-verification window (slots 13+, in order). Two
# priorities: (1) every query whose EXECUTION PATH was rewritten this
# optimization round gets a post-rewrite driver row (the Arrow-native
# quantizer/kmeans scoring, the dd_minhash map-only verification, the
# shared audit readout) — slots 13-27; (2) first driver contact for the
# round-12 operator-wave keys that have never had a driver row
# (added in the interrupted r12 build round; the r12 window was spent
# on the r2/r3-stale cohort per that round's verdict) — slots 28-50,
# the 23 heaviest/most-load-bearing of them. Still never-contacted
# after this window (next round's cohort): cha1, cusum1, dpn1,
# fun1_ordered, gt1, hill1, ney1, prop1, ptt1, simp1, spr1, sprt1,
# tail1, theil1 (+ the rows-only mm2/mm3/pca2, not driver-checkable),
# then the round-4-6 stale cohort (bf1/bp1/co1/coh1/cum1/dd2/decay1/
# dq1/gini1/mix2, lr2/path1/phr1/ri1/samp1, asof1/bpe1/bpe2/bpe4/dd3/
# drift1/fh1/fun1_stage/leak1/linedd1/mix3/mix4/ppl1/ppl2/prep1/
# samp2/sess1/unpiv1).
_ROTATION_FRONT = [
    # (a) rewritten-this-round cohort (Arrow scoring / minhash rewire /
    # audit readout): the driver ledger must hold post-rewrite rows
    "pq1_quantized_knn",
    "ivfpq1_quantized_knn",
    "ivfpq2_residual_knn",
    "sim_knn_ivf",
    "pqrec1_pq_recall_audit",
    "ivfrec1_ivf_recall_audit",
    "kmeans1_topic_clusters",
    "sil1_cluster_margins",
    "sdd1_semantic_dedup",
    "pur1_cluster_purity",
    "dd_minhash_lsh",
    "mhcal1_minhash_calibration",
    "audlog1_batch_audit_log",
    "rbo1_rank_agreement",
    "deg1_dup_degree_hist",
    # (b) first-contact round-12-wave keys (no driver row yet)
    "zord1_zorder_layout",
    "mad1_value_mad",
    "hub1_huber_robust_mean",
    "cms1_countmin_audit",
    "kap1_cohens_kappa",
    "anova1_priority_anova",
    "kw1_kruskal_wallis",
    "ktau1_kendall_tau",
    "llr1_dunning_collocations",
    "delta1_burrows_delta",
    "cdc1_chunk_dedup",
    "dw1_durbin_watson",
    "runs1_runs_test",
    "welch1_source_welch_t",
    "mwu1_mann_whitney",
    "qq1_source_length_qq",
    "mk1_mann_kendall",
    "lev1_brown_forsythe",
    "evt1_gumbel_return_levels",
    "key1_source_keyness",
    "srm1_split_ratio_mismatch",
    "ess1_length_weight_ess",
    "jk1_source_jackknife",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every query, in driver-slot order. The order matters: the
    driver's correctness harness checks only the first 50 entries.
    Slots 1-12 are pinned to the SURVEY §2 reference-contract core;
    `_ROTATION_FRONT` fills slots 13+ (edit it, not the literal below,
    to choose what the driver verifies next); every other key keeps
    its relative order after those."""
    q = {
        # reference-faithful core (SURVEY §2 ids) — pinned slots 1-12
        "s1_scan_customer": q_s1_scan_customer,
        "p1_projection": q_p1_projection,
        "f1_filter_pending": q_f1_filter_pending,
        "v1_cast_validate": q_v1_cast_validate,
        "v2_required_filter": q_v2_required_filter,
        "d1_dedup_first_writer": q_d1_dedup_first_writer,
        "d1_anti_join": q_d1_anti_join,
        "u1_flag_recompute": q_u1_flag_recompute,
        "u3_defaults": q_u3_defaults,
        "a1_count": q_a1_count,
        "x2_x3_json_roundtrip": q_x2_x3_json_roundtrip,
        "x3_json_props": q_x3_json_props,
        # --- round-6 rotation window (slots 13-19): the seven queries
        # with no prior driver CORRECTNESS row lead the window ---
        # audit-threshold decon2 variant (0.4): flags rows on the synthetic
        # fixture so the cosine/argmax/tie-break path is exercised
        # non-vacuously cross-engine (decon2's 0.9 matches nothing there)
        "decon3_contamination_audit": lambda s, sf: clus.decon2_semantic_contamination(
            _t("embeddings")(s, sf), threshold=0.4
        ),
        # salted hot-key JOIN exercised on a real query; oracle is the
        # plain equi-join (salt refines partitioning, never semantics)
        "skw2_salted_join_revenue": lambda s, sf: tpch.skw2_salted_join_revenue(
            _t("orders")(s, sf), _t("customer")(s, sf)
        ),
        # salted two-phase aggregation ≡ the plain GROUP BY (decomposable
        # sum/count; decimal routing makes the partial stage order-free)
        "skw3_two_phase_event_value": lambda s, sf: _q_skw3(s, sf),
        # hard-negative mining: per query, top-k nearest DIFFERENT-label
        "hn1_hard_negatives": lambda s, sf: sim.hn1_hard_negatives(
            _t("embeddings")(s, sf)
        ),
        # cross-source shingle-overlap matrix (provenance / mixing audit)
        "xsrc1_cross_source_overlap": lambda s, sf: dd.xsrc1_cross_source_overlap(
            _t("documents")(s, sf)
        ),
        # winnowing (MOSS) fingerprint selection per document
        "wfp1_winnow_fingerprints": lambda s, sf: ts.wfp1_winnow_fingerprints(
            _t("documents")(s, sf)
        ),
        # near-copy pairs over shared winnowing fingerprints (MOSS readout)
        "wfp2_shared_fingerprint_pairs": lambda s, sf: ts.wfp2_shared_fingerprint_pairs(
            _t("documents")(s, sf)
        ),
        # per-label embedding-centroid drift vs the global centroid
        "drift2_label_centroid_drift": lambda s, sf: clus.drift2_label_centroid_drift(
            _t("embeddings")(s, sf)
        ),
        # round-10: pairwise linear-kernel MMD between label populations
        # (the drift family's two-sample test in representation space)
        "mmd1_embedding_drift": lambda s, sf: clus.mmd1_embedding_drift(
            _t("embeddings")(s, sf)
        ),
        # tokenizer coverage readout over the learned BPE merges
        "bpe3_vocab_coverage": lambda s, sf: bpe.bpe3_vocab_coverage(
            _t("documents")(s, sf)
        ),
        # curriculum phases: difficulty NTILE over ppl1 bits-per-token
        "cur1_curriculum_phases": lambda s, sf: ts.cur1_curriculum_phases(
            _t("documents")(s, sf)
        ),
        # per-source near-dup participation rollup (curator provenance view)
        "dd4_source_neardup_rates": lambda s, sf: dd.dd4_source_neardup_rates(
            _t("documents")(s, sf)
        ),
        # per-doc 8-gram novelty (memorization/diversity signal)
        "nov1_ngram_novelty": lambda s, sf: ts.nov1_ngram_novelty(
            _t("documents")(s, sf)
        ),
        # T5-style span-corruption planning stats (pure hash-gated blocks)
        "msk1_span_corruption_stats": lambda s, sf: ts.msk1_span_corruption_stats(
            _t("documents")(s, sf)
        ),
        # DSIR data-selection importance weights (target vs raw unigram LMs)
        "dsir1_importance_weights": lambda s, sf: ts.dsir1_importance_weights(
            _t("documents")(s, sf)
        ),
        # per-source Zipf rank-frequency slope (corpus-health diagnostic)
        "zipf1_source_zipf_slope": lambda s, sf: ts.zipf1_source_zipf_slope(
            _t("documents")(s, sf)
        ),
        # per-language tokenizer fertility under the learned BPE merges
        "bpe4_lang_fertility": lambda s, sf: bpe.bpe4_lang_fertility(
            _t("documents")(s, sf)
        ),
        # UniMax budget allocation: capped near-uniform source mixing
        "mix4_unimax_allocation": lambda s, sf: ts.mix4_unimax_allocation(
            _t("documents")(s, sf)
        ),
        # exact covariance upper triangle (the PCA sufficient statistic)
        "pca1_covariance": lambda s, sf: pca.pca1_covariance(
            _t("embeddings")(s, sf)
        ),
        # bigram log-loss under the corpus's own Laplace bigram LM
        "ppl2_bigram_logloss": lambda s, sf: ts.ppl2_bigram_logloss(
            _t("documents")(s, sf)
        ),
        # --- round-7 additions ---
        # Gopher/C4 quality-rule battery: signals + per-rule booleans +
        # composite keep, one map-only pass
        "gq1_gopher_quality": lambda s, sf: ts.gq1_gopher_quality(
            _t("documents")(s, sf)
        ),
        # ExactSubstr dedup (Lee et al.): per-doc maximal duplicated-span
        # coverage via overlapping-gram repeats — generalizes linedd1
        "xsd1_exact_substring_dedup": lambda s, sf: dd.xsd1_exact_substring_dedup(
            _t("documents")(s, sf)
        ),
        # DoReMi domain reweighting: excess-loss multiplicative update
        # over sources + uniform smoothing (composes with mix4)
        "drm1_doremi_weights": lambda s, sf: ts.drm1_doremi_weights(
            _t("documents")(s, sf)
        ),
        # the composed FineWeb-style cascade over this round's operators:
        # gq1 gate -> xsd1 gate -> LSH near-dup blacklist -> drm1 weights
        # -> exact largest-remainder doc apportionment
        "prep3_fineweb_manifest": lambda s, sf: prep.prepare_training_corpus_v3(
            _t("documents")(s, sf)
        ),
        # MMR diversified top-k: greedy λ·rel − μ·max-sim-to-selected,
        # unrolled k steps over a checkpointed per-query shortlist
        "mmr1_diversified_topk": lambda s, sf: sim.mmr1_diversified_topk(
            _t("embeddings")(s, sf)
        ),
        # exact rank-sum ROC-AUC of the lr1 gate (ordered.running over
        # the (p, doc_id) total order — never a single-task sort)
        "auc1_classifier_auc": lambda s, sf: logreg.auc1_classifier_auc(
            _t("documents")(s, sf)
        ),
        # dataset cartography: mean/variability of true-class confidence
        # across the unrolled GD steps (map-only scoring, no shuffle)
        "cart1_dataset_cartography": lambda s, sf: logreg.cart1_dataset_cartography(
            _t("documents")(s, sf)
        ),
        # RHO-style excess-loss selection: bigram-minus-unigram bits per
        # token, both tails dropped (composes ppl1 + ppl2)
        "rho1_excess_loss_selection": lambda s, sf: ts.rho1_excess_loss_selection(
            _t("documents")(s, sf)
        ),
        # top-k bigram collocations by PMI (Church & Hanks) — multi-word
        # expressions worth protecting from tokenizer splits
        "pmi1_collocations": lambda s, sf: ts.pmi1_collocations(
            _t("documents")(s, sf)
        ),
        # interpolated Kneser-Ney bigram log-loss (continuation-count
        # back-off) — the sharper companion to ppl2's Laplace floor
        "kn1_kneser_ney_logloss": lambda s, sf: ts.kn1_kneser_ney_logloss(
            _t("documents")(s, sf)
        ),
        # SSL-prototype pruning: keep the hardest quarter per label by
        # cosine-to-centroid, ranked distributed (Sorscher et al. 2022)
        "prune1_prototype_pruning": lambda s, sf: clus.prune1_prototype_pruning(
            _t("embeddings")(s, sf)
        ),
        # --- round 8 additions ---
        # zero-shuffle lexical diversity (TTR + hapax share per doc)
        "lex1_lexical_diversity": lambda s, sf: ts.lex1_lexical_diversity(
            _t("documents")(s, sf)
        ),
        # Heaps'-law vocabulary growth at 10 doc-order checkpoints
        "heaps1_vocab_growth": lambda s, sf: ts.heaps1_vocab_growth(
            _t("documents")(s, sf)
        ),
        # top-V vocabulary coverage curve (tokenizer sizing readout)
        "cov1_vocab_coverage": lambda s, sf: ts.cov1_vocab_coverage(
            _t("documents")(s, sf)
        ),
        # per-doc top-k TF-IDF terms (cluster naming / topic audit)
        "tfidf1_top_terms": lambda s, sf: ts.tfidf1_top_terms(
            _t("documents")(s, sf)
        ),
        # pairwise Jensen-Shannon divergence between source unigram dists
        "js1_source_divergence": lambda s, sf: ts.js1_source_divergence(
            _t("documents")(s, sf)
        ),
        # CCNet per-language perplexity head/middle/tail buckets
        "ccnet1_perplexity_buckets": lambda s, sf: ts.ccnet1_perplexity_buckets(
            _t("documents")(s, sf)
        ),
        # reliability diagram + ECE summands of the lr1 gate
        "cal1_calibration_bins": lambda s, sf: logreg.cal1_calibration_bins(
            _t("documents")(s, sf)
        ),
        # round-10 second batch: Murphy decomposition of the lr1 Brier
        # score (scalar summary of cal1's reliability diagram)
        "cal2_brier_decomposition": lambda s, sf: logreg.cal2_brier_decomposition(
            _t("documents")(s, sf)
        ),
        # 1-bit sign quantization + Hamming top-k (binary ANN baseline)
        "bq1_binary_hamming_knn": lambda s, sf: sim.bq1_binary_hamming_knn(
            _t("embeddings")(s, sf)
        ),
        # recall@k of the LSH index vs exact brute-force (ANN tuning eval)
        "lshrec1_recall_audit": lambda s, sf: sim.lshrec1_recall_audit(
            _t("embeddings")(s, sf)
        ),
        # per-cluster assignment margins of the kmeans1 fit (separation audit)
        "sil1_cluster_margins": lambda s, sf: clus.sil1_cluster_margins(
            _t("embeddings")(s, sf)
        ),
        # zero-shuffle Flesch readability battery
        "rd1_readability": lambda s, sf: ts.rd1_readability(_t("documents")(s, sf)),
        # balanced snake-packed shard layout (write-side manifest)
        "shard1_balanced_shards": lambda s, sf: ts.shard1_balanced_shards(
            _t("documents")(s, sf)
        ),
        # l-diversity privacy audit (k-anonymity's sensitive-homogeneity gap)
        "anon2_l_diversity": lambda s, sf: tpch.anon2_l_diversity(
            _t("customer")(s, sf)
        ),
        # two-sample Kolmogorov-Smirnov drift on event values
        "ks1_value_drift": lambda s, sf: tpch.ks1_value_drift(_t("events")(s, sf)),
        # Wasserstein-1 drift (round 9): ks1's integral-norm cousin from
        # the SAME ordered.running CDF pass
        "w1d1_value_drift": lambda s, sf: tpch.w1d1_value_drift(_t("events")(s, sf)),
        "cvm1_value_drift": lambda s, sf: tpch.cvm1_value_drift(_t("events")(s, sf)),
        # round-10: PSI bins — the scorecard drift metric over exact
        # reference deciles (per-bin audit table; scalar = SUM(psi_term))
        "psi1_population_stability": lambda s, sf: tpch.psi1_population_stability(
            _t("events")(s, sf)
        ),
        # round-10: chi-square independence cells for (lang, source) —
        # mi1's frequentist companion, zero cells included
        "chi21_lang_source_chi2": lambda s, sf: ts.chi21_lang_source_chi2(
            _t("documents")(s, sf)
        ),
        # round-10: per-source Tukey-fence length-outlier audit over
        # exact nearest-rank quartiles
        "iqr1_source_length_outliers": lambda s, sf: ts.iqr1_source_length_outliers(
            _t("documents")(s, sf)
        ),
        # round-10: corpus concentration (Gini + HHI of source counts)
        "conc1_source_concentration": lambda s, sf: ts.conc1_source_concentration(
            _t("documents")(s, sf)
        ),
        # exact global nearest-rank percentiles via distributed prefix sums
        "pctl2_exact_value_percentiles": lambda s, sf: (
            tpch.pctl2_exact_value_percentiles(_t("events")(s, sf))
        ),
        # recall@k of the 1-bit Hamming pass vs exact cosine (bq1's eval)
        "bqrec1_binary_recall_audit": lambda s, sf: sim.bqrec1_binary_recall_audit(
            _t("embeddings")(s, sf)
        ),
        # lang x source mutual-information decomposition (composition audit)
        "mi1_lang_source_mi": lambda s, sf: ts.mi1_lang_source_mi(
            _t("documents")(s, sf)
        ),
        # --- rotation window (slots 13-50), round 5: the six oracle-paired
        # queries that have never had a driver CORRECTNESS row lead the
        # window (slots 13-18); the rest of the window re-samples r4 keys ---
        "stat1_price_quantity_stats": lambda s, sf: tpch.stat1_price_quantity_stats(
            _t("lineitem")(s, sf)
        ),
        "unpiv1_status_counts": lambda s, sf: tpch.unpiv1_status_counts(
            _t("orders")(s, sf)
        ),
        "samp2_weighted_reservoir": lambda s, sf: ts.samp2_weighted_reservoir(
            _t("documents")(s, sf)
        ),
        # oracle-paired ITERATIVE k-means: fixed deterministic rounds,
        # the DuckDB oracle unrolls the same iterations as CTEs
        "kmeans1_topic_clusters": lambda s, sf: clus.kmeans1_topic_clusters(
            _t("embeddings")(s, sf)
        ),
        # the COMPOSED corpus-prep pipeline (dedup → quality → split →
        # pack) as one oracle-paired plan — see plans/corpus_prep.py
        "prep1_corpus_manifest": lambda s, sf: prep.prepare_training_corpus(
            _t("documents")(s, sf)
        ),
        # asymmetric containment dedup (sub-document duplication signal)
        "dd3_containment_pairs": lambda s, sf: dd.d_containment_pairs(
            _t("documents")(s, sf)
        ),
        # --- round-5 additions (slots 19-21): event-pipeline operators ---
        # AS-OF join via the union+keyed-window composition (oracle-paired)
        "asof1_purchase_view_asof": lambda s, sf: tpch.asof1_purchase_view_asof(
            _t("events")(s, sf)
        ),
        "sess1_user_sessions": lambda s, sf: tpch.sess1_user_sessions(
            _t("events")(s, sf)
        ),
        "fun1_stage_funnel": lambda s, sf: tpch.fun1_stage_funnel(_t("events")(s, sf)),
        # salted exact distinct: the skew-spread plan must equal the
        # plain COUNT(DISTINCT) — the salt refines partitioning only
        "skw1_salted_distinct_users": lambda s, sf: _q_skw1(s, sf),
        # unigram-LM log-loss (perplexity proxy for quality filtering)
        "ppl1_unigram_logloss": lambda s, sf: ts.ppl1_unigram_logloss(
            _t("documents")(s, sf)
        ),
        # train vs held-out n-gram contamination under the split gate
        "leak1_cross_split_leakage": lambda s, sf: ts.leak1_cross_split_leakage(
            _t("documents")(s, sf)
        ),
        # per-source unigram KL vs corpus (mixture-drift diagnostic)
        "drift1_source_token_kl": lambda s, sf: ts.drift1_source_token_kl(
            _t("documents")(s, sf)
        ),
        # feature-hashed BoW document vectors (model-free text→vector)
        "fh1_feature_hash_embed": lambda s, sf: ts.fh1_feature_hash_embed(
            _t("documents")(s, sf)
        ),
        # SemDeDup: k-means cluster, then prune cosine-near lower-id twins
        "sdd1_semantic_dedup": lambda s, sf: clus.sdd1_semantic_dedup(
            _t("embeddings")(s, sf)
        ),
        # span-level exact dedup (Lee et al. 2021): excise repeated spans
        "linedd1_span_dedup": lambda s, sf: dd.linedd1_span_dedup(
            _t("documents")(s, sf)
        ),
        # temperature-scaled source mixture (mT5's p^alpha rebalancing)
        "mix3_temperature_mixture": lambda s, sf: ts.mix3_temperature_mixture(
            _t("documents")(s, sf)
        ),
        # distributed BPE tokenizer training (first 3 merges, Sennrich 2016)
        "bpe1_merge_steps": lambda s, sf: bpe.bpe1_merge_steps(
            _t("documents")(s, sf)
        ),
        # BPE inference: per-doc segmentation stats under the learned merges
        "bpe2_segment": lambda s, sf: bpe.bpe2_segment(_t("documents")(s, sf)),
        # distributed logistic regression (2 fixed GD steps, lang='en' gate)
        "lr1_quality_classifier": lambda s, sf: logreg.lr1_quality_classifier(
            _t("documents")(s, sf)
        ),
        # classifier inference: map-only scoring pass, per-lang readout
        "lr2_classifier_scores": lambda s, sf: logreg.lr2_classifier_scores(
            _t("documents")(s, sf)
        ),
        # multinomial Naive Bayes langid: train + classify + confusion
        "nb1_langid_confusion": lambda s, sf: nbayes.nb1_langid_confusion(
            _t("documents")(s, sf)
        ),
        # NB holdout eval: train on split1's train gate, score val/test
        "nb2_holdout_accuracy": lambda s, sf: nbayes.nb2_holdout_accuracy(
            _t("documents")(s, sf)
        ),
        # top-k 3-step behavioral paths (funnel path analysis)
        "path1_event_trigrams": lambda s, sf: tpch.path1_event_trigrams(
            _t("events")(s, sf)
        ),
        # RFM customer segmentation grid
        "rfm1_customer_segments": lambda s, sf: tpch.rfm1_customer_segments(
            _t("orders")(s, sf)
        ),
        # composed v2 pipeline: span-clean -> langid -> quality -> split -> pack
        "prep2_monolingual_corpus": lambda s, sf: prep.prepare_training_corpus_v2(
            _t("documents")(s, sf)
        ),
        # semantic decontamination: corpus vecs cosine-near any benchmark vec
        "decon2_semantic_contamination": lambda s, sf: clus.decon2_semantic_contamination(
            _t("embeddings")(s, sf)
        ),
        # exact phrase localization (most frequent trigram, per-doc counts)
        "phr1_phrase_occurrences": lambda s, sf: ts.phr1_phrase_occurrences(
            _t("documents")(s, sf)
        ),
        # cross-table referential-integrity audit (orphan FK counts)
        "ri1_referential_integrity": lambda s, sf: tpch.ri1_referential_integrity(
            _t("customer")(s, sf),
            _t("orders")(s, sf),
            _t("lineitem")(s, sf),
            _t("part")(s, sf),
            _t("supplier")(s, sf),
            _t("nation")(s, sf),
        ),
        "t10_tfidf_top_terms": lambda s, sf: ts.t10_tfidf_top_terms(_t("documents")(s, sf)),
        "samp1_stratified_sample": lambda s, sf: ts.samp1_stratified_sample(_t("documents")(s, sf)),
        "pr1_doc_pagerank": lambda s, sf: dd.pr1_doc_pagerank(_t("documents")(s, sf)),
        "rep1_repetition_stats": lambda s, sf: ts.rep1_repetition_stats(_t("documents")(s, sf)),
        "decon1_benchmark_overlap": lambda s, sf: ts.decon1_benchmark_overlap(
            _t("documents")(s, sf)
        ),
        "chunk1_doc_chunks": lambda s, sf: ts.chunk1_doc_chunks(_t("documents")(s, sf)),
        "ohlc1_hourly_value": lambda s, sf: tpch.ohlc1_hourly_value(_t("events")(s, sf)),
        "ts1_gapfill_hourly": lambda s, sf: tpch.ts1_gapfill_hourly(_t("events")(s, sf)),
        # round-10: lag-1..7 autocorrelation of gap-filled daily volume
        "acf1_daily_autocorrelation": lambda s, sf: tpch.acf1_daily_autocorrelation(
            _t("events")(s, sf)
        ),
        # round-10 second batch: daily-grain trend/seasonality/changepoint
        # readouts (all ride the shared _daily_spine agg) + Benford audit
        "dow1_weekly_profile": lambda s, sf: tpch.dow1_weekly_profile(
            _t("events")(s, sf)
        ),
        "tsen1_daily_trend": lambda s, sf: tpch.tsen1_daily_trend(
            _t("events")(s, sf)
        ),
        "cpd1_mean_shift": lambda s, sf: tpch.cpd1_mean_shift(_t("events")(s, sf)),
        "stl1_seasonal_strength": lambda s, sf: tpch.stl1_seasonal_strength(
            _t("events")(s, sf)
        ),
        "hurst1_long_memory": lambda s, sf: tpch.hurst1_long_memory(
            _t("events")(s, sf)
        ),
        # round-10 second batch: the persisted daily-rollup artifact's
        # build→probe chain, audited against the inline operators' own
        # oracles (a hash match proves store→sum-merge→probe preserves
        # the semantics). The artifact lives under _scratch.
        "roll1_indexed_acf": lambda s, sf: rlp.roll1_indexed_acf(
            s, _t("events")(s, sf), _scratch("rollup")
        ),
        "roll2_indexed_dow": lambda s, sf: rlp.roll2_indexed_dow(
            s, _t("events")(s, sf), _scratch("rollup")
        ),
        "ben1_benford_audit": lambda s, sf: tpch.ben1_benford_audit(
            _t("orders")(s, sf)
        ),
        # derived-partsupp TPC-H completion (Q2/Q9/Q11/Q16/Q20): partsupp is
        # built deterministically from part × supplier with the identical
        # integer arithmetic in the oracle CTE — see tpch.derived_partsupp
        "q2_min_cost_supplier": lambda s, sf: tpch.q2_min_cost_supplier(
            _t("part")(s, sf), _t("supplier")(s, sf), _t("nation")(s, sf), _t("region")(s, sf)
        ),
        "q9_product_type_profit": lambda s, sf: tpch.q9_product_type_profit(
            _t("part")(s, sf),
            _t("supplier")(s, sf),
            _t("nation")(s, sf),
            _t("orders")(s, sf),
            _t("lineitem")(s, sf),
        ),
        "q11_important_stock": lambda s, sf: tpch.q11_important_stock(
            _t("part")(s, sf), _t("supplier")(s, sf), _t("nation")(s, sf), _t("region")(s, sf)
        ),
        "q16_parts_supplier_relationship": lambda s, sf: tpch.q16_parts_supplier_relationship(
            _t("part")(s, sf), _t("supplier")(s, sf)
        ),
        "q20_potential_promotion": lambda s, sf: tpch.q20_potential_promotion(
            _t("part")(s, sf),
            _t("supplier")(s, sf),
            _t("nation")(s, sf),
            _t("region")(s, sf),
            _t("lineitem")(s, sf),
        ),
        "co1_event_type_cooccurrence": lambda s, sf: tpch.co1_event_type_cooccurrence(
            _t("events")(s, sf)
        ),
        "wow1_weekly_growth": lambda s, sf: tpch.wow1_weekly_growth(_t("events")(s, sf)),
        "anon1_k_anonymity": lambda s, sf: tpch.anon1_k_anonymity(_t("customer")(s, sf)),
        "lag1_conversion_lag_quartiles": lambda s, sf: tpch.lag1_conversion_lag_quartiles(
            _t("events")(s, sf)
        ),
        "split1_train_val_test": lambda s, sf: ts.split1_train_val_test(_t("documents")(s, sf)),
        "cum1_cumulative_unique_users": lambda s, sf: tpch.cum1_cumulative_unique_users(
            _t("events")(s, sf)
        ),
        "coh1_weekly_retention": lambda s, sf: tpch.coh1_weekly_retention(_t("events")(s, sf)),
        "dd2_dedup_corpus": lambda s, sf: dd.dd2_dedup_corpus(_t("documents")(s, sf)),
        "batch1_length_buckets": lambda s, sf: ts.batch1_length_buckets(_t("documents")(s, sf)),
        "mix2_quality_weighted_sample": lambda s, sf: ts.mix2_quality_weighted_sample(
            _t("documents")(s, sf)
        ),
        "out1_iqr_outliers": lambda s, sf: tpch.out1_iqr_outliers(_t("events")(s, sf)),
        "norm1_zscore_value": lambda s, sf: tpch.norm1_zscore_value(_t("events")(s, sf)),
        "bf1_bloom_pruned_revenue": lambda s, sf: bloom.bf1_bloom_pruned_revenue(
            _t("customer")(s, sf), _t("orders")(s, sf)
        ),
        "vq1_quantized_knn": lambda s, sf: sim.vq1_quantized_knn(_t("embeddings")(s, sf)),
        "tri1_triangle_counts": lambda s, sf: dd.tri1_triangle_counts(_t("documents")(s, sf)),
        "dq1_order_expectations": lambda s, sf: dq.dq1_order_expectations(_t("orders")(s, sf)),
        "corr1_spearman_orders": lambda s, sf: tpch.corr1_spearman_orders(_t("orders")(s, sf)),
        "gini1_spend_concentration": lambda s, sf: tpch.gini1_spend_concentration(
            _t("orders")(s, sf)
        ),
        "m1_event_transitions": lambda s, sf: tpch.m1_event_transitions(_t("events")(s, sf)),
        "decay1_time_decayed_user_value": lambda s, sf: tpch.decay1_time_decayed_user_value(
            _t("events")(s, sf)
        ),
        "bp1_boilerplate_phrases": lambda s, sf: ts.bp1_boilerplate_phrases(
            _t("documents")(s, sf)
        ),
        "win1_winsorized_prices": lambda s, sf: tpch.win1_winsorized_prices(_t("orders")(s, sf)),
        "bm25_1_search": lambda s, sf: rtr.bm25_search(_t("documents")(s, sf)),
        # round-10 second batch: NDCG@10 / reciprocal-rank audit of the
        # BM25 ranking against deterministic term-coverage grades
        "ndcg1_retrieval_quality": lambda s, sf: rtr.ndcg1_retrieval_quality(
            _t("documents")(s, sf)
        ),
        # round-10 second batch: lexical-vs-hybrid rank agreement
        "rbo1_rank_agreement": lambda s, sf: rtr.rbo1_rank_agreement(
            _t("documents")(s, sf), _t("embeddings")(s, sf)
        ),
        "rag1_hybrid_search": lambda s, sf: rtr.hybrid_search(
            _t("documents")(s, sf), _t("embeddings")(s, sf)
        ),
        "rrf1_rank_fusion": lambda s, sf: rtr.rrf1_rank_fusion(
            _t("documents")(s, sf), _t("embeddings")(s, sf)
        ),
        # --- slots 51+: driver-verified in earlier rounds (r3: pv1..hist1) ---
        "pv1_status_by_priority": lambda s, sf: tpch.pv1_status_by_priority(_t("orders")(s, sf)),
        "rx1_doc_mentions": lambda s, sf: tpch.rx1_doc_mentions(_t("documents")(s, sf)),
        "arr1_embedding_stats": lambda s, sf: sim.arr1_embedding_stats(_t("embeddings")(s, sf)),
        "sq1_big_spenders": lambda s, sf: tpch.sq1_big_spenders(
            (_t("customer")(s, sf), _t("orders")(s, sf))
        ),
        "g2_grouping_sets": lambda s, sf: tpch.g2_grouping_sets(
            _t("region")(s, sf), _t("nation")(s, sf), _t("customer")(s, sf), _t("orders")(s, sf)
        ),
        "pd1_source_char_stats": lambda s, sf: gp.source_char_stats(_t("documents")(s, sf)),
        "q10_returned_revenue": lambda s, sf: tpch.q10_returned_revenue(
            _t("customer")(s, sf), _t("orders")(s, sf), _t("lineitem")(s, sf), _t("nation")(s, sf)
        ),
        "q18_large_orders": lambda s, sf: tpch.q18_large_orders(
            _t("customer")(s, sf), _t("orders")(s, sf), _t("lineitem")(s, sf)
        ),
        "l1_latest_order": lambda s, sf: tpch.l1_latest_order_per_customer(_t("orders")(s, sf)),
        "sc1_above_avg_orders": lambda s, sf: tpch.sc1_above_avg_orders(_t("orders")(s, sf)),
        "q4_order_priority": lambda s, sf: tpch.q4_priority_late_ship(
            _t("orders")(s, sf), _t("lineitem")(s, sf)
        ),
        "q14_promo_revenue": lambda s, sf: tpch.q14_promo_revenue(
            _t("lineitem")(s, sf), _t("part")(s, sf)
        ),
        "q19_disjunctive_revenue": lambda s, sf: tpch.q19_disjunctive_revenue(
            _t("lineitem")(s, sf), _t("part")(s, sf)
        ),
        "rj1_nearby_errors": lambda s, sf: tpch.rj1_nearby_error_counts(_t("events")(s, sf)),
        "t5_redact_pii": q_t5_redact_pii,
        "t6_char_entropy": lambda s, sf: ts.t6_char_entropy(_t("documents")(s, sf)),
        "q7_nation_trade": lambda s, sf: tpch.q7_nation_trade(
            _t("nation")(s, sf),
            _t("customer")(s, sf),
            _t("supplier")(s, sf),
            _t("orders")(s, sf),
            _t("lineitem")(s, sf),
        ),
        "w4_trailing_hour_value": lambda s, sf: tpch.w4_trailing_hour_value(_t("events")(s, sf)),
        "w5_order_gaps": lambda s, sf: tpch.w5_order_gaps(_t("orders")(s, sf)),
        "t7_vocab_topk": lambda s, sf: ts.t7_vocab_topk(_t("documents")(s, sf)),
        "t8_bigrams_udtf": lambda s, sf: ts.t8_bigrams_udtf(s, _t("documents")(s, sf)),
        "q8_market_share": lambda s, sf: tpch.q8_market_share(
            _t("region")(s, sf),
            _t("nation")(s, sf),
            _t("customer")(s, sf),
            _t("supplier")(s, sf),
            _t("orders")(s, sf),
            _t("lineitem")(s, sf),
        ),
        "g3_cube_status_priority": lambda s, sf: tpch.g3_cube_status_priority(_t("orders")(s, sf)),
        "sk1_salted_brand_revenue": lambda s, sf: tpch.sk1_salted_brand_revenue(
            _t("lineitem")(s, sf), _t("part")(s, sf)
        ),
        "sk2_two_phase_status_revenue": lambda s, sf: tpch.sk2_two_phase_status_revenue(
            _t("orders")(s, sf)
        ),
        "emb_label_centroids": lambda s, sf: tpch.emb_label_centroids(_t("embeddings")(s, sf)),
        "fo1_order_event_coverage": lambda s, sf: tpch.fo1_daily_order_event_coverage(
            _t("orders")(s, sf), _t("events")(s, sf)
        ),
        "t9_top_tokens_per_source": lambda s, sf: ts.t9_top_tokens_per_source(
            _t("documents")(s, sf)
        ),
        "mix1_corpus_mixture": lambda s, sf: ts.mix1_corpus_mixture(_t("documents")(s, sf)),
        "pack1_sequence_packing": lambda s, sf: ts.pack1_sequence_packing(_t("documents")(s, sf)),
        "q13_customer_distribution": lambda s, sf: tpch.q13_customer_order_distribution(
            _t("customer")(s, sf), _t("orders")(s, sf)
        ),
        "q15_top_supplier": lambda s, sf: tpch.q15_top_supplier(
            _t("supplier")(s, sf), _t("lineitem")(s, sf)
        ),
        "q17_small_quantity_revenue": lambda s, sf: tpch.q17_small_quantity_revenue(
            _t("lineitem")(s, sf), _t("part")(s, sf)
        ),
        "q21_suppliers_kept_waiting": lambda s, sf: tpch.q21_suppliers_kept_waiting(
            _t("supplier")(s, sf), _t("lineitem")(s, sf), _t("orders")(s, sf), _t("nation")(s, sf)
        ),
        "q22_global_sales_opportunity": lambda s, sf: tpch.q22_global_sales_opportunity(
            _t("customer")(s, sf), _t("orders")(s, sf)
        ),
        "w6_order_position_stats": lambda s, sf: tpch.w6_order_position_stats(_t("orders")(s, sf)),
        "er1_fuzzy_name_pairs": lambda s, sf: tpch.er1_fuzzy_name_pairs(_t("customer")(s, sf)),
        "hist1_price_histogram": lambda s, sf: tpch.hist1_price_histogram(_t("orders")(s, sf)),
        # IVF ANN — oracle-paired since round 9: the coarse quantizer is
        # the distributed kmeans1 fit, so the whole search (fit → cell
        # assignment → probe ranking → exact rerank) unrolls in SQL;
        # exactness at full probe + recall floors additionally in tests
        "sim_knn_ivf": lambda s, sf: ivf.knn_ivf(_t("embeddings")(s, sf)),
        # PQ/ADC ANN (round 4) — oracle-paired since round 9: per-
        # subspace distributed Lloyd's codebooks (rounded-L2 argmin),
        # Spark-computed 9-dp ADC tables, integer micro-unit sums; ADC
        # identity + recall floors additionally in tests/test_pq.py
        "pq1_quantized_knn": lambda s, sf: pqm.pq1_quantized_knn(_t("embeddings")(s, sf)),
        # ANN recall audits (round 9): compose the oracle-paired exact
        # and quantized kNN operators verbatim, like lshrec1/bqrec1
        "ivfrec1_ivf_recall_audit": lambda s, sf: ivf.ivfrec1_recall_audit(
            _t("embeddings")(s, sf)
        ),
        "pqrec1_pq_recall_audit": lambda s, sf: pqm.pqrec1_recall_audit(
            _t("embeddings")(s, sf)
        ),
        # IVF-PQ composed ANN (round 5): coarse cells select, PQ-ADC
        # ranks within probed cells, exact cosine reranks — oracle-free
        # (both quantizers learned); pinned by tests/test_ivfpq.py
        "ivfpq1_quantized_knn": lambda s, sf: ivfpqm.ivfpq1_quantized_knn(
            _t("embeddings")(s, sf)
        ),
        # IVFADC proper (round 9): residual-encoded IVF-PQ — codes
        # quantize x − mean[cell]; oracle-paired like the raw mode
        "ivfpq2_residual_knn": lambda s, sf: ivfpqm.ivfpq1_quantized_knn(
            _t("embeddings")(s, sf), residual=True
        ),
        # widened relational surface
        "q1_pricing_summary": lambda s, sf: tpch.q1_pricing_summary(_t("lineitem")(s, sf)),
        "q3_top_unshipped": lambda s, sf: tpch.q3_top_unshipped_orders(
            _t("customer")(s, sf), _t("orders")(s, sf), _t("lineitem")(s, sf)
        ),
        "q5_region_revenue": lambda s, sf: tpch.q5_region_revenue(
            _t("region")(s, sf),
            _t("nation")(s, sf),
            _t("customer")(s, sf),
            _t("supplier")(s, sf),
            _t("orders")(s, sf),
            _t("lineitem")(s, sf),
        ),
        "top_customers": lambda s, sf: tpch.top_customers_by_revenue(
            _t("customer")(s, sf), _t("orders")(s, sf)
        ),
        "w1_top_orders_per_customer": lambda s, sf: tpch.w1_top_orders_per_customer(_t("orders")(s, sf)),
        "w2_running_value": lambda s, sf: tpch.w2_running_user_value(_t("events")(s, sf)),
        "g1_rollup_revenue": lambda s, sf: tpch.g1_rollup_revenue(
            _t("region")(s, sf), _t("nation")(s, sf), _t("customer")(s, sf), _t("orders")(s, sf)
        ),
        "e1_sessionize": lambda s, sf: tpch.e1_sessionize(_t("events")(s, sf)),
        "e2_event_funnel": lambda s, sf: tpch.e2_event_funnel(_t("events")(s, sf)),
        # training-data pipeline: text analysis
        "t1_token_count": lambda s, sf: ts.t1_token_count(_t("documents")(s, sf)),
        "t2_quality_score": lambda s, sf: ts.t2_quality_score(_t("documents")(s, sf)),
        "t3_lang_id": lambda s, sf: ts.t3_lang_id(_t("documents")(s, sf)),
        "t4_fingerprint": lambda s, sf: ts.t4_fingerprint(_t("documents")(s, sf)),
        # training-data pipeline: dedup family
        "dd_exact_dups": lambda s, sf: dd.d_exact_dups(_t("documents")(s, sf)),
        "dd_ngram_jaccard": lambda s, sf: dd.d_ngram_jaccard_pairs(_t("documents")(s, sf)),
        "dd_minhash_lsh": lambda s, sf: dd.d_minhash_lsh_pairs(_t("documents")(s, sf)),
        # round-10 second batch: per-decile calibration of the MinHash
        # estimate vs exact shingle Jaccard on the LSH candidate stream
        "mhcal1_minhash_calibration": lambda s, sf: dd.mhcal1_minhash_calibration(
            _t("documents")(s, sf)
        ),
        "dd_dup_clusters": lambda s, sf: dd.d_dup_clusters(_t("documents")(s, sf)),
        "dd_simhash": lambda s, sf: dd.d_simhash(_t("documents")(s, sf)),
        # training-data pipeline: similarity search
        "sim_knn_bruteforce": lambda s, sf: sim.knn_bruteforce(_t("embeddings")(s, sf)),
        "sim_knn_lsh": lambda s, sf: sim.knn_lsh(_t("embeddings")(s, sf)),
        # multimodal plumbing (relational stats over binary payloads)
        "mm_media_stats": lambda s, sf: mm.media_stats(mm.media_table(_t("documents")(s, sf))),
        # joins/sets/having/distinct-agg widening
        "j1_brand_margin": lambda s, sf: tpch.j1_brand_margin(_t("part")(s, sf), _t("lineitem")(s, sf)),
        "set1_status_overlap": lambda s, sf: tpch.set1_status_overlap(_t("orders")(s, sf)),
        "set2_exclusive_open": lambda s, sf: tpch.set2_exclusive_open(_t("orders")(s, sf)),
        "h1_active_customers": lambda s, sf: tpch.h1_active_customers(_t("orders")(s, sf)),
        "dagg1_distinct_suppliers": lambda s, sf: tpch.dagg1_distinct_suppliers(_t("lineitem")(s, sf)),
        "dd_embed_neardup": lambda s, sf: sim.embed_neardup_pairs(_t("embeddings")(s, sf)),
        # event-time streaming operators (batch-parity mode; the same
        # functions run streaming with watermarks — see streaming/windows.py)
        "st1_tumbling_counts": lambda s, sf: stw.tumbling_counts(_t("events")(s, sf)),
        "st2_sliding_activity": lambda s, sf: stw.sliding_user_activity(_t("events")(s, sf)),
        "st3_session_windows": lambda s, sf: stw.session_windows(_t("events")(s, sf)),
        "q6_forecast_revenue": lambda s, sf: tpch.q6_forecast_revenue(_t("lineitem")(s, sf)),
        "d1_orders_by_month": lambda s, sf: tpch.d1_orders_by_month(_t("orders")(s, sf)),
        "pctl_order_value": lambda s, sf: tpch.pctl_order_value(_t("orders")(s, sf)),
        "w3_order_quartiles": lambda s, sf: tpch.w3_order_quartiles(_t("orders")(s, sf)),
        "str1_name_features": lambda s, sf: tpch.str1_name_features(_t("customer")(s, sf)),
        # sketch-based approximations: the rows-only driver entries were
        # retired in round 11 — adrec1/pxrec1/hllrec1 below run the SAME
        # sketches, persist their outputs as the audit snapshot, and
        # oracle-pair the error readout (r10 verdict ask #1), so the
        # sketch surface is now driver-VERIFIED rather than merely
        # driver-executed; estimate envelopes stay pinned in
        # tests/test_training_ops.py, and the operators remain public
        # API (tpch.approx_distinct_users / approx_value_percentiles /
        # hll1_mergeable_daily_uniques).
        "asof_purchase_view": lambda s, sf: tpch.asof_purchase_view(_t("events")(s, sf)),
        # REAL media decode (WAV/BMP parsed executor-side; codec-bound
        # rows quarantined) — no SQL oracle: DuckDB can't parse media
        "mm2_real_media_features": lambda s, sf: mm.extract_real_features(
            mm.media_table_real(_t("documents")(s, sf))
        ),
        # round-4: REAL nearest-neighbor BMP resize + quarantine stats —
        # no SQL oracle (DuckDB can't parse media); pixel-exact pytest
        "mm3_resize_stats": lambda s, sf: (
            lambda rz: rz.groupBy("kind").agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.col("resize_ok").cast("int")).alias("n_resized"),
                F.sum(F.coalesce(F.octet_length("resized"), F.lit(0))).alias("resized_bytes"),
            ).orderBy("kind")
        )(mm.resize_images(mm.media_table_real(_t("documents")(s, sf)))),
        # rows-only BY NATURE (driver-side eigh has no SQL oracle);
        # contracts pinned by tests/test_pca.py: full-rank rotation
        # invariance, recall floor on planted low-rank data
        "pca2_projected_knn": lambda s, sf: pca.pca2_projected_knn(
            _t("embeddings")(s, sf)
        ),
        # round-10: the eigen-projection's driver-visible quality floor —
        # the audit (top-k overlap of PCA-space vs exact kNN) is ORACLE-
        # PAIRED via one self-consistent Spark-written snapshot both
        # engines read (see pca.pcarec1_recall_audit's oracle mechanics);
        # the query and its oracle both name the _scratch path
        "pcarec1_pca_recall_audit": lambda s, sf: pca.pcarec1_recall_audit(
            _t("embeddings")(s, sf), _scratch("pcarec1.parquet")
        ),
        # round-11: the sketch family's driver-visible error audits
        # (r10 verdict ask #1) — the pcarec1 snapshot pattern applied to
        # approx_count_distinct / percentile_approx / hll_sketch_agg:
        # Spark persists the estimates once, then BOTH engines join them
        # against exact ground truth from raw events and hash-compare
        # the error readout (see analytics/sketch_audit.py).
        "adrec1_distinct_error_audit": lambda s, sf: ska.adrec1_distinct_error_audit(
            _t("events")(s, sf), _scratch("adrec1.parquet")
        ),
        "pxrec1_percentile_rank_audit": lambda s, sf: ska.pxrec1_percentile_rank_audit(
            _t("events")(s, sf), _scratch("pxrec1.parquet")
        ),
        "hllrec1_merge_error_audit": lambda s, sf: ska.hllrec1_merge_error_audit(
            _t("events")(s, sf), _scratch("hllrec1.parquet")
        ),
        # round-11 operator batch: basket affinity, traffic burstiness,
        # seasonal anomaly days, intrinsic dimension, and the MG
        # heavy-hitter audit (the fourth snapshot-audited sketch)
        "mb1_part_affinity": lambda s, sf: tpch.mb1_part_affinity(
            _t("lineitem")(s, sf)
        ),
        "burst1_interarrival_burstiness": lambda s, sf: (
            tpch.burst1_interarrival_burstiness(_t("events")(s, sf))
        ),
        "anom1_seasonal_anomalies": lambda s, sf: tpch.anom1_seasonal_anomalies(
            _t("events")(s, sf)
        ),
        "id1_intrinsic_dimension": lambda s, sf: sim.id1_intrinsic_dimension(
            _t("embeddings")(s, sf)
        ),
        "mgrec1_heavy_hitter_audit": lambda s, sf: ska.mgrec1_heavy_hitter_audit(
            _t("documents")(s, sf), _scratch("mgrec1.parquet")
        ),
        # round-11 second batch: Kaplan-Meier conversion survival and
        # the kmeans external-quality (purity) audit
        "surv1_conversion_survival": lambda s, sf: tpch.surv1_conversion_survival(
            _t("events")(s, sf)
        ),
        "pur1_cluster_purity": lambda s, sf: clus.pur1_cluster_purity(
            _t("embeddings")(s, sf)
        ),
        # round-11 third batch: journey predictability and the WAU curve
        "ent1_transition_entropy": lambda s, sf: tpch.ent1_transition_entropy(
            _t("events")(s, sf)
        ),
        "wau1_rolling_weekly_active": lambda s, sf: tpch.wau1_rolling_weekly_active(
            _t("events")(s, sf)
        ),
        # round-11 fourth batch: sketch-ALGEBRA audit (inclusion-
        # exclusion overlap) and the forward-retention curve
        "hll2_overlap_audit": lambda s, sf: ska.hll2_overlap_audit(
            _t("events")(s, sf), _scratch("hll2.parquet")
        ),
        "ret1_rolling_retention": lambda s, sf: tpch.ret1_rolling_retention(
            _t("events")(s, sf)
        ),
        # round-12: the streaming sketch-audit cadence as a persisted
        # artifact (r11 verdict ask #4) — three deterministic event
        # batches each append their HLL-vs-exact verdict rows to the
        # epoch-manifested audit log; the probe unions the stored rows
        # and the oracle recomputes every derived column from raw
        # events against the SAME stored estimates
        "audlog1_batch_audit_log": lambda s, sf: alog.audlog1_batch_audit_log(
            _t("events")(s, sf), _scratch("auditlog")
        ),
        # round-12 operator batch
        # cms1: the Count-Min OVERCOUNT audit — the complement of
        # mgrec1's Misra-Gries undercount (the monitoring stack wants
        # upper and lower bounds); the ≤1024-cell groupBy IS the sketch
        "cms1_countmin_audit": lambda s, sf: ska.cms1_countmin_audit(
            _t("documents")(s, sf), _scratch("cms1.parquet")
        ),
        # fun1: ordered min-time-cascade conversion funnel
        "fun1_ordered_funnel": lambda s, sf: tpch.fun1_ordered_funnel(
            _t("events")(s, sf)
        ),
        # gt1: Good-Turing unseen mass + Turing discount per source
        "gt1_good_turing": lambda s, sf: ts.gt1_good_turing_mass(
            _t("documents")(s, sf)
        ),
        # ney1: Neyman-optimal sample allocation across sources
        "ney1_neyman_allocation": lambda s, sf: ts.ney1_neyman_allocation(
            _t("documents")(s, sf)
        ),
        # kap1: Cohen's kappa of the t3 lang-ID heuristic vs labels
        "kap1_cohens_kappa": lambda s, sf: ts.kap1_cohens_kappa(
            _t("documents")(s, sf)
        ),
        # round-12 second wave
        # deg1: degree histogram of the near-dup pair graph
        "deg1_dup_degree_hist": lambda s, sf: dd.deg1_dup_degree_hist(
            _t("documents")(s, sf)
        ),
        # mad1: exact nearest-rank median absolute deviation (pctl2
        # discipline twice — never a buffered percentile state)
        "mad1_value_mad": lambda s, sf: tpch.mad1_value_mad(_t("events")(s, sf)),
        # theil1: decomposable inequality index of customer spend
        "theil1_spend_inequality": lambda s, sf: tpch.theil1_spend_inequality(
            _t("orders")(s, sf)
        ),
        # simp1: Simpson token diversity per source (pairwise form)
        "simp1_simpson_diversity": lambda s, sf: ts.simp1_simpson_diversity(
            _t("documents")(s, sf)
        ),
        # cha1: Chao1 unseen-vocabulary richness per source
        "cha1_chao1_richness": lambda s, sf: ts.cha1_chao1_richness(
            _t("documents")(s, sf)
        ),
        # spr1: tie-corrected Spearman rank correlation via doubled
        # average ranks — every sufficient statistic an exact integer
        "spr1_spearman_rank_corr": lambda s, sf: tpch.spr1_spearman_rank_corr(
            _t("orders")(s, sf), _t("customer")(s, sf)
        ),
        # ptt1: Pettitt rank change point on the daily volume (the
        # rank-based complement of cpd1's mean split)
        "ptt1_pettitt_change_point": lambda s, sf: tpch.ptt1_pettitt_change_point(
            _t("events")(s, sf)
        ),
        # round-12 fourth wave
        # anova1: one-way ANOVA F of order value by priority (the
        # parametric complement of kw1's rank test)
        "anova1_priority_anova": lambda s, sf: tpch.anova1_priority_anova(
            _t("orders")(s, sf)
        ),
        # kw1: tie-corrected Kruskal-Wallis H of doc length by source
        "kw1_kruskal_wallis": lambda s, sf: tpch.kw1_kruskal_wallis(
            _t("documents")(s, sf)
        ),
        # ktau1: Kendall tau-b of daily order count vs daily value
        # (sign-only concordance; the robust sibling of spr1)
        "ktau1_kendall_tau": lambda s, sf: tpch.ktau1_kendall_tau(
            _t("orders")(s, sf)
        ),
        # cusum1: Page's CUSUM drift detector via the running-extremum
        # identity (sequential complement of ptt1/cpd1's retrospective
        # change points)
        "cusum1_cusum_drift": lambda s, sf: tpch.cusum1_cusum_drift(
            _t("events")(s, sf)
        ),
        # llr1: Dunning log-likelihood collocations (the count-weighted
        # fix for pmi1's rare-pair bias)
        "llr1_dunning_collocations": lambda s, sf: ts.llr1_dunning_collocations(
            _t("documents")(s, sf)
        ),
        # dpn1: eps-DP noisy histogram under the two-sided geometric
        # mechanism, integer-exact engine-shared noise (audit view)
        "dpn1_dp_noisy_counts": lambda s, sf: ts.dpn1_dp_noisy_counts(
            _t("documents")(s, sf)
        ),
        # delta1: Burrows' Delta stylometric distance between sources
        # over the top-25 corpus tokens (provenance-leak detector)
        "delta1_burrows_delta": lambda s, sf: ts.delta1_burrows_delta(
            _t("documents")(s, sf)
        ),
        # zord1: Z-order layout-quality audit — measured file-skipping
        # power of Morton clustering vs single-column sorts
        "zord1_zorder_layout": lambda s, sf: tpch.zord1_zorder_layout(
            _t("lineitem")(s, sf)
        ),
        # round-12 fifth wave
        # dw1: Durbin-Watson lag-1 readout (the mean cancels in the
        # numerator — exact-long squared day diffs)
        "dw1_durbin_watson": lambda s, sf: tpch.dw1_durbin_watson(
            _t("events")(s, sf)
        ),
        # runs1: Wald-Wolfowitz runs test about the exact daily median
        "runs1_runs_test": lambda s, sf: tpch.runs1_runs_test(
            _t("events")(s, sf)
        ),
        # welch1: unequal-variance t between the two largest sources
        "welch1_source_welch_t": lambda s, sf: ts.welch1_source_welch_t(
            _t("documents")(s, sf)
        ),
        # mwu1: Mann-Whitney U + rank-biserial effect size (welch1's
        # distribution-free twin, kw1's K=2 drill-down)
        "mwu1_mann_whitney": lambda s, sf: ts.mwu1_mann_whitney(
            _t("documents")(s, sf)
        ),
        # qq1: decile Q-Q profile between the two largest sources
        # (WHERE the distributions diverge, not just whether)
        "qq1_source_length_qq": lambda s, sf: ts.qq1_source_length_qq(
            _t("documents")(s, sf)
        ),
        # cdc1: content-defined chunk dedup stats (LBFS rolling-cut at
        # word level — sub-document boilerplate detector)
        "cdc1_chunk_dedup": lambda s, sf: ts.cdc1_chunk_dedup(
            _t("documents")(s, sf)
        ),
        # round-12 sixth wave
        # mk1: Mann-Kendall monotone-trend significance (tsen1's
        # companion — "is there a trend", not "how steep")
        "mk1_mann_kendall": lambda s, sf: tpch.mk1_mann_kendall(
            _t("events")(s, sf)
        ),
        # lev1: Brown-Forsythe variance homogeneity across sources
        # (the SPREAD drift signal next to the location tests)
        "lev1_brown_forsythe": lambda s, sf: tpch.lev1_brown_forsythe(
            _t("documents")(s, sf)
        ),
        # evt1: Gumbel block-maxima fit -> 26/52-week return levels
        # (the tail story next to the typical-day models)
        "evt1_gumbel_return_levels": lambda s, sf: tpch.evt1_gumbel_return_levels(
            _t("events")(s, sf)
        ),
        # key1: signed log-likelihood keyness — the vocabulary that
        # DEFINES each source vs the rest (provenance fingerprint)
        "key1_source_keyness": lambda s, sf: ts.key1_source_keyness(
            _t("documents")(s, sf)
        ),
        # round-12 seventh wave
        # srm1: sample-ratio-mismatch audit of the split1 hash gate
        "srm1_split_ratio_mismatch": lambda s, sf: ts.srm1_split_ratio_mismatch(
            _t("documents")(s, sf)
        ),
        # ess1: Kish effective sample size of samp2's length weights
        "ess1_length_weight_ess": lambda s, sf: ts.ess1_length_weight_ess(
            _t("documents")(s, sf)
        ),
        # jk1: delete-one-source jackknife influence on the corpus mean
        "jk1_source_jackknife": lambda s, sf: ts.jk1_source_jackknife(
            _t("documents")(s, sf)
        ),
        # prop1: weekend-vs-weekday conversion z + Wilson intervals
        "prop1_weekend_conversion": lambda s, sf: tpch.prop1_weekend_conversion(
            _t("events")(s, sf)
        ),
        # round-12 eighth wave
        # hub1: Huber M-estimate by 3 exact IRLS steps from the exact
        # median (sufficient-statistics passes, never a sort)
        "hub1_huber_robust_mean": lambda s, sf: tpch.hub1_huber_robust_mean(
            _t("orders")(s, sf)
        ),
        # sprt1: Wald's sequential test on the daily conversion stream
        # (nano-integer LLR path, first-crossing decision)
        "sprt1_conversion_sprt": lambda s, sf: tpch.sprt1_conversion_sprt(
            _t("events")(s, sf)
        ),
        # hill1: Hill tail-index over the top-k order statistics (the
        # heavy-tail check behind evt1's light-tail assumption)
        "hill1_tail_index": lambda s, sf: tpch.hill1_tail_index(
            _t("orders")(s, sf)
        ),
        # tail1: empirical upper-tail dependence at the exact q95
        # thresholds (do the EXTREMES co-occur, not average ranks)
        "tail1_tail_dependence": lambda s, sf: tpch.tail1_tail_dependence(
            _t("orders")(s, sf), _t("customer")(s, sf)
        ),
    }
    pinned = list(q)[:12]
    front = [k for k in _ROTATION_FRONT if k in q]
    chosen = set(pinned) | set(front)
    rest = [k for k in q if k not in chosen]
    return {k: q[k] for k in pinned + front + rest}


# ---------------------------------------------------------------------------
# oracle_sql(): DuckDB equivalents. Shared SQL fragments below mirror the
# Spark Column logic token for token.
# ---------------------------------------------------------------------------

# normalized text + tokens (mirror textstats/dedup normalization)
_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"
_RAW_TOKS = "CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END"
_STOP = "['the','a','of','and','to','in','is','it']"
_H60 = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"
# valid-vector gate shared by every embedding oracle whose Spark side
# filters through similarity.valid_vectors — ONE definition so the two
# engines cannot drift (the _TOKS/_NORM convention)
# mirror of similarity.valid_vectors: NULL, empty, and ALL-ZERO vectors
# are excluded (a zero vector has norm 0 — every cosine against it is a
# division by zero, an ANSI job abort on the Spark side)
_VALID_EMB = (
    "embedding IS NOT NULL AND len(embedding) > 0"
    " AND len(list_filter(embedding, x -> x <> 0)) > 0"
    " AND len(list_filter(embedding, x -> x IS NULL)) = 0"
)
_VALID_EMB_E = (
    "e.embedding IS NOT NULL AND len(e.embedding) > 0"
    " AND len(list_filter(e.embedding, x -> x <> 0)) > 0"
    " AND len(list_filter(e.embedding, x -> x IS NULL)) = 0"
)

# fit-width gate for the kmeans-family fits (mirror of the Spark side's
# `size(embedding) == dim` filter, dim = the FIRST valid vector's width):
# a ragged row would dot against centroids as NULL in Spark (zip_with
# pads) but as a PARTIAL sum in DuckDB (list_sum skips out-of-range
# NULLs) — exclusion is the only cross-engine-stable semantics
_FIT_W = (
    "len(embedding) = (SELECT len(embedding) FROM embeddings"
    f" WHERE {_VALID_EMB} ORDER BY vec_id LIMIT 1)"
)
_FIT_W_E = (
    "len(e.embedding) = (SELECT len(embedding) FROM embeddings"
    f" WHERE {_VALID_EMB} ORDER BY vec_id LIMIT 1)"
)

# shingle CTE: word 3-grams, distinct per doc (mirror dd._shingles)
_SHINGLE_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[r.i+1:r.i+3], ' ') AS shingle
  FROM toks, UNNEST(range(0, greatest(len(t) - 3, 0) + 1)) AS r(i)
)"""


def _minhash_sig_sql() -> str:
    # double hashing (mirrors dd.d_minhash_signatures): family i = h1 + i·h2
    h1 = "('0x' || substr(md5(shingle), 1, 15))::BIGINT"
    h2 = "('0x' || substr(md5(shingle), 16, 14))::BIGINT"
    parts = [f"MIN(h1 + {i} * h2) AS mh_{i}" for i in range(dd.MINHASH_K)]
    mins = ",\n    ".join(parts)
    return (
        f"hashed AS (SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM sh),\n"
        f"    sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)"
    )


def _dsum(expr: str, alias: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def oracle_sql() -> dict[str, str]:
    q: dict[str, str] = {}

    q["s1_scan_customer"] = "SELECT * FROM customer"
    q["p1_projection"] = "SELECT c_custkey, c_name, c_mktsegment FROM customer"
    q["f1_filter_pending"] = (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'"
    )
    q["v1_cast_validate"] = """
        SELECT event_id, TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k_value
        FROM events
        WHERE TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) IS NOT NULL
    """
    q["v2_required_filter"] = (
        "SELECT doc_id, source FROM documents WHERE text IS NOT NULL AND trim(text) <> ''"
    )
    q["d1_dedup_first_writer"] = """
        SELECT user_id, event_type, MIN(event_id) AS first_event_id,
               CAST(COUNT(*) AS BIGINT) AS n_dups
        FROM events GROUP BY user_id, event_type
    """
    q["d1_anti_join"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """
    q["u1_flag_recompute"] = """
        SELECT o_orderkey, (o_orderstatus <> 'O') OR (o_totalprice >= 50000.0) AS uploaded
        FROM orders
    """
    q["u3_defaults"] = """
        SELECT c_custkey AS id, FALSE AS uploaded,
               TIMESTAMP '2026-08-13 00:00:00' AS created_ts
        FROM customer
    """
    q["a1_count"] = "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem"
    q["x2_x3_json_roundtrip"] = "SELECT c_custkey, c_name, c_acctbal FROM customer"

    q["q1_pricing_summary"] = f"""
        SELECT l_returnflag, l_linestatus,
               {_dsum('l_quantity', 'sum_qty')},
               {_dsum('l_extendedprice', 'sum_base_price')},
               {_dsum('CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))', 'sum_disc_price')},
               round(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,8)) * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))) AS DOUBLE), 6) AS sum_charge,
               round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
               round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
               round(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """
    q["q3_top_unshipped"] = f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               {_dsum('CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))', 'revenue')}
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """
    q["q5_region_revenue"] = f"""
        SELECT n_name,
               {_dsum('CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))', 'revenue')}
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """
    q["top_customers"] = f"""
        SELECT c_custkey, c_name, c_mktsegment, total_revenue, order_cnt
        FROM (
          SELECT o_custkey, {_dsum('o_totalprice', 'total_revenue')},
                 CAST(COUNT(*) AS BIGINT) AS order_cnt
          FROM orders GROUP BY o_custkey
        ) r JOIN customer ON o_custkey = c_custkey
        ORDER BY total_revenue DESC, c_custkey
        LIMIT 20
    """
    q["w1_top_orders_per_customer"] = """
        SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders
        ) WHERE rn <= 3
    """
    q["w2_running_value"] = """
        SELECT user_id, event_id,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        FROM events
    """
    q["g1_rollup_revenue"] = f"""
        SELECT r_name, n_name, CAST(GROUPING(r_name, n_name) AS INT) AS gid,
               {_dsum('o_totalprice', 'revenue')},
               CAST(COUNT(*) AS BIGINT) AS order_cnt
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
    """
    q["e1_sessionize"] = """
        WITH flagged AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR date_diff('second', lag(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          FROM flagged
        )
        SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
        FROM sess GROUP BY user_id, session_seq
    """
    q["e2_event_funnel"] = """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY event_type ORDER BY event_type
    """

    # ---- text analysis ----
    q["t1_token_count"] = f"""
        SELECT doc_id,
               CAST(len({_RAW_TOKS}) AS INT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpeish_tokens,
               CAST(length(text) AS INT) AS n_chars_actual
        FROM documents
    """
    q["t2_quality_score"] = f"""
        WITH base AS (
          SELECT doc_id,
                 CAST(len({_RAW_TOKS}) AS INT) AS n_tokens,
                 CAST(length(text) AS INT) AS n_chars,
                 CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS INT) AS n_punct,
                 CAST(len(list_filter({_RAW_TOKS}, t -> list_contains({_STOP}, lower(t)))) AS INT) AS n_stop
          FROM documents
        )
        SELECT doc_id, n_tokens,
               round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio,
               round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio,
               round(CAST(n_chars - n_tokens + 1 AS DOUBLE) / greatest(n_tokens, 1), 6) AS mean_token_len,
               CASE WHEN n_tokens < 5 THEN 0.0
                    ELSE ((CAST(least(n_tokens, 100) AS BIGINT)
                           * (1000000 - CAST(round(round(CAST(n_punct AS DOUBLE)
                                                         / greatest(n_chars, 1), 6)
                                                   * 1000000, 0) AS BIGINT))
                           + 50) // 100) / 1000000.0 END AS quality_score
        FROM base
    """
    # list_sum convention: DuckDB's list_sum over an EMPTY list is NULL
    # while Spark's aggregate returns the 0 init — empty text must read
    # 0.0 mean word length in both engines; but NULL text must stay NULL
    # (Spark's aggregate over a NULL array is NULL), so the coalesce is
    # gated on t IS NOT NULL
    def _gq_sql(rel: str) -> str:
        """Gopher rule battery over any relation with (doc_id, text)
        — the gq1 oracle body, reused by prep3's composed cascade."""
        return f"""
            WITH s AS (
              SELECT doc_id,
                     CAST(len(t) AS INT) AS n_words,
                     round(CAST(CASE WHEN t IS NULL THEN NULL
                                ELSE coalesce(list_sum(list_transform(t, x -> CAST(len(x) AS BIGINT))), 0)
                                END AS DOUBLE)
                           / greatest(len(t), 1), 6) AS mean_word_len,
                     round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
                           / greatest(len(t), 1), 6) AS symbol_ratio,
                     round(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                           / greatest(len(t), 1), 6) AS alpha_word_ratio,
                     CAST(len(list_filter(t, x -> list_contains({_STOP}, lower(x)))) AS BIGINT) AS n_stopwords
              FROM (SELECT doc_id, text, {_RAW_TOKS} AS t FROM {rel})
            )
            SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio, n_stopwords,
                   (n_words >= 50 AND n_words <= 100000) AS r_word_count,
                   (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_word_len,
                   symbol_ratio <= 0.1 AS r_symbol_ratio,
                   alpha_word_ratio >= 0.8 AS r_alpha_words,
                   n_stopwords >= 2 AS r_stopwords,
                   ((n_words >= 50 AND n_words <= 100000)
                    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                    AND symbol_ratio <= 0.1
                    AND alpha_word_ratio >= 0.8
                    AND n_stopwords >= 2) AS keep
            FROM s
        """

    q["gq1_gopher_quality"] = _gq_sql("documents")
    # ExactSubstr: sliding 10-gram repeats -> covered positions -> maximal
    # merged spans per doc (gaps-and-islands). Mirrors dedup.py
    # xsd1_exact_substring_dedup token for token; ' ' vs \\x01 gram joins
    # group identically (tokens cannot contain either separator).
    def _xsd_sql(rel: str) -> str:
        """ExactSubstr readout over any relation with (doc_id, text)
        — the xsd1 oracle body, reused by prep3's composed cascade."""
        return f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM {rel}
              WHERE text IS NOT NULL AND trim(text) <> ''
            ),
            g AS (
              SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                     CAST(r.i + 1 AS INT) AS start,
                     array_to_string(t[r.i+1:r.i+10], ' ') AS gram
              FROM toks, UNNEST(range(0, len(t) - 9)) AS r(i)
              WHERE len(t) >= 10
            ),
            c AS (
              SELECT doc_id, n_tokens, start,
                     count(*) OVER (PARTITION BY gram) AS cnt
              FROM g
            ),
            d AS (SELECT doc_id, n_tokens, start FROM c WHERE cnt > 1),
            isl AS (
              SELECT doc_id, n_tokens, start,
                     CASE WHEN start > lag(start) OVER (PARTITION BY doc_id ORDER BY start) + 10
                          THEN 1 ELSE 0 END AS new_island
              FROM d
            ),
            isl2 AS (
              SELECT doc_id, n_tokens, start,
                     sum(new_island) OVER (PARTITION BY doc_id ORDER BY start
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
              FROM isl
            ),
            sp AS (
              SELECT doc_id, island, min(start) AS s0, max(start) AS s1,
                     any_value(n_tokens) AS n_tokens
              FROM isl2 GROUP BY doc_id, island
            )
            SELECT doc_id,
                   any_value(n_tokens) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_dup_spans,
                   CAST(sum(s1 - s0 + 10) AS BIGINT) AS n_dup_tokens,
                   round(CAST(sum(s1 - s0 + 10) AS DOUBLE) / any_value(n_tokens), 6) AS dup_fraction
            FROM sp GROUP BY doc_id
        """

    q["xsd1_exact_substring_dedup"] = _xsd_sql("documents")
    # DoReMi: mirrors textstats.drm1_doremi_weights stage for stage
    # (9-dp rounding points, decimal sums, double divisions); explicit
    # DOUBLE casts on the 0.9/0.1 literals keep DuckDB from running the
    # smoothing in DECIMAL where Spark runs it in double
    def _drm_sql(rel: str) -> str:
        """DoReMi weights over any relation with (source, text) —
        the drm1 oracle body, reused by prep3's composed cascade."""
        return f"""
            WITH toks AS (
              SELECT source, unnest({_TOKS}) AS tok
              FROM {rel} WHERE text IS NOT NULL
            ),
            pst AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
            tc AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY 1),
            tot AS (SELECT SUM(n_tok) AS n_total FROM tc),
            tcb AS (
              SELECT tok, n_tok, n_total,
                     CAST(ROUND(-log2(CAST(n_tok AS DOUBLE) / CAST(n_total AS DOUBLE)), 9)
                          AS DECIMAL(20,12)) AS bits
              FROM tc CROSS JOIN tot
            ),
            gl AS (
              SELECT SUM(CAST(n_tok AS DECIMAL(12,0)) * bits) AS g_bits,
                     MAX(n_total) AS n_total
              FROM tcb
            ),
            ps AS (
              SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
                     SUM(CAST(c AS DECIMAL(12,0)) * bits) AS src_bits
              FROM pst JOIN tcb USING (tok) GROUP BY source
            ),
            r AS (
              SELECT source, n_tokens,
                     round(CAST(src_bits AS DOUBLE) / n_tokens, 9) AS mean9,
                     round(mean9 - round(CAST(g_bits AS DOUBLE) / n_total, 9), 9) AS excess9,
                     round(CAST(n_tokens AS DOUBLE) / n_total, 9) AS share9
              FROM ps CROSS JOIN gl
            ),
            r3 AS (
              SELECT *, round(share9 * round(exp(1.0 * excess9), 9), 9) AS term9 FROM r
            ),
            norm AS (
              SELECT SUM(CAST(term9 AS DECIMAL(20,12))) AS z,
                     CAST(COUNT(*) AS BIGINT) AS k
              FROM r3
            )
            SELECT source, n_tokens,
                   round(mean9, 6) AS mean_bits_per_token,
                   round(excess9, 6) + 0.0 AS excess_bits,
                   round(share9, 6) AS token_share,
                   round(CAST(0.9 AS DOUBLE) * (term9 / CAST(z AS DOUBLE))
                         + CAST(0.1 AS DOUBLE) / k, 6) + 0.0 AS weight
            FROM r3 CROSS JOIN norm
            ORDER BY source
        """

    q["drm1_doremi_weights"] = _drm_sql("documents")

    # prep3: the composed FineWeb-style cascade — each stage IS the
    # standalone oracle body (_gq_sql/_xsd_sql/_drm_sql parameterized by
    # relation; nested WITHs scope their CTE names), the near-dup
    # blacklist reuses lsh_pairs (defined later in this function over
    # the raw corpus — the assignment below is completed after _lsh_ctes
    # exists; see the q["prep3_fineweb_manifest"] fixup there)
    _prep3_tail = f"""
        gq AS ({{gq}}),
        xs AS ({{xs}}),
        dropb AS (SELECT DISTINCT doc_b AS doc_id FROM lsh_pairs),
        surv AS (
          SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
          FROM documents d
          JOIN gq ON gq.doc_id = d.doc_id AND gq.keep
          LEFT JOIN xs ON xs.doc_id = d.doc_id
          LEFT JOIN dropb db ON db.doc_id = d.doc_id
          WHERE (xs.dup_fraction IS NULL OR xs.dup_fraction <= 0.5)
            AND db.doc_id IS NULL
        ),
        drm AS ({{drm}}),
        pc AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM surv GROUP BY source
        ),
        jj AS (
          SELECT drm.source, n_docs, drm.n_tokens, drm.weight,
                 CAST(round(drm.weight * 1e6, 0) AS BIGINT) AS w_int
          FROM drm JOIN pc USING (source)
        ),
        agg AS (
          SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
                 CAST(SUM(w_int) AS BIGINT) AS z
          FROM jj
        ),
        rr AS (
          SELECT jj.*, n_total, z,
                 (n_total * w_int) // z AS base,
                 n_total * w_int - ((n_total * w_int) // z) * z AS rmd
          FROM jj CROSS JOIN agg
        ),
        rr2 AS (
          SELECT *, row_number() OVER (ORDER BY rmd DESC, source) AS rk,
                 SUM(base) OVER () AS base_sum
          FROM rr
        )
        SELECT source, n_docs, n_tokens, weight,
               CAST(base + CASE WHEN rk <= n_total - base_sum THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_docs
        FROM rr2 ORDER BY source
    """.format(
        gq=_gq_sql("documents"),
        xs=_xsd_sql("documents"),
        drm=_drm_sql("surv"),
    )
    q["t3_lang_id"] = f"""
        WITH base AS (
          SELECT doc_id, lang,
                 CAST(len({_RAW_TOKS}) AS INT) AS n_tokens,
                 CAST(len(list_filter({_RAW_TOKS}, t -> list_contains({_STOP}, lower(t)))) AS INT) AS n_stop
          FROM documents
        )
        SELECT doc_id, lang,
               round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 6) AS en_stopword_ratio,
               CASE WHEN round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 6) >= 0.08
                    THEN 'en' ELSE 'other' END AS lang_pred
        FROM base
    """
    q["t4_fingerprint"] = f"""
        SELECT doc_id, md5({_NORM}) AS fingerprint,
               substr(md5({_NORM}), 1, 8) AS fingerprint_short
        FROM documents
    """

    # ---- dedup family ----
    q["dd_exact_dups"] = f"""
        SELECT md5({_NORM}) AS fingerprint, MIN(doc_id) AS canonical_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_dups
        FROM documents GROUP BY 1 HAVING COUNT(*) > 1
    """
    q["dd_ngram_jaccard"] = f"""
        WITH {_SHINGLE_CTE},
        dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
        rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfc USING (shingle) WHERE df <= 50),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS set_size FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM rare a JOIN rare b USING (shingle)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter), 6) >= 0.6
    """

    q["dd3_containment_pairs"] = f"""
        WITH {_SHINGLE_CTE},
        dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
        rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfc USING (shingle) WHERE df <= 50),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS set_size FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM rare a JOIN rare b USING (shingle)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(CAST(n_inter AS DOUBLE) / sa.set_size, 6) AS containment_a,
               round(CAST(n_inter AS DOUBLE) / sb.set_size, 6) AS containment_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(CAST(n_inter AS DOUBLE) / sa.set_size, 6) >= 0.8
           OR round(CAST(n_inter AS DOUBLE) / sb.set_size, 6) >= 0.8
    """

    k = dd.MINHASH_K
    rows_per_band = k // dd.LSH_BANDS
    band_exprs = ",\n          ".join(
        "md5(concat_ws('_', {args})) AS band_{bi}".format(
            bi=bi,
            args=", ".join([str(bi)] + [f"mh_{i}" for i in range(bi * rows_per_band, (bi + 1) * rows_per_band)]),
        )
        for bi in range(dd.LSH_BANDS)
    )
    stacked_union = "\n          UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, band_{bi} AS bucket FROM bands" for bi in range(dd.LSH_BANDS)
    )
    agree = " + ".join(f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(k))
    _lsh_ctes = f"""{_SHINGLE_CTE},
        {_minhash_sig_sql()},
        bands AS (
          SELECT doc_id, {band_exprs} FROM sig
        ),
        stacked AS (
          {stacked_union}
        ),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM stacked x JOIN stacked y USING (band, bucket)
          WHERE x.doc_id < y.doc_id
        ),
        lsh_pairs AS (
          SELECT doc_a, doc_b, round(({agree}) / {k}.0, 6) AS est_jaccard
          FROM cand
          JOIN sig sa ON sa.doc_id = doc_a
          JOIN sig sb ON sb.doc_id = doc_b
          WHERE round(({agree}) / {k}.0, 6) >= 0.5
        )"""
    q["dd_minhash_lsh"] = f"""
        WITH {_lsh_ctes}
        SELECT doc_a, doc_b, est_jaccard FROM lsh_pairs
    """
    # the composed cascade's oracle, completed now that lsh_pairs exists
    # (stages assembled in _prep3_tail above)
    q["prep3_fineweb_manifest"] = f"WITH {_lsh_ctes},{_prep3_tail}"
    # dd4: per-source near-dup participation over the same pair table
    q["dd4_source_neardup_rates"] = f"""
        WITH {_lsh_ctes},
        members AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM lsh_pairs
            UNION ALL SELECT doc_b FROM lsh_pairs
          )
        ),
        flagged AS (
          SELECT d.source, CASE WHEN m.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
          FROM documents d LEFT JOIN members m USING (doc_id)
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(is_dup) AS BIGINT) AS n_neardup_docs,
               round(SUM(is_dup)::DOUBLE / COUNT(*), 6) AS neardup_rate
        FROM flagged GROUP BY source ORDER BY source
    """
    # mhcal1: MinHash-estimate calibration per decile over the UNGATED
    # candidate stream (no 0.5 threshold — calibration wants the full
    # range); est = agree/16 is dyadic-exact, exact Jaccard is one shared
    # double division, per-pair terms round to 9 dp into DECIMAL sums
    q["mhcal1_minhash_calibration"] = f"""
        WITH {_SHINGLE_CTE},
        {_minhash_sig_sql()},
        bands AS (SELECT doc_id, {band_exprs} FROM sig),
        stacked AS (
          {stacked_union}
        ),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM stacked x JOIN stacked y USING (band, bucket)
          WHERE x.doc_id < y.doc_id
        ),
        pairs AS (
          SELECT doc_a, doc_b, round(({agree}) / {k}.0, 6) AS est
          FROM cand
          JOIN sig sa ON sa.doc_id = doc_a
          JOIN sig sb ON sb.doc_id = doc_b
        ),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS set_size FROM sh GROUP BY doc_id),
        inter AS (
          SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
          FROM pairs p
          JOIN sh a ON a.doc_id = p.doc_a
          JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT p.est,
                 round(COALESCE(i.n_inter, 0)::DOUBLE
                       / (sa.set_size + sb.set_size - COALESCE(i.n_inter, 0)), 6) AS exact
          FROM pairs p
          JOIN sizes sa ON sa.doc_id = p.doc_a
          JOIN sizes sb ON sb.doc_id = p.doc_b
          LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        )
        SELECT CAST(least(floor(est * 10), 9) AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               round(SUM(CAST(round(est, 9) AS DECIMAL(38,12)))::DOUBLE / COUNT(*), 6) + 0.0 AS mean_est,
               round(SUM(CAST(round(exact, 9) AS DECIMAL(38,12)))::DOUBLE / COUNT(*), 6) + 0.0 AS mean_exact,
               round(SUM(CAST(round(abs(est - exact), 9) AS DECIMAL(38,12)))::DOUBLE / COUNT(*), 6) + 0.0 AS mae,
               round(SUM(CAST(round(est - exact, 9) AS DECIMAL(38,12)))::DOUBLE / COUNT(*), 6) + 0.0 AS bias
        FROM scored GROUP BY bucket ORDER BY bucket
    """

    # clusters: connected components of the near-dup graph, labeled by the
    # min doc_id — recursive reachability closure over undirected edges
    q["dd_dup_clusters"] = f"""
        WITH RECURSIVE {_lsh_ctes},
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs
        ),
        comp AS (
          SELECT DISTINCT src AS doc, src AS reach FROM edges
          UNION
          SELECT c.doc, e.dst AS reach FROM comp c JOIN edges e ON e.src = c.reach
        ),
        labels AS (SELECT doc, MIN(reach) AS component FROM comp GROUP BY doc)
        SELECT component AS canonical_doc_id,
               CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM labels GROUP BY component ORDER BY component
    """

    # PageRank over the SAME near-dup graph, the fixed iteration count
    # unrolled as plain CTEs (aggregation is not allowed in a recursive
    # term): contributions rounded to 12 decimals and summed as DECIMAL
    # (exact), damping arithmetic forced into IEEE doubles on both sides.
    pr_iters = 5
    pr_parts = ["""
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs
        ),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM deg),
        r0 AS (SELECT src AS doc_id, round(1.0 / n_nodes, 12) AS rank FROM deg, nn)"""]
    for i in range(1, pr_iters + 1):
        pr_parts.append(f""",
        s{i} AS (
          SELECT e.dst AS doc_id,
                 SUM(CAST(round(r.rank / d.deg, 12) AS DECIMAL(28,12))) AS s
          FROM edges e
          JOIN r{i - 1} r ON e.src = r.doc_id
          JOIN deg d ON d.src = e.src
          GROUP BY e.dst
        ),
        r{i} AS (
          SELECT deg.src AS doc_id,
                 round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n_nodes
                       + 0.85 * COALESCE(CAST(s{i}.s AS DOUBLE), 0.0), 12) AS rank
          FROM deg CROSS JOIN nn
          LEFT JOIN s{i} ON s{i}.doc_id = deg.src
        )""")
    q["pr1_doc_pagerank"] = f"""
        WITH {_lsh_ctes},{"".join(pr_parts)}
        SELECT r.doc_id, d.deg AS n_neighbors, round(r.rank, 8) AS pagerank
        FROM r{pr_iters} r JOIN deg d ON d.src = r.doc_id
    """

    bit_sums = ",\n            ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}" for b in range(60)
    )
    bit_join = " + ".join(f"CASE WHEN s_{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END" for b in range(60))
    q["dd_simhash"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_distinct(string_split({_NORM}, ' '))) AS tok
          FROM documents
        ),
        hashed AS (
          SELECT doc_id, {_H60.format(expr='tok')} AS h FROM toks
        ),
        sums AS (
          SELECT doc_id,
            {bit_sums}
          FROM hashed GROUP BY doc_id
        )
        SELECT doc_id, CAST({bit_join} AS BIGINT) AS simhash FROM sums
    """

    _cos = (
        "round("
        "list_sum(list_transform(range(1, len(e.embedding) + 1), i -> e.embedding[i]::DOUBLE * q.q_emb[i]::DOUBLE))"
        " / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))"
        " * sqrt(list_sum(list_transform(q.q_emb, x -> x::DOUBLE * x::DOUBLE)))), 6)"
    )
    q["sim_knn_bruteforce"] = f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
          WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9) AND {_VALID_EMB}
        ),
        scored AS (
          SELECT q.query_id, e.vec_id, {_cos} + 0.0 AS cos_sim
          FROM embeddings e, q
          WHERE e.vec_id <> q.query_id AND {_VALID_EMB_E}
            AND len(e.embedding) = len(q.q_emb)
        )
        SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn FROM scored)
        WHERE rn <= 5
    """

    # mmr1: greedy MMR unrolled into k CTE steps (the kmeans1 discipline -
    # fixed iteration count, every score rounded, vec_id tie-breaks).
    # Selected embeddings are re-fetched from the pool by id; lambda/mu are
    # independent DOUBLE literals (0.7 / 0.3) exactly as in the Spark side.
    _mmr_div = (
        "round("
        "list_sum(list_transform(range(1, len(p.embedding) + 1), i -> p.embedding[i]::DOUBLE * s.embedding[i]::DOUBLE))"
        " / (sqrt(list_sum(list_transform(p.embedding, x -> x::DOUBLE * x::DOUBLE)))"
        " * sqrt(list_sum(list_transform(s.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) + 0.0"
    )
    _mmr_k = 5
    _mmr_steps = ["""s1 AS (
          SELECT query_id, vec_id, mmr, 1 AS pick FROM (
            SELECT query_id, vec_id,
                   round(CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * 0.0, 9) AS mmr,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * 0.0, 9) DESC, vec_id) AS rk
            FROM mpool
          ) WHERE rk = 1
        )"""]
    for _s in range(2, _mmr_k + 1):
        _prev_union = " UNION ALL ".join(
            f"SELECT query_id, vec_id FROM s{i}" for i in range(1, _s)
        )
        _mmr_steps.append(f"""sel{_s} AS ({_prev_union}),
        d{_s} AS (
          SELECT p.query_id, p.vec_id, max(p.rel) AS rel, max({_mmr_div}) AS maxdiv
          FROM mpool p
          JOIN sel{_s} ids ON ids.query_id = p.query_id
          JOIN mpool s ON s.query_id = ids.query_id AND s.vec_id = ids.vec_id
          WHERE NOT EXISTS (SELECT 1 FROM sel{_s} x
                            WHERE x.query_id = p.query_id AND x.vec_id = p.vec_id)
          GROUP BY p.query_id, p.vec_id
        ),
        s{_s} AS (
          SELECT query_id, vec_id, mmr, {_s} AS pick FROM (
            SELECT query_id, vec_id,
                   round(CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * maxdiv, 9) AS mmr,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * maxdiv, 9) DESC, vec_id) AS rk
            FROM d{_s}
          ) WHERE rk = 1
        )""")
    _mmr_steps_sql = ",\n        ".join(_mmr_steps)
    _mmr_all = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, _mmr_k + 1))
    q["mmr1_diversified_topk"] = f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
          WHERE vec_id IN (0,1,2,3,4) AND {_VALID_EMB}
        ),
        mscored AS (
          SELECT q.query_id, e.vec_id, e.embedding, {_cos} + 0.0 AS rel
          FROM embeddings e, q
          WHERE e.vec_id <> q.query_id AND {_VALID_EMB_E}
            AND len(e.embedding) = len(q.q_emb)
        ),
        mpool AS (
          SELECT query_id, vec_id, embedding, rel FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
            FROM mscored
          ) WHERE rn <= 20
        ),
        {_mmr_steps_sql}
        SELECT query_id, vec_id, mmr + 0.0 AS mmr, CAST(pick AS INT) AS pick
        FROM ({_mmr_all}) ORDER BY query_id, pick
    """

    # hn1: same broadcast-query cosine machinery, restricted to
    # DIFFERENT-label candidates (hard negatives for contrastive training)
    q["hn1_hard_negatives"] = f"""
        WITH q AS (
          SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
          FROM embeddings WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9) AND {_VALID_EMB}
        ),
        scored AS (
          SELECT q.query_id, e.vec_id, e.label AS neg_label, {_cos} + 0.0 AS cos_sim
          FROM embeddings e, q
          WHERE e.label <> q.q_label AND {_VALID_EMB_E}
            AND len(e.embedding) = len(q.q_emb)
        )
        SELECT query_id, vec_id, neg_label, cos_sim, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn FROM scored)
        WHERE rn <= 5
    """

    # multi-table hyperplane LSH: bucket for table t = sum over planes p of
    # [sign(v · h_{t,p}) >= 0] << p, components = md5(t:p:d) parity
    def _bucket_bits(table: int, n_planes: int) -> str:
        return " + ".join(
            "CASE WHEN list_sum(list_transform(range(0, len(embedding)), d2 -> "
            f"embedding[d2 + 1]::DOUBLE * (CASE WHEN (('0x' || substr(md5({table} || ':' || {p} || ':' || d2), 1, 15))::BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END)"
            f")) >= 0 THEN {1 << p} ELSE 0 END"
            for p in range(n_planes)
        )

    n_tables, n_planes_knn = 8, 4
    table_buckets_union = "\n          UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, CAST({_bucket_bits(t, n_planes_knn)} AS INT) AS bucket FROM embeddings WHERE {_VALID_EMB}"
        for t in range(n_tables)
    )
    q["sim_knn_lsh"] = f"""
        WITH buckets AS (
          {table_buckets_union}
        ),
        qb AS (
          SELECT vec_id AS query_id, tbl, bucket FROM buckets
          WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)
        ),
        cand AS (
          SELECT DISTINCT qb.query_id, b.vec_id
          FROM buckets b JOIN qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
          WHERE b.vec_id <> qb.query_id
        ),
        scored AS (
          SELECT c.query_id, c.vec_id, {_cos} + 0.0 AS cos_sim
          FROM cand c
          JOIN (SELECT vec_id, embedding AS q_emb FROM embeddings) q ON q.vec_id = c.query_id
          JOIN embeddings e ON e.vec_id = c.vec_id
          WHERE len(e.embedding) = len(q.q_emb)
        )
        SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn FROM scored)
        WHERE rn <= 5
    """

    # lshrec1: recall@k of the LSH index vs exact brute-force — nests the
    # two kNN oracles verbatim (the rho1 composition discipline), so the
    # audit's oracle measures exactly the production operators' SQL
    q["lshrec1_recall_audit"] = f"""
        WITH exact AS ({q["sim_knn_bruteforce"]}),
        lshk AS ({q["sim_knn_lsh"]})
        SELECT e.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(COUNT(l.vec_id) AS BIGINT) AS n_hit,
               round(CAST(COUNT(l.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_k
        FROM exact e
        LEFT JOIN lshk l ON l.query_id = e.query_id AND l.vec_id = e.vec_id
        GROUP BY e.query_id ORDER BY e.query_id
    """

    # pcarec1: recall@k of PCA-space kNN vs exact full-space kNN, both
    # computed from the ONE Spark-written snapshot (vec_id, embedding,
    # proj) — the eigenbasis itself has no SQL oracle (numpy eigh), but
    # every audited number is a pure function of the snapshot, so the
    # engines agree as long as they read the same files (see
    # pca.pcarec1_recall_audit). The kNN shape is sim_knn_bruteforce's,
    # parameterized over which snapshot column is "the embedding".
    def _snap_knn(col: str) -> str:
        valid_q = (
            f"{col} IS NOT NULL AND len({col}) > 0"
            f" AND len(list_filter({col}, x -> x <> 0)) > 0"
            f" AND len(list_filter({col}, x -> x IS NULL)) = 0"
        )
        valid_e = (
            f"e.{col} IS NOT NULL AND len(e.{col}) > 0"
            f" AND len(list_filter(e.{col}, x -> x <> 0)) > 0"
            f" AND len(list_filter(e.{col}, x -> x IS NULL)) = 0"
        )
        cos = (
            "round("
            f"list_sum(list_transform(range(1, len(e.{col}) + 1), i -> e.{col}[i]::DOUBLE * q.q_emb[i]::DOUBLE))"
            f" / (sqrt(list_sum(list_transform(e.{col}, x -> x::DOUBLE * x::DOUBLE)))"
            " * sqrt(list_sum(list_transform(q.q_emb, x -> x::DOUBLE * x::DOUBLE)))), 6)"
        )
        return f"""
          SELECT query_id, vec_id FROM (
            SELECT s.query_id, s.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY s.cos_sim DESC, s.vec_id) AS rn
            FROM (
              SELECT q.query_id, e.vec_id, {cos} + 0.0 AS cos_sim
              FROM snap e, (SELECT vec_id AS query_id, {col} AS q_emb FROM snap
                            WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9) AND {valid_q}) q
              WHERE e.vec_id <> q.query_id AND {valid_e} AND len(e.{col}) = len(q.q_emb)
            ) s
          ) WHERE rn <= 5
        """

    q["pcarec1_pca_recall_audit"] = f"""
        WITH snap AS (
          SELECT vec_id, embedding, proj
          FROM read_parquet('{_scratch("pcarec1.parquet")}/*.parquet')
        ),
        exact AS ({_snap_knn("embedding")}),
        prj AS ({_snap_knn("proj")})
        SELECT e.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(COUNT(p.vec_id) AS BIGINT) AS n_hit,
               round(CAST(COUNT(p.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_k
        FROM exact e
        LEFT JOIN prj p ON p.query_id = e.query_id AND p.vec_id = e.vec_id
        GROUP BY e.query_id ORDER BY e.query_id
    """

    # --- round-11 sketch-error audits (r10 verdict ask #1): every
    # estimate below comes from the Spark-written snapshot parquet
    # (under _scratch, the path the paired query writes); exact ground
    # truth is recomputed from raw events in BOTH engines, so the whole
    # error readout — abs/rel error, rank distance, the within-bound
    # verdict — is hash-comparable. Bounds are the module constants
    # (3-sigma HLL envelopes; eps*n + 1 rank for percentile_approx).
    q["adrec1_distinct_error_audit"] = f"""
        WITH snap AS (
          SELECT event_type, approx_users
          FROM read_parquet('{_scratch("adrec1.parquet")}/*.parquet')
        ),
        exact AS (
          SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
          FROM events GROUP BY event_type
        )
        SELECT e.event_type, e.exact_users, s.approx_users,
               CAST(abs(s.approx_users - e.exact_users) AS BIGINT) AS abs_err,
               round(abs(s.approx_users - e.exact_users)::DOUBLE
                     / greatest(e.exact_users, 1)::DOUBLE, 9) + 0.0 AS rel_err,
               (round(abs(s.approx_users - e.exact_users)::DOUBLE
                      / greatest(e.exact_users, 1)::DOUBLE, 9) + 0.0)
                 <= {ska.ADREC1_BOUND} AS within_bound
        FROM exact e JOIN snap s USING (event_type)
        ORDER BY e.event_type
    """

    q["pxrec1_percentile_rank_audit"] = f"""
        WITH snap AS (
          SELECT event_type, p50, p95, p99
          FROM read_parquet('{_scratch("pxrec1.parquet")}/*.parquet')
        ),
        vals AS (
          SELECT e.event_type, e.value, s.p50, s.p95, s.p99
          FROM events e JOIN snap s USING (event_type)
          WHERE e.value IS NOT NULL
        ),
        per_type AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN value < p50 THEN 1 ELSE 0 END) AS BIGINT) AS lo50,
                 CAST(SUM(CASE WHEN value <= p50 THEN 1 ELSE 0 END) AS BIGINT) AS hi50,
                 CAST(SUM(CASE WHEN value < p95 THEN 1 ELSE 0 END) AS BIGINT) AS lo95,
                 CAST(SUM(CASE WHEN value <= p95 THEN 1 ELSE 0 END) AS BIGINT) AS hi95,
                 CAST(SUM(CASE WHEN value < p99 THEN 1 ELSE 0 END) AS BIGINT) AS lo99,
                 CAST(SUM(CASE WHEN value <= p99 THEN 1 ELSE 0 END) AS BIGINT) AS hi99
          FROM vals GROUP BY event_type
        ),
        un AS (
          SELECT event_type, 'p50' AS quantile, CAST(0.50 AS DOUBLE) AS qfrac,
                 n, lo50 AS lo_rank, hi50 AS hi_rank FROM per_type
          UNION ALL
          SELECT event_type, 'p95', CAST(0.95 AS DOUBLE), n, lo95, hi95 FROM per_type
          UNION ALL
          SELECT event_type, 'p99', CAST(0.99 AS DOUBLE), n, lo99, hi99 FROM per_type
        ),
        dist AS (
          SELECT event_type, quantile, n, lo_rank, hi_rank,
                 CASE WHEN qfrac * n < lo_rank::DOUBLE THEN lo_rank - qfrac * n
                      WHEN qfrac * n > hi_rank::DOUBLE THEN qfrac * n - hi_rank
                      ELSE 0.0 END AS d
          FROM un
        )
        SELECT event_type, quantile, n, lo_rank, hi_rank,
               round(d / n::DOUBLE, 9) + 0.0 AS rank_err,
               d <= {ska.PXREC1_EPS} * n::DOUBLE + 1.0 AS within_bound
        FROM dist ORDER BY event_type, quantile
    """

    q["hllrec1_merge_error_audit"] = f"""
        WITH snap AS (
          SELECT day, est_unique_users
          FROM read_parquet('{_scratch("hllrec1.parquet")}/*.parquet')
          WHERE est_unique_users IS NOT NULL
        ),
        per_day AS (
          -- explicit format: DuckDB's VARCHAR cast trims ' 00:00:00'
          -- from midnight timestamps; Spark's string cast keeps it
          SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
          FROM events GROUP BY 1
        ),
        exact AS (
          SELECT * FROM per_day
          UNION ALL
          SELECT 'all_days' AS day,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
          FROM events
        )
        SELECT e.day, e.exact_users, s.est_unique_users AS approx_users,
               CAST(abs(s.est_unique_users - e.exact_users) AS BIGINT) AS abs_err,
               round(abs(s.est_unique_users - e.exact_users)::DOUBLE
                     / greatest(e.exact_users, 1)::DOUBLE, 9) + 0.0 AS rel_err,
               (round(abs(s.est_unique_users - e.exact_users)::DOUBLE
                      / greatest(e.exact_users, 1)::DOUBLE, 9) + 0.0)
                 <= {ska.HLLREC1_BOUND} AS within_bound
        FROM exact e JOIN snap s USING (day)
        ORDER BY e.day
    """

    q["mm_media_stats"] = """
        WITH media AS (
          SELECT doc_id AS media_id,
                 (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
                 encode(text) AS payload
          FROM documents
        )
        SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
               CAST(MIN(octet_length(payload)) AS INT) AS min_bytes,
               CAST(MAX(octet_length(payload)) AS INT) AS max_bytes
        FROM media GROUP BY kind ORDER BY kind
    """

    q["j1_brand_margin"] = """
        SELECT p_brand,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) - CAST(p_retailprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(18,8))) AS DOUBLE) AS total_margin,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand
    """
    q["set1_status_overlap"] = """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """
    q["set2_exclusive_open"] = """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """
    q["h1_active_customers"] = """
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    """
    q["dagg1_distinct_suppliers"] = """
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """
    q["dd_embed_neardup"] = f"""
        WITH sig AS (
          SELECT vec_id, CAST({_bucket_bits(0, 8)} AS INT) AS bucket FROM embeddings WHERE {_VALID_EMB}
        ),
        wb AS (SELECT e.vec_id, e.embedding, s.bucket FROM embeddings e JOIN sig s USING (vec_id)),
        pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round(
                   list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                   / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
                      * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cos_sim
          FROM wb a JOIN wb b ON a.bucket = b.bucket
          WHERE a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.9
    """

    q["st1_tumbling_counts"] = """
        SELECT date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2, 3
    """
    q["st2_sliding_activity"] = """
        WITH expanded AS (
          SELECT user_id,
                 unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start
          FROM events
        )
        SELECT window_start, user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM expanded GROUP BY 1, 2
    """
    q["st3_session_windows"] = """
        WITH flagged AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR date_diff('second', lag(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          FROM flagged
        )
        SELECT MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
        FROM sess GROUP BY user_id, session_seq
    """

    q["q6_forecast_revenue"] = """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.03 AND l_discount <= 0.07
          AND l_quantity < 25
    """
    q["d1_orders_by_month"] = """
        SELECT CAST(year(o_orderdate) AS INT) AS y,
               CAST(month(o_orderdate) AS INT) AS m,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS month_revenue
        FROM orders GROUP BY 1, 2
    """

    q["pctl_order_value"] = """
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """
    q["w3_order_quartiles"] = """
        SELECT o_orderkey, o_orderstatus,
               round(percent_rank() OVER w, 6) AS pr,
               CAST(ntile(4) OVER w AS INT) AS quartile
        FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """
    q["str1_name_features"] = """
        SELECT c_custkey,
               upper(c_name) AS name_upper,
               substr(c_name, 1, 8) AS name_prefix,
               concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS segment_key,
               lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS padded_key,
               replace(c_name, 'Customer', 'Cust') AS name_short,
               contains(c_name, '0') AS has_zero,
               CAST(length(c_name) AS INT) AS name_len
        FROM customer
    """

    q["asof_purchase_view"] = """
        WITH tagged AS (
          SELECT user_id, event_id, ts, event_type, value,
                 CASE WHEN event_type = 'view' THEN event_id END AS view_id_raw,
                 CASE WHEN event_type = 'view' THEN ts END AS view_ts_raw
          FROM events WHERE event_type IN ('view', 'purchase')
        ),
        enriched AS (
          SELECT user_id, event_id, ts, event_type, value,
                 last_value(view_id_raw IGNORE NULLS) OVER w AS asof_view_id,
                 last_value(view_ts_raw IGNORE NULLS) OVER w AS asof_view_ts
          FROM tagged
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
               CAST(round(CAST(value AS DECIMAL(18,6)), 4) AS DOUBLE) AS purchase_value,
               asof_view_id, asof_view_ts
        FROM enriched WHERE event_type = 'purchase'
    """

    q["x3_json_props"] = """
        SELECT event_id, CAST(props->>'k' AS INT) AS k FROM events
    """

    q["pv1_status_by_priority"] = """
        SELECT o_orderpriority,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
    q["rx1_doc_mentions"] = """
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents
        WHERE text IS NOT NULL AND regexp_matches(text, '\\bmerge\\b')
        GROUP BY source ORDER BY source
    """
    q["arr1_embedding_stats"] = """
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS dim,
               round(list_min(list_transform(embedding, x -> x::DOUBLE)), 6) AS min_val,
               round(list_max(list_transform(embedding, x -> x::DOUBLE)), 6) AS max_val,
               CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0
                    THEN round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 6)
               END AS l2_norm
        FROM embeddings
    """

    q["sq1_big_spenders"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 400000.0
        )
    """
    q["g2_grouping_sets"] = """
        SELECT r_name, n_name, CAST(GROUPING(r_name, n_name) AS INT) AS gid,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS order_cnt
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
    """

    q["pd1_source_char_stats"] = """
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
               round(quantile_cont(n_chars, 0.75) - quantile_cont(n_chars, 0.25), 4) AS iqr_chars
        FROM documents GROUP BY source
    """

    q["q10_returned_revenue"] = """
        SELECT c_custkey, c_name, n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS lost_revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY lost_revenue DESC, c_custkey
        LIMIT 20
    """
    q["q18_large_orders"] = """
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
               CAST(big._qty AS DOUBLE) AS total_qty
        FROM (
          SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS _qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150.0
        ) big
        JOIN orders ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """

    q["l1_latest_order"] = """
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS _rn
          FROM orders
        ) WHERE _rn = 1
    """
    q["sc1_above_avg_orders"] = """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > (
          SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
          FROM orders i WHERE i.o_custkey = o.o_custkey
        )
    """

    # ---- round-2 widening ----
    q["q4_order_priority"] = """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
    _rev = (
        "CAST(l_extendedprice AS DECIMAL(18,4))"
        " * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"
    )
    q["q14_promo_revenue"] = f"""
        WITH agg AS (
          SELECT
            CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_rev}
                          ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_rev,
            CAST(SUM({_rev}) AS DOUBLE) AS total_rev
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-09-01'
            AND l_shipdate < TIMESTAMP '1996-10-01'
        )
        SELECT round(100.0 * promo_rev / total_rev, 6) AS promo_pct,
               round(promo_rev, 4) AS promo_rev,
               round(total_rev, 4) AS total_rev
        FROM agg
    """
    q["q19_disjunctive_revenue"] = f"""
        SELECT CAST(SUM({_rev}) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#20' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 40)
    """
    q["rj1_nearby_errors"] = """
        SELECT p.event_id AS purchase_event_id,
               CAST(COUNT(e.ts) AS BIGINT) AS n_nearby_errors
        FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT ts FROM events WHERE event_type = 'error') e
          ON abs(date_diff('second', p.ts, e.ts)) <= 300
        GROUP BY 1
    """
    _email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _phone_re = "\\+?[0-9][0-9-]{6,}[0-9]"
    q["t5_redact_pii"] = f"""
        WITH src AS (
          SELECT c_custkey,
                 'contact ' || c_name || ' at ' || lower(replace(c_name, '#', '.'))
                 || '@corp.example or +1-555-'
                 || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS note
          FROM customer
        ), pass1 AS (
          SELECT c_custkey, note,
                 regexp_replace(note, '{_email_re}', '<EMAIL>', 'g') AS deemailed
          FROM src
        )
        SELECT c_custkey,
               regexp_replace(deemailed, '{_phone_re}', '<PHONE>', 'g') AS redacted,
               CAST(len(regexp_extract_all(note, '{_email_re}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(deemailed, '{_phone_re}')) AS INT) AS n_phones
        FROM pass1
    """
    q["t6_char_entropy"] = """
        WITH chars AS (
          SELECT doc_id, unnest(string_split(text, '')) AS c
          FROM documents WHERE text IS NOT NULL AND len(text) > 0
        )
        SELECT doc_id, round(entropy(c), 6) AS char_entropy
        FROM chars GROUP BY doc_id
    """
    q["q7_nation_trade"] = f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS ship_year,
               CAST(SUM({_rev}) AS DOUBLE) AS volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
           OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """
    q["w4_trailing_hour_value"] = """
        SELECT user_id, event_id,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                 PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS trailing_hour_value
        FROM events
    """
    q["w5_order_gaps"] = """
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS INT) AS days_since_prev,
               CAST(date_diff('day', o_orderdate, lead(o_orderdate) OVER w) AS INT) AS days_to_next,
               CAST(ntile(4) OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS spend_quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """
    q["t7_vocab_topk"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        )
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY tok HAVING COUNT(DISTINCT doc_id) >= 2
        ORDER BY tf DESC, tok LIMIT 100
    """
    q["t8_bigrams_udtf"] = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS t FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id, CAST(r.i AS INT) AS pos,
               t[r.i + 1] || ' ' || t[r.i + 2] AS bigram
        FROM toks, UNNEST(range(0, greatest(len(t) - 1, 0))) AS r(i)
    """
    q["q8_market_share"] = f"""
        WITH agg AS (
          SELECT CAST(year(o_orderdate) AS INT) AS order_year,
                 CAST(SUM(CASE WHEN sn.n_name = 'NATION_1' THEN {_rev}
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_rev,
                 CAST(SUM({_rev}) AS DOUBLE) AS total_rev
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region ON cn.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE r_name = 'EUROPE'
          GROUP BY 1
        )
        SELECT order_year, round(nation_rev / total_rev, 6) AS mkt_share,
               round(nation_rev, 4) AS nation_rev, round(total_rev, 4) AS total_rev
        FROM agg ORDER BY order_year
    """
    q["g3_cube_status_priority"] = """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """
    q["sk1_salted_brand_revenue"] = f"""
        SELECT p_brand, CAST(SUM({_rev}) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand
    """
    q["sk2_two_phase_status_revenue"] = """
        SELECT o_orderstatus,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 4) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1 ORDER BY 1
    """
    q["emb_label_centroids"] = """
        SELECT label, CAST(r.i AS INT) AS dim,
               round(avg(embedding[r.i + 1]::DOUBLE), 6) + 0.0 AS centroid_v,
               CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM embeddings, UNNEST(range(0, len(embedding))) AS r(i)
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    q["fo1_order_event_coverage"] = """
        WITH od AS (
          SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1
        ), ev AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1
        )
        SELECT COALESCE(od.day, ev.day) AS day,
               COALESCE(n_orders, 0) AS n_orders,
               COALESCE(n_events, 0) AS n_events,
               (n_orders IS NULL OR n_events IS NULL) AS one_sided
        FROM od FULL OUTER JOIN ev ON od.day = ev.day
    """
    q["t9_top_tokens_per_source"] = f"""
        WITH counts AS (
          SELECT source, unnest({_TOKS}) AS tok, 1 AS one
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ), agg AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
          FROM counts GROUP BY 1, 2
        )
        SELECT source, tok, n, CAST(rn AS INT) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rn
          FROM agg
        ) WHERE rn <= 5
    """
    q["mix1_corpus_mixture"] = """
        WITH gated AS (
          SELECT doc_id, source, lang, n_chars,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS g,
                 CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 80
                             WHEN 'src2' THEN 60 WHEN 'src3' THEN 30
                             ELSE 50 END AS r
          FROM documents
        )
        SELECT doc_id, source, lang, n_chars FROM gated WHERE g < r
    """
    q["pack1_sequence_packing"] = """
        WITH sized AS (
          SELECT doc_id, source,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
          FROM documents WHERE text IS NOT NULL
        ), cum AS (
          SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
          FROM sized
        )
        SELECT doc_id, source, n_tokens,
               cum_tokens - n_tokens AS stream_offset,
               CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS bin_id
        FROM cum
    """
    q["q13_customer_distribution"] = """
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
          SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey
        )
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """
    q["q15_top_supplier"] = f"""
        WITH window_rev AS (
          SELECT l_suppkey, CAST(SUM({_rev}) AS DOUBLE) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, round(total_revenue, 4) AS total_revenue
        FROM window_rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM window_rev)
        ORDER BY s_suppkey
    """
    q["q17_small_quantity_revenue"] = """
        WITH per_part AS (
          SELECT l_partkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty
          FROM lineitem GROUP BY l_partkey
        )
        SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 4) AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN per_part ON lineitem.l_partkey = per_part.l_partkey
        WHERE p_brand = 'Brand#13' AND l_quantity < 0.2 * avg_qty
    """
    q["q21_suppliers_kept_waiting"] = """
        WITH late AS (
          SELECT DISTINCT l_orderkey, l_suppkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        ),
        allsupp AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM late l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_1'
          AND EXISTS (
            SELECT 1 FROM allsupp a
            WHERE a.l_orderkey = l1.l_orderkey AND a.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM late l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
        GROUP BY s_name ORDER BY numwait DESC, s_name
    """
    q["q22_global_sales_opportunity"] = """
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
            FROM customer WHERE c_acctbal > 0.0
          )
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """
    q["w6_order_position_stats"] = """
        SELECT o_custkey, o_orderkey,
               round(percent_rank() OVER w, 6) AS price_pct_rank,
               round(cume_dist() OVER w, 6) AS price_cume_dist,
               nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                 AS second_cheapest_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """
    q["er1_fuzzy_name_pairs"] = """
        SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
               a.c_mktsegment AS seg,
               CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
        FROM customer a JOIN customer b ON a.c_mktsegment = b.c_mktsegment
        WHERE a.c_custkey < b.c_custkey
          AND abs(len(a.c_name) - len(b.c_name)) <= 1
          AND levenshtein(a.c_name, b.c_name) <= 1
    """
    q["hist1_price_histogram"] = """
        SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               round(MIN(o_totalprice), 2) AS bin_min,
               round(MAX(o_totalprice), 2) AS bin_max,
               CAST(floor(o_totalprice / 50000.0) AS INT) * 50000.0 AS bin_lo
        FROM orders
        GROUP BY 1 ORDER BY 1
    """
    q["t10_tfidf_top_terms"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        tf AS (
          SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
          FROM toks GROUP BY 1, 2
        ),
        dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        n AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        scored AS (
          SELECT doc_id, tok, tf, df,
                 round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf
          FROM tf JOIN dfreq USING (tok) CROSS JOIN n
          WHERE df >= 2
        )
        SELECT doc_id, tok, tf, df, tfidf, CAST(rn AS INT) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
          FROM scored
        ) WHERE rn <= 3
    """
    q["samp1_stratified_sample"] = """
        SELECT doc_id, source, lang, n_chars, CAST(rn AS INT) AS sample_rank
        FROM (
          SELECT doc_id, source, lang, n_chars,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents
        ) WHERE rn <= 50
    """

    q["samp2_weighted_reservoir"] = """
        SELECT doc_id, source, n_chars, samp_key, CAST(rn AS INT) AS sample_rank
        FROM (
          SELECT doc_id, source, n_chars, samp_key,
                 ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY samp_key, doc_id) AS rn
          FROM (
            SELECT doc_id, source, n_chars,
                   round(
                     -ln(
                       (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1.0)
                       / 1152921504606846976.0
                     ) / greatest(CAST(n_chars AS DOUBLE), 1.0), 6) AS samp_key
            FROM documents
          )
        ) WHERE rn <= 10
    """

    # kmeans1: the Spark side runs 2 fixed Lloyd's rounds with bounded
    # k-row driver collects between them; the oracle UNROLLS the same
    # two rounds as CTEs. Determinism pivots: 6-dp rounded dots before
    # argmax (ties → lowest cluster_id), per-dim DECIMAL(28,12) means
    # rounded to 12 dp, init = first k vectors by vec_id.
    # shared kmeans fit chain (init -> assign -> recompute -> rescore):
    # kmeans1 reads the rn=1 assignment off s2; sil1 additionally reads
    # the rn=2 sim (second-best centroid) for the assignment margin —
    # ONE definition of the fit, two readouts (the _gq_sql discipline)
    _km_prefix = f"""init AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster_id,
                 embedding AS centroid
          FROM (SELECT vec_id, embedding FROM embeddings
                WHERE {_VALID_EMB} AND {_FIT_W} ORDER BY vec_id LIMIT 8)
        ),
        s1 AS (
          SELECT e.vec_id, e.embedding, c.cluster_id,
                 round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> e.embedding[i]::DOUBLE * c.centroid[i]::DOUBLE)), 6) AS sim
          FROM embeddings e CROSS JOIN init c WHERE {_VALID_EMB_E} AND {_FIT_W_E}
        ),
        a1 AS (
          SELECT vec_id, embedding, cluster_id, sim
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cluster_id) AS rn FROM s1)
          WHERE rn = 1
        ),
        m1 AS (
          SELECT cluster_id, r.i,
                 round(CAST(SUM(CAST(CAST(embedding[r.i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(*), 12) AS m
          FROM a1, UNNEST(range(1, len(embedding) + 1)) AS r(i)
          GROUP BY cluster_id, r.i
        ),
        c1 AS (
          SELECT cluster_id, list(m ORDER BY i) AS centroid
          FROM m1 GROUP BY cluster_id
        ),
        s2 AS (
          SELECT e.vec_id, c.cluster_id,
                 round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> e.embedding[i]::DOUBLE * c.centroid[i])), 6) AS sim
          FROM embeddings e CROSS JOIN c1 c WHERE {_VALID_EMB_E} AND {_FIT_W_E}
        ),
        r2 AS (
          SELECT vec_id, cluster_id, sim, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cluster_id) AS rn
          FROM s2
        )"""
    q["kmeans1_topic_clusters"] = f"""
        WITH {_km_prefix},
        a2 AS (SELECT vec_id, cluster_id, sim FROM r2 WHERE rn = 1)
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(CAST(round(sim * 1000000, 0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0 AS mean_sim
        FROM a2 GROUP BY cluster_id ORDER BY cluster_id
    """
    # sil1: margin = own (rn=1) sim minus second-best (rn=2) sim — under
    # ties the second-largest VALUE equals the max, margin 0, exactly
    # Spark's element-2-of-descending-sorted-array; a single-centroid
    # fit leaves the margin NULL via the left join (no rn=2 row)
    q["sil1_cluster_margins"] = f"""
        WITH {_km_prefix},
        own AS (SELECT vec_id, cluster_id, sim FROM r2 WHERE rn = 1),
        snd AS (SELECT vec_id, sim AS sim2 FROM r2 WHERE rn = 2),
        m AS (
          SELECT own.cluster_id, round(own.sim - snd.sim2, 6) AS margin
          FROM own LEFT JOIN snd USING (vec_id)
        )
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(CAST(round(margin * 1000000, 0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0 AS mean_margin,
               MIN(margin) AS min_margin
        FROM m GROUP BY cluster_id ORDER BY cluster_id
    """

    # sim_knn_ivf (oracle-paired round 9): the IVF coarse quantizer IS
    # the kmeans fit chain (k=16 here), unrolled exactly like kmeans1 —
    # then probe ranking (6-dp rounded query·centroid dot, ties →
    # lowest cell), candidate gathering from the final assignment, and
    # the knn_bruteforce exact-cosine rerank. Cell ids here are the
    # chain's original cluster ids while Spark's are positional rows of
    # the collected centroid matrix — a monotone relabeling, so probe
    # selection, candidate sets and the (id-free) output agree.
    _ivf_chain = f"""iinit AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
                 embedding AS centroid
          FROM (SELECT vec_id, embedding FROM embeddings
                WHERE {_VALID_EMB} AND {_FIT_W} ORDER BY vec_id LIMIT 16)
        ),
        is1 AS (
          SELECT e.vec_id, e.embedding, c.cell_id,
                 round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> e.embedding[i]::DOUBLE * c.centroid[i]::DOUBLE)), 6) AS sim
          FROM embeddings e CROSS JOIN iinit c WHERE {_VALID_EMB_E} AND {_FIT_W_E}
        ),
        ia1 AS (
          SELECT vec_id, embedding, cell_id
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn FROM is1)
          WHERE rn = 1
        ),
        im1 AS (
          SELECT cell_id, r.i,
                 round(CAST(SUM(CAST(CAST(embedding[r.i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(*), 12) AS m
          FROM ia1, UNNEST(range(1, len(embedding) + 1)) AS r(i)
          GROUP BY cell_id, r.i
        ),
        ic1 AS (
          SELECT cell_id, list(m ORDER BY i) AS centroid
          FROM im1 GROUP BY cell_id
        ),
        icells AS (
          SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cell_id, row_number() OVER (
                     PARTITION BY e.vec_id ORDER BY
                     round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                           i -> e.embedding[i]::DOUBLE * c.centroid[i])), 6) DESC,
                     c.cell_id) AS rn
            FROM embeddings e CROSS JOIN ic1 c WHERE {_VALID_EMB_E} AND {_FIT_W_E}
          ) WHERE rn = 1
        ),
        iq AS (
          SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
          WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9) AND {_VALID_EMB} AND {_FIT_W}
        ),
        iprobe AS (
          SELECT query_id, cell_id FROM (
            SELECT q.query_id, c.cell_id, row_number() OVER (
                     PARTITION BY q.query_id ORDER BY
                     round(list_sum(list_transform(range(1, len(q.q_emb) + 1),
                           i -> q.q_emb[i]::DOUBLE * c.centroid[i])), 6) DESC,
                     c.cell_id) AS rk
            FROM iq q CROSS JOIN ic1 c
          ) WHERE rk <= 4
        ),
        icand AS (
          SELECT p.query_id, cl.vec_id
          FROM iprobe p JOIN icells cl USING (cell_id)
          WHERE cl.vec_id <> p.query_id
        ),
        iscored AS (
          SELECT q.query_id, e.vec_id, {_cos} + 0.0 AS cos_sim
          FROM icand c
          JOIN iq q ON q.query_id = c.query_id
          JOIN embeddings e ON e.vec_id = c.vec_id
        )"""
    q["sim_knn_ivf"] = f"""
        WITH {_ivf_chain}
        SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
              FROM iscored)
        WHERE rn <= 5
    """
    q["ivfrec1_ivf_recall_audit"] = f"""
        WITH exact AS ({q["sim_knn_bruteforce"]}),
        ivfk AS ({q["sim_knn_ivf"]})
        SELECT e.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit,
               round(CAST(COUNT(i.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_k
        FROM exact e
        LEFT JOIN ivfk i ON i.query_id = e.query_id AND i.vec_id = e.vec_id
        GROUP BY e.query_id ORDER BY e.query_id
    """

    # pq1 (oracle-paired round 9): per-subspace kmeans-discipline
    # codebook fits unrolled per subspace j (6-dp rounded squared-L2
    # assignment, ties → lowest code; DECIMAL per-dim means rounded to
    # 12 dp; empty codes keep their init entry via COALESCE), then the
    # ADC stage: 9-dp rounded per-(query, subspace, code) dot tables,
    # EXACT nano-unit BIGINT sums (order-free, so this GROUP BY SUM and
    # Spark's fixed-order fold agree bit-for-bit), 6-dp candidate
    # ranking, and the shared exact-cosine rerank.
    _pq_m, _pq_sub, _pq_k = 8, 8, 16
    _pq_parts = [
        f"""pfw AS (
          SELECT vec_id, embedding FROM embeddings
          WHERE {_VALID_EMB} AND {_FIT_W}
        ),
        pinit AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
                 embedding
          FROM (SELECT vec_id, embedding FROM pfw ORDER BY vec_id LIMIT {_pq_k})
        )"""
    ]
    for _j in range(_pq_m):
        _lo = _j * _pq_sub
        _d2 = (
            f"round(list_sum(list_transform(range(1, {_pq_sub} + 1), "
            f"d -> (f.embedding[{_lo} + d]::DOUBLE - i.entry[d]) * "
            f"(f.embedding[{_lo} + d]::DOUBLE - i.entry[d]))), 6)"
        )
        _pq_parts.append(f"""pinit_{_j} AS (
          SELECT code, list_transform(embedding[{_lo + 1}:{_lo + _pq_sub}], x -> x::DOUBLE) AS entry
          FROM pinit
        ),
        pa1_{_j} AS (
          SELECT vec_id, embedding, code FROM (
            SELECT f.vec_id, f.embedding, i.code, row_number() OVER (
                     PARTITION BY f.vec_id ORDER BY {_d2} ASC, i.code) AS rn
            FROM pfw f CROSS JOIN pinit_{_j} i
          ) WHERE rn = 1
        ),
        pm1_{_j} AS (
          SELECT code, r.d,
                 round(CAST(SUM(CAST(CAST(embedding[{_lo} + r.d] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(*), 12) AS m
          FROM pa1_{_j}, UNNEST(range(1, {_pq_sub} + 1)) AS r(d)
          GROUP BY code, r.d
        ),
        pmb_{_j} AS (SELECT code, list(m ORDER BY d) AS entry FROM pm1_{_j} GROUP BY code),
        pc1_{_j} AS (
          SELECT i.code, COALESCE(b.entry, i.entry) AS entry
          FROM pinit_{_j} i LEFT JOIN pmb_{_j} b USING (code)
        ),
        pcode_{_j} AS (
          SELECT vec_id, code FROM (
            SELECT f.vec_id, i.code, row_number() OVER (
                     PARTITION BY f.vec_id ORDER BY {_d2} ASC, i.code) AS rn
            FROM pfw f CROSS JOIN pc1_{_j} i
          ) WHERE rn = 1
        )""")
    _pq_codes_union = "\n          UNION ALL ".join(
        f"SELECT vec_id, {j} AS j, code FROM pcode_{j}" for j in range(_pq_m)
    )
    _pq_lut_union = "\n          UNION ALL ".join(
        f"SELECT q.query_id, {j} AS j, c.code, "
        f"round(list_sum(list_transform(range(1, {_pq_sub} + 1), "
        f"d -> q.q_emb[{j * _pq_sub} + d]::DOUBLE * c.entry[d])), 9) AS term "
        f"FROM pqq q CROSS JOIN pc1_{j} c"
        for j in range(_pq_m)
    )
    _pq_parts.append(f"""pqq AS (
          SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
          WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9) AND {_VALID_EMB} AND {_FIT_W}
        ),
        pcodes AS (
          {_pq_codes_union}
        ),
        plut AS (
          {_pq_lut_union}
        ),
        padc AS (
          SELECT l.query_id, cd.vec_id,
                 round(CAST(SUM(CAST(round(l.term * 1000000000.0, 0) AS BIGINT)) AS DOUBLE)
                       / 1000000000.0, 6) AS adc_dot
          FROM pcodes cd JOIN plut l ON l.j = cd.j AND l.code = cd.code
          WHERE cd.vec_id <> l.query_id
          GROUP BY l.query_id, cd.vec_id
        ),
        pcand AS (
          SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (
                     PARTITION BY query_id ORDER BY adc_dot DESC, vec_id) AS rn
            FROM padc
          ) WHERE rn <= 50
        ),
        pscored AS (
          SELECT q.query_id, e.vec_id, {_cos} + 0.0 AS cos_sim
          FROM pcand c
          JOIN pqq q ON q.query_id = c.query_id
          JOIN embeddings e ON e.vec_id = c.vec_id
        )""")
    _pq_chain = ",\n        ".join(_pq_parts)
    q["pq1_quantized_knn"] = f"""
        WITH {_pq_chain}
        SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
              FROM pscored)
        WHERE rn <= 5
    """
    # ivfpq1 (raw mode, oracle-paired round 9): the UNION of the two
    # chains above — the IVF chain supplies cells + probe selection, the
    # PQ chain supplies codes + luts; the ADC stage is pq1's exact
    # nano-unit sum RESTRICTED to each query's probed cells (join
    # through icells), mirroring Spark's round(qc_dot + adc, 6) with
    # raw-mode qc_dot = 0.0. Unused tail CTEs of either chain (iscored,
    # padc/pcand/pscored) are dead and never materialized.
    q["ivfpq1_quantized_knn"] = f"""
        WITH {_ivf_chain},
        {_pq_chain},
        xadc AS (
          SELECT p.query_id, cd.vec_id,
                 round(CAST(0 AS DOUBLE) +
                       round(CAST(SUM(CAST(round(l.term * 1000000000.0, 0) AS BIGINT)) AS DOUBLE)
                             / 1000000000.0, 6), 6) AS adc_dot
          FROM pcodes cd
          JOIN icells cl ON cl.vec_id = cd.vec_id
          JOIN iprobe p ON p.cell_id = cl.cell_id
          JOIN plut l ON l.query_id = p.query_id
                     AND l.j = cd.j AND l.code = cd.code
          WHERE cd.vec_id <> p.query_id
          GROUP BY p.query_id, cd.vec_id
        ),
        xcand AS (
          SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (
                     PARTITION BY query_id ORDER BY adc_dot DESC, vec_id) AS rn
            FROM xadc
          ) WHERE rn <= 50
        ),
        xscored AS (
          SELECT q.query_id, e.vec_id, {_cos} + 0.0 AS cos_sim
          FROM xcand c
          JOIN iq q ON q.query_id = c.query_id
          JOIN embeddings e ON e.vec_id = c.vec_id
        )
        SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
              FROM xscored)
        WHERE rn <= 5
    """

    # ivfpq2 (residual mode, IVFADC proper — oracle-paired round 9): the
    # ivfpq1 chains plus (a) per-cell anchor MEANS of the final
    # assignment (DECIMAL per-dim means rounded 12 dp; emptied cells
    # COALESCE to their centroid), (b) a residual frame
    # x − mean[cell] the PQ fit/encode chain runs over verbatim (the
    # ::DOUBLE casts are no-ops on the residual doubles, so the chain
    # text is the raw template with r-prefixed names), and (c) the
    # per-(query, probed-cell) constant qc = round(q·mean, 9) added to
    # the nano-unit ADC sum before the 6-dp round — exactly Spark's
    # round(qc_dot + adc_expr, 6).
    _r_parts = [
        """amean AS (
          SELECT cl.cell_id, r.i,
                 round(CAST(SUM(CAST(CAST(e.embedding[r.i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(*), 12) AS mv
          FROM icells cl JOIN embeddings e ON e.vec_id = cl.vec_id,
               UNNEST(range(1, len(e.embedding) + 1)) AS r(i)
          GROUP BY cl.cell_id, r.i
        ),
        anch0 AS (SELECT cell_id, list(mv ORDER BY i) AS mean_vec FROM amean GROUP BY cell_id),
        anch AS (
          SELECT c.cell_id, COALESCE(a.mean_vec, c.centroid) AS mean_vec
          FROM ic1 c LEFT JOIN anch0 a USING (cell_id)
        ),
        rfw AS (
          SELECT cl.vec_id,
                 list_transform(range(1, len(e.embedding) + 1),
                                i -> e.embedding[i]::DOUBLE - a.mean_vec[i]) AS embedding
          FROM icells cl
          JOIN embeddings e ON e.vec_id = cl.vec_id
          JOIN anch a ON a.cell_id = cl.cell_id
        ),
        rinit AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
                 embedding
          FROM (SELECT vec_id, embedding FROM rfw ORDER BY vec_id LIMIT """
        + str(_pq_k)
        + """)
        )"""
    ]
    for _j in range(_pq_m):
        _lo = _j * _pq_sub
        _d2 = (
            f"round(list_sum(list_transform(range(1, {_pq_sub} + 1), "
            f"d -> (f.embedding[{_lo} + d]::DOUBLE - i.entry[d]) * "
            f"(f.embedding[{_lo} + d]::DOUBLE - i.entry[d]))), 6)"
        )
        _r_parts.append(f"""rinit_{_j} AS (
          SELECT code, list_transform(embedding[{_lo + 1}:{_lo + _pq_sub}], x -> x::DOUBLE) AS entry
          FROM rinit
        ),
        ra1_{_j} AS (
          SELECT vec_id, embedding, code FROM (
            SELECT f.vec_id, f.embedding, i.code, row_number() OVER (
                     PARTITION BY f.vec_id ORDER BY {_d2} ASC, i.code) AS rn
            FROM rfw f CROSS JOIN rinit_{_j} i
          ) WHERE rn = 1
        ),
        rm1_{_j} AS (
          SELECT code, r.d,
                 round(CAST(SUM(CAST(CAST(embedding[{_lo} + r.d] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(*), 12) AS m
          FROM ra1_{_j}, UNNEST(range(1, {_pq_sub} + 1)) AS r(d)
          GROUP BY code, r.d
        ),
        rmb_{_j} AS (SELECT code, list(m ORDER BY d) AS entry FROM rm1_{_j} GROUP BY code),
        rc1_{_j} AS (
          SELECT i.code, COALESCE(b.entry, i.entry) AS entry
          FROM rinit_{_j} i LEFT JOIN rmb_{_j} b USING (code)
        ),
        rcode_{_j} AS (
          SELECT vec_id, code FROM (
            SELECT f.vec_id, i.code, row_number() OVER (
                     PARTITION BY f.vec_id ORDER BY {_d2} ASC, i.code) AS rn
            FROM rfw f CROSS JOIN rc1_{_j} i
          ) WHERE rn = 1
        )""")
    _r_codes_union = "\n          UNION ALL ".join(
        f"SELECT vec_id, {j} AS j, code FROM rcode_{j}" for j in range(_pq_m)
    )
    _r_lut_union = "\n          UNION ALL ".join(
        f"SELECT q.query_id, {j} AS j, c.code, "
        f"round(list_sum(list_transform(range(1, {_pq_sub} + 1), "
        f"d -> q.q_emb[{j * _pq_sub} + d]::DOUBLE * c.entry[d])), 9) AS term "
        f"FROM iq q CROSS JOIN rc1_{j} c"
        for j in range(_pq_m)
    )
    _r_parts.append(f"""rcodes AS (
          {_r_codes_union}
        ),
        rlut AS (
          {_r_lut_union}
        ),
        qcc AS (
          SELECT p.query_id, p.cell_id,
                 round(list_sum(list_transform(range(1, len(q.q_emb) + 1),
                       i -> q.q_emb[i]::DOUBLE * a.mean_vec[i])), 9) AS qc_dot
          FROM iprobe p
          JOIN iq q ON q.query_id = p.query_id
          JOIN anch a ON a.cell_id = p.cell_id
        ),
        yadc AS (
          SELECT qc.query_id, cd.vec_id,
                 round(qc.qc_dot +
                       round(CAST(SUM(CAST(round(l.term * 1000000000.0, 0) AS BIGINT)) AS DOUBLE)
                             / 1000000000.0, 6), 6) AS adc_dot
          FROM rcodes cd
          JOIN icells cl ON cl.vec_id = cd.vec_id
          JOIN qcc qc ON qc.cell_id = cl.cell_id
          JOIN rlut l ON l.query_id = qc.query_id
                     AND l.j = cd.j AND l.code = cd.code
          WHERE cd.vec_id <> qc.query_id
          GROUP BY qc.query_id, cd.vec_id, qc.qc_dot
        ),
        ycand AS (
          SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (
                     PARTITION BY query_id ORDER BY adc_dot DESC, vec_id) AS rn
            FROM yadc
          ) WHERE rn <= 50
        ),
        yscored AS (
          SELECT q.query_id, e.vec_id, {_cos} + 0.0 AS cos_sim
          FROM ycand c
          JOIN iq q ON q.query_id = c.query_id
          JOIN embeddings e ON e.vec_id = c.vec_id
        )""")
    _r_chain = ",\n        ".join(_r_parts)
    q["ivfpq2_residual_knn"] = f"""
        WITH {_ivf_chain},
        {_r_chain}
        SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
              FROM yscored)
        WHERE rn <= 5
    """

    q["pqrec1_pq_recall_audit"] = f"""
        WITH exact AS ({q["sim_knn_bruteforce"]}),
        pqk AS ({q["pq1_quantized_knn"]})
        SELECT e.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(COUNT(p.vec_id) AS BIGINT) AS n_hit,
               round(CAST(COUNT(p.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_k
        FROM exact e
        LEFT JOIN pqk p ON p.query_id = e.query_id AND p.vec_id = e.vec_id
        GROUP BY e.query_id ORDER BY e.query_id
    """

    q["stat1_price_quantity_stats"] = """
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS qty_price_corr,
               round(covar_samp(l_quantity, l_extendedprice), 2) + 0.0 AS qty_price_covar,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem GROUP BY 1 ORDER BY 1
    """

    # rep1/decon1/chunk1: word n-grams over the SAME normalized tokens as
    # the dedup family; \x01-joined so the gram string is unambiguous.
    q["rep1_repetition_stats"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS l FROM documents WHERE text IS NOT NULL
        ),
        g AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(l) - 1),
                                       i -> l[i] || chr(1) || l[i + 1])) AS g
          FROM t WHERE len(l) >= 2
        ),
        c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_ngrams,
               CAST(COUNT(*) AS BIGINT) AS n_uniq_ngrams,
               round((CAST(SUM(c) AS DOUBLE) - COUNT(*)) / CAST(SUM(c) AS DOUBLE), 6)
                 AS dup_ngram_ratio,
               round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
                 AS top_ngram_frac
        FROM c GROUP BY doc_id
    """

    q["decon1_benchmark_overlap"] = f"""
        WITH t AS (
          SELECT doc_id, source, {_TOKS} AS l
          FROM documents WHERE text IS NOT NULL
        ),
        g AS (
          SELECT doc_id, source,
                 unnest(list_distinct(list_transform(
                   generate_series(1, len(l) - 2),
                   i -> l[i] || chr(1) || l[i + 1] || chr(1) || l[i + 2]))) AS g
          FROM t WHERE len(l) >= 3
        ),
        b AS (
          SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
          FROM g WHERE source = 'src0'
        ),
        c AS (
          SELECT doc_id, source, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
          FROM g WHERE source <> 'src0'
        )
        SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
        FROM c JOIN b USING (gh) GROUP BY 1, 2
    """

    q["chunk1_doc_chunks"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS l
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        s AS (
          SELECT doc_id, l, unnest(generate_series(1, len(l), 48)) AS start
          FROM t
        )
        SELECT doc_id,
               CAST((start - 1) // 48 AS INT) AS chunk_idx,
               CAST(len(l[start : start + 63]) AS BIGINT) AS n_chunk_tokens,
               array_to_string(l[start : start + 63], ' ') AS chunk_text
        FROM s
    """

    q["ohlc1_hourly_value"] = """
        WITH r AS (
          SELECT date_trunc('hour', ts) AS h, event_type, value,
                 first_value(value) OVER (
                   PARTITION BY date_trunc('hour', ts), event_type
                   ORDER BY ts, event_id) AS open_v,
                 last_value(value) OVER (
                   PARTITION BY date_trunc('hour', ts), event_type
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close_v
          FROM events
        )
        SELECT h AS window_start, event_type,
               MIN(open_v) AS open, MAX(value) AS high,
               MIN(value) AS low, MIN(close_v) AS close,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM r GROUP BY 1, 2
    """

    q["ts1_gapfill_hourly"] = """
        WITH b AS (
          SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
          FROM events
        ),
        spine AS (
          SELECT unnest(generate_series(CAST(h0 AS TIMESTAMP), CAST(h1 AS TIMESTAMP),
                                        INTERVAL 1 HOUR)) AS window_start
          FROM b
        ),
        c AS (
          SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                 COUNT(*) AS n
          FROM events GROUP BY 1
        )
        SELECT window_start, CAST(COALESCE(n, 0) AS BIGINT) AS n_events
        FROM spine LEFT JOIN c USING (window_start)
    """

    # -- derived-partsupp TPC-H completion ---------------------------------
    # The same deterministic derivation as tpch.derived_partsupp, as a CTE:
    # 4 suppliers per part at stride floor(n_supp/4); availqty and
    # supplycost (integer cents) from exact integer arithmetic.
    partsupp_cte = """
        s_cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_supp FROM supplier),
        ps0 AS (
          SELECT p_partkey AS ps_partkey,
                 (p_partkey + i.i * CAST(FLOOR(n_supp / 4) AS BIGINT)) % n_supp AS ps_suppkey
          FROM part CROSS JOIN s_cnt
               CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2), (3)) AS i(i)
        ),
        partsupp AS (
          SELECT ps_partkey, ps_suppkey,
                 CAST(1 + (ps_partkey * 37 + ps_suppkey * 71) % 9999 AS BIGINT) AS ps_availqty,
                 CAST(100 * (1 + (ps_partkey * 13 + ps_suppkey * 7) % 900)
                      + ps_partkey % 100 AS BIGINT) AS ps_supplycost_cents
          FROM ps0
        )
    """

    q["q2_min_cost_supplier"] = f"""
        WITH {partsupp_cte},
        eligible AS (
          SELECT ps_partkey, ps_supplycost_cents, s_acctbal, s_name, n_name
          FROM partsupp
          JOIN supplier ON ps_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          JOIN part ON ps_partkey = p_partkey
          WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        )
        SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey,
               round(ps_supplycost_cents / 100.0, 2) AS supply_cost
        FROM eligible e
        WHERE ps_supplycost_cents = (
          SELECT MIN(ps_supplycost_cents) FROM eligible e2
          WHERE e2.ps_partkey = e.ps_partkey
        )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """

    q["q9_product_type_profit"] = f"""
        WITH {partsupp_cte}
        SELECT n_name AS nation,
               CAST(YEAR(o_orderdate) AS INT) AS o_year,
               round(CAST(SUM(
                 CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                      AS DECIMAL(28,8)) * CAST(100 AS DECIMAL(3,0)) AS DECIMAL(37,8))
                 - CAST(CAST(CAST(ps_supplycost_cents AS DECIMAL(18,2))
                             * CAST(l_quantity AS DECIMAL(18,4))
                        AS DECIMAL(28,8)) AS DECIMAL(37,8))
               ) AS DOUBLE), 4) AS sum_profit_cents
        FROM lineitem
        JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        JOIN part ON ps_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%bolt%'
        GROUP BY 1, 2
        ORDER BY 1, 2
    """

    q["q11_important_stock"] = f"""
        WITH {partsupp_cte},
        per_part AS (
          SELECT ps_partkey,
                 CAST(SUM(ps_supplycost_cents * ps_availqty) AS BIGINT) AS value_cents
          FROM partsupp
          JOIN supplier ON ps_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
          GROUP BY ps_partkey
        )
        SELECT ps_partkey, value_cents
        FROM per_part
        WHERE value_cents * 10000 > (SELECT CAST(SUM(value_cents) AS BIGINT) FROM per_part)
        ORDER BY value_cents DESC, ps_partkey
    """

    q["q16_parts_supplier_relationship"] = f"""
        WITH {partsupp_cte}
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        FROM partsupp
        JOIN part ON ps_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_size IN (1, 4, 7, 11, 14, 23, 36, 49)
          AND ps_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 100.0
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """

    q["co1_event_type_cooccurrence"] = """
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM ut a JOIN ut b USING (user_id)
        WHERE a.event_type < b.event_type
        GROUP BY 1, 2 ORDER BY 1, 2
    """

    q["wow1_weekly_growth"] = """
        WITH weekly AS (
          SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1
        )
        SELECT week, n_events,
               lag(n_events) OVER (ORDER BY week) AS prev_week,
               round((n_events - lag(n_events) OVER (ORDER BY week))
                     / lag(n_events) OVER (ORDER BY week) * 100, 2) + 0.0
                 AS pct_change
        FROM weekly ORDER BY week
    """

    q["anon1_k_anonymity"] = """
        SELECT c_nationkey AS nation, c_mktsegment AS segment,
               CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT) AS balance_band,
               CAST(COUNT(*) AS BIGINT) AS group_size
        FROM customer
        GROUP BY 1, 2, 3
        HAVING COUNT(*) < 5
        ORDER BY 1, 2, 3
    """

    q["lag1_conversion_lag_quartiles"] = """
        WITH views AS (
          SELECT user_id, MIN(ts) AS first_view
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        fp AS (
          SELECT e.user_id, first_view, MIN(ts) AS first_purchase
          FROM events e JOIN views USING (user_id)
          WHERE event_type = 'purchase' AND ts >= first_view
          GROUP BY e.user_id, first_view
        ),
        lags AS (
          SELECT user_id,
                 CAST(date_diff('second', first_view, first_purchase) AS BIGINT) AS lag_seconds
          FROM fp
        ),
        ranked AS (
          SELECT lag_seconds,
                 row_number() OVER (ORDER BY lag_seconds, user_id) AS rn,
                 COUNT(*) OVER () AS n
          FROM lags
        )
        SELECT q.quartile, lag_seconds, CAST(n AS BIGINT) AS n_converted
        FROM ranked
        JOIN (VALUES ('p25', 0.25), ('p50', 0.50), ('p75', 0.75)) AS q(quartile, frac)
          ON rn = CAST(CEIL(n * frac) AS BIGINT)
        ORDER BY q.quartile
    """

    q["split1_train_val_test"] = """
        WITH g AS (
          SELECT source,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS gate
          FROM documents
        )
        SELECT source,
               CASE WHEN gate < 80 THEN 'train'
                    WHEN gate < 90 THEN 'val' ELSE 'test' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM g GROUP BY 1, 2 ORDER BY 1, 2
    """

    q["cum1_cumulative_unique_users"] = """
        WITH firsts AS (
          SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS day
          FROM events GROUP BY user_id
        ),
        daily AS (
          SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new_users FROM firsts GROUP BY day
        )
        SELECT day, n_new_users,
               CAST(SUM(n_new_users) OVER (
                 ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_users
        FROM daily ORDER BY day
    """

    q["coh1_weekly_retention"] = """
        WITH firsts AS (
          -- DuckDB date_trunc('week') yields DATE; Spark yields TIMESTAMP
          SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
          FROM events GROUP BY user_id
        )
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week,
                              CAST(date_trunc('week', ts) AS TIMESTAMP)) / 7 AS INT) AS week_offset,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM events e JOIN firsts USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    # hll1_mergeable_daily_uniques: deliberately NO oracle — HLL sketch
    # binaries are engine-specific; estimates are pinned against exact
    # distinct counts in tests/test_training_ops.py

    # dedup deliverable: documents minus non-canonical cluster members
    # (reuses the recursive component closure over lsh_pairs)
    q["dd2_dedup_corpus"] = f"""
        WITH RECURSIVE {_lsh_ctes},
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs
        ),
        comp AS (
          SELECT DISTINCT src AS doc, src AS reach FROM edges
          UNION
          SELECT c.doc, e.dst AS reach FROM comp c JOIN edges e ON e.src = c.reach
        ),
        labels AS (SELECT doc, MIN(reach) AS component FROM comp GROUP BY doc)
        SELECT doc_id, source, lang, n_chars
        FROM documents
        WHERE doc_id NOT IN (SELECT doc FROM labels WHERE doc <> component)
        ORDER BY doc_id
    """

    # prep1: the WHOLE composed corpus-prep pipeline (dedup → quality
    # gate → split → pack) as ONE oracle query — each stage reuses the
    # SQL of its standalone verified operator (dd2 component closure,
    # mix2 gate, split1 gate, pack1 prefix-sum window)
    q["prep1_corpus_manifest"] = f"""
        WITH RECURSIVE {_lsh_ctes},
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs
        ),
        comp AS (
          SELECT DISTINCT src AS doc, src AS reach FROM edges
          UNION
          SELECT c.doc, e.dst AS reach FROM comp c JOIN edges e ON e.src = c.reach
        ),
        labels AS (SELECT doc, MIN(reach) AS component FROM comp GROUP BY doc),
        deduped AS (
          SELECT * FROM documents
          WHERE doc_id NOT IN (SELECT doc FROM labels WHERE doc <> component)
        ),
        scored AS (
          SELECT doc_id, source, text,
                 CASE WHEN CAST(len({_RAW_TOKS}) AS INT) < 5 THEN 0.0
                      ELSE ((CAST(least(len({_RAW_TOKS}), 100) AS BIGINT)
                             * (1000000 - CAST(round(round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                                                           / greatest(length(text), 1), 6)
                                                     * 1000000, 0) AS BIGINT))
                             + 50) // 100) / 1000000.0 END AS quality_score,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
                   / 1152921504606846976.0 AS g,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS sgate
          FROM deduped
        ),
        kept AS (
          SELECT doc_id, source, quality_score,
                 CASE WHEN sgate < 80 THEN 'train'
                      WHEN sgate < 90 THEN 'val' ELSE 'test' END AS split,
                 CAST(len({_RAW_TOKS}) AS BIGINT) AS n_tokens
          FROM scored WHERE g < quality_score
        ),
        packed AS (
          SELECT doc_id, split, source, quality_score, n_tokens,
                 CAST(SUM(n_tokens) OVER (
                   PARTITION BY split, source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) - n_tokens AS BIGINT) AS stream_offset
          FROM kept
        )
        SELECT doc_id, split, source, quality_score, n_tokens, stream_offset,
               CAST(FLOOR(stream_offset / 512) AS BIGINT) AS bin_id
        FROM packed
    """

    q["batch1_length_buckets"] = f"""
        WITH t AS (
          SELECT doc_id, CAST(len({_RAW_TOKS}) AS INT) AS n_tokens
          FROM documents WHERE text IS NOT NULL
        ),
        b AS (
          SELECT doc_id, n_tokens,
                 CAST(ntile(16) OVER (ORDER BY n_tokens, doc_id) AS INT) AS bucket
          FROM t
        )
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
               CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT) AS padding_waste
        FROM b GROUP BY bucket ORDER BY bucket
    """

    # quality-weighted sampling: hash gate / 2^60 (exact power-of-two
    # division) vs the 6-dp quality score — bit-identical keep decisions
    q["mix2_quality_weighted_sample"] = f"""
        WITH scored AS (
          SELECT doc_id, source,
                 CASE WHEN CAST(len({_RAW_TOKS}) AS INT) < 5 THEN 0.0
                      ELSE ((CAST(least(len({_RAW_TOKS}), 100) AS BIGINT)
                             * (1000000 - CAST(round(round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                                                           / greatest(length(text), 1), 6)
                                                     * 1000000, 0) AS BIGINT))
                             + 50) // 100) / 1000000.0 END AS quality_score,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
                   / 1152921504606846976.0 AS g
          FROM documents
        )
        SELECT doc_id, source, quality_score FROM scored WHERE g < quality_score
    """

    q["out1_iqr_outliers"] = """
        WITH ranked AS (
          SELECT event_id, event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events WHERE value IS NOT NULL
        ),
        fences AS (
          SELECT event_type,
                 MAX(CASE WHEN rn = CAST(CEIL(n * 0.25) AS BIGINT) THEN value END) AS q1,
                 MAX(CASE WHEN rn = CAST(CEIL(n * 0.75) AS BIGINT) THEN value END) AS q3
          FROM ranked GROUP BY event_type
        )
        SELECT event_id, r.event_type, value
        FROM ranked r JOIN fences USING (event_type)
        WHERE value < q1 - 1.5 * (q3 - q1) OR value > q3 + 1.5 * (q3 - q1)
        ORDER BY event_id
    """

    # z-score: exact-decimal moments, then one explicitly ordered double
    # formula — identical IEEE evaluation in both engines
    q["norm1_zscore_value"] = """
        WITH g AS (
          SELECT event_type,
                 CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s,
                 CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS ssq,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events WHERE value IS NOT NULL GROUP BY event_type
        )
        SELECT event_id, e.event_type,
               round((CAST(value AS DOUBLE) - s / n)
                     / sqrt((ssq - s * s / n) / (n - 1)), 6) + 0.0 AS z_value
        FROM events e JOIN g USING (event_type)
        WHERE value IS NOT NULL AND n > 1 AND (ssq - s * s / n) > 0
    """

    # bloom-pruned semi join: the bloom stage only strips rows the exact
    # join would drop anyway, so the oracle is the PLAIN semi join
    q["bf1_bloom_pruned_revenue"] = """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM orders
        WHERE o_orderstatus = 'O'
          AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 7500.0)
    """

    q["vq1_quantized_knn"] = f"""
        WITH ex AS (
          SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding) AS val
          FROM embeddings WHERE {_VALID_EMB}
        ),
        stats AS (
          SELECT pos, MIN(CAST(val AS DOUBLE)) AS mn, MAX(CAST(val AS DOUBLE)) AS mx
          FROM ex GROUP BY pos
        ),
        codes AS (
          SELECT vec_id, pos,
                 CASE WHEN mx > mn
                      THEN CAST(round((CAST(val AS DOUBLE) - mn) / (mx - mn) * 255, 0) AS INT)
                      ELSE 0 END AS code
          FROM ex JOIN stats USING (pos)
        ),
        qc AS (
          SELECT vec_id AS query_id, pos, code AS q_code FROM codes
          WHERE vec_id IN (0, 1, 2, 3, 4, 5, 6, 7, 8, 9)
        ),
        widths AS (
          SELECT vec_id, len(embedding) AS d FROM embeddings
          WHERE {_VALID_EMB}
        ),
        scored AS (
          -- width-mismatched pairs are EXCLUDED (the positional join
          -- would otherwise sum a PARTIAL dot over the shared prefix,
          -- while the Spark side's zip_with NULL-pads — round-8 fuzzer)
          SELECT query_id, c.vec_id,
                 CAST(SUM(CAST(c.code - 128 AS BIGINT) * CAST(q_code - 128 AS BIGINT)) AS BIGINT) AS dot_q
          FROM codes c
          JOIN qc q USING (pos)
          JOIN widths wc ON wc.vec_id = c.vec_id
          JOIN widths wq ON wq.vec_id = q.query_id
          WHERE c.vec_id <> q.query_id AND wc.d = wq.d
          GROUP BY 1, 2
        ),
        ranked AS (
          SELECT query_id, vec_id, dot_q,
                 CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY dot_q DESC, vec_id) AS INT) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, dot_q, rank FROM ranked
        WHERE rank <= 5 ORDER BY query_id, rank
    """

    q["tri1_triangle_counts"] = f"""
        WITH {_lsh_ctes},
        tri AS (
          SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
          FROM lsh_pairs e1
          JOIN lsh_pairs e2 ON e1.doc_b = e2.doc_a
          JOIN lsh_pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        ),
        corners AS (
          SELECT a AS doc_id FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM corners GROUP BY doc_id ORDER BY doc_id
    """

    q["dq1_order_expectations"] = """
        WITH w AS (
          SELECT
            CAST(SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS positive_total,
            CAST(SUM(CASE WHEN NOT (o_custkey IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS has_customer,
            CAST(SUM(CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P')) THEN 1 ELSE 0 END) AS BIGINT) AS known_status,
            CAST(SUM(CASE WHEN NOT (o_orderdate >= TIMESTAMP '1992-01-01 00:00:00'
                                    AND o_orderdate < TIMESTAMP '2026-01-01 00:00:00')
                     THEN 1 ELSE 0 END) AS BIGINT) AS date_in_range,
            CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM orders
        )
        SELECT rule_name, n_violations, n_rows FROM (
          SELECT 'positive_total' AS rule_name, positive_total AS n_violations, n_rows FROM w
          UNION ALL SELECT 'has_customer', has_customer, n_rows FROM w
          UNION ALL SELECT 'known_status', known_status, n_rows FROM w
          UNION ALL SELECT 'date_in_range', date_in_range, n_rows FROM w
        ) ORDER BY rule_name
    """

    q["q20_potential_promotion"] = f"""
        WITH {partsupp_cte},
        shipped AS (
          SELECT l_partkey, l_suppkey,
                 SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty
          FROM lineitem
          JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%') rp
            ON l_partkey = rp.p_partkey
          WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          GROUP BY l_partkey, l_suppkey
        )
        SELECT s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND s_suppkey IN (
            SELECT ps_suppkey
            FROM partsupp
            JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
            WHERE CAST(ps_availqty AS DECIMAL(18,4)) * 2 > qty
          )
        ORDER BY s_name
    """

    # corr1: integer Σd² (row_number ranks over a total order), one
    # identically-ordered IEEE double formula rounded to 6 dp at the end
    q["corr1_spearman_orders"] = """
        WITH per_cust AS (
          SELECT o_custkey,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
          FROM orders GROUP BY o_custkey
        ),
        ranked AS (
          SELECT
            CAST(ROW_NUMBER() OVER (ORDER BY n_orders, o_custkey) AS BIGINT) AS rx,
            CAST(ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS BIGINT) AS ry
          FROM per_cust
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
               ROUND(
                 1.0 - (6.0 * CAST(SUM((rx - ry) * (rx - ry)) AS DOUBLE))
                     / (CAST(COUNT(*) AS DOUBLE)
                        * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) - 1.0)),
                 6) + 0.0 AS rho
        FROM ranked
        HAVING COUNT(*) >= 2
    """

    q["unpiv1_status_counts"] = """
        WITH wide AS (
          SELECT
            CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
            CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
            CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
          FROM orders
        )
        SELECT * FROM (
          SELECT 'n_f' AS metric, n_f AS n_orders FROM wide
          UNION ALL SELECT 'n_o', n_o FROM wide
          UNION ALL SELECT 'n_p', n_p FROM wide
        ) ORDER BY metric
    """

    # gini1: exact decimal S0/S1 (rank·spend ≤ decimal(38)); only the
    # final formula is float, identical expression order, round 6
    q["gini1_spend_concentration"] = """
        WITH per_cust AS (
          SELECT o_custkey,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
          FROM orders GROUP BY o_custkey
        ),
        ranked AS (
          SELECT spend,
                 CAST(ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS BIGINT) AS rn
          FROM per_cust
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
                 SUM(spend) AS s0,
                 SUM(CAST(rn AS DECIMAL(18,0)) * spend) AS s1
          FROM ranked
        )
        SELECT n_customers,
               ROUND(CAST(s0 AS DOUBLE), 2) AS total_spend,
               ROUND(
                 (2.0 * CAST(s1 AS DOUBLE)
                  - (CAST(n_customers AS DOUBLE) + 1.0) * CAST(s0 AS DOUBLE))
                 / (CAST(n_customers AS DOUBLE) * CAST(s0 AS DOUBLE)),
                 6) AS gini
        FROM agg
    """

    # skw1: salting only refines partitioning — the oracle is the plain
    # distinct count
    q["skw1_salted_distinct_users"] = """
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY event_type ORDER BY event_type
    """
    # skw2: salted hot-key join ≡ the plain equi-join + group-by
    q["skw2_salted_join_revenue"] = """
        SELECT c_nationkey AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY 1
    """
    # skw3: two-phase salted agg ≡ plain GROUP BY (decimal-exact sum)
    q["skw3_two_phase_event_value"] = """
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type ORDER BY event_type
    """
    # xsrc1: distinct (source, shingle) sets, same-shingle self-join,
    # overlap coefficient vs the smaller set (mirrors dd._shingles' guard)
    q["xsrc1_cross_source_overlap"] = f"""
        WITH toks AS (SELECT source, {_TOKS} AS t FROM documents WHERE text IS NOT NULL),
        sg AS (
          SELECT DISTINCT source, array_to_string(t[r.i+1:r.i+3], ' ') AS shingle
          FROM toks, UNNEST(range(0, greatest(len(t) - 3, 0) + 1)) AS r(i)
        ),
        sizes AS (SELECT source, COUNT(*) AS set_size FROM sg GROUP BY 1),
        inter AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM sg a JOIN sg b ON a.shingle = b.shingle AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT source_a, source_b, n_shared,
               round(n_shared::DOUBLE / least(sa.set_size, sb.set_size), 6)
                 AS overlap_coef
        FROM inter
        JOIN sizes sa ON sa.source = inter.source_a
        JOIN sizes sb ON sb.source = inter.source_b
        ORDER BY source_a, source_b
    """
    # wfp1: winnowing (k=4 grams chr(1)-joined, w=5 window min) — the
    # window min is a plain ROWS BETWEEN frame in both engines
    q["wfp1_winnow_fingerprints"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT doc_id, r.i AS i,
                 ('0x' || substr(md5(array_to_string(l[r.i:r.i+3], chr(1))), 1, 15))::BIGINT AS h
          FROM t, UNNEST(range(1, len(l) - 2)) AS r(i)
          WHERE len(l) >= 4
        ),
        sel AS (
          SELECT doc_id, i,
                 min(h) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS minh
          FROM g
        )
        SELECT doc_id, CAST(MAX(i) AS BIGINT) AS n_grams,
               CAST(COUNT(DISTINCT minh) AS BIGINT) AS n_fingerprints,
               MIN(minh) AS min_fp
        FROM sel WHERE i >= 5 GROUP BY doc_id ORDER BY doc_id
    """
    # msk1: per-doc masked-token plan under the hash-gated 3-token blocks
    q["msk1_span_corruption_stats"] = f"""
        WITH t AS (
          SELECT doc_id, len({_TOKS}) AS n_tokens
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        b AS (
          SELECT doc_id, n_tokens, r.i AS blk,
                 CASE WHEN ('0x' || substr(md5(doc_id || ':' || r.i), 1, 15))::BIGINT % 100 < 15
                      THEN 1 ELSE 0 END AS gated,
                 least(3, n_tokens - r.i * 3) AS blk_len
          FROM t, UNNEST(range(0, CAST(ceil(n_tokens / 3.0) AS BIGINT))) AS r(i)
        )
        SELECT doc_id, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(gated * blk_len) AS BIGINT) AS n_masked,
               CAST(SUM(gated) AS BIGINT) AS n_spans,
               round(SUM(gated * blk_len)::DOUBLE / MAX(n_tokens), 6) AS mask_rate
        FROM b GROUP BY doc_id ORDER BY doc_id
    """
    # nov1: distinct 8-gram hashes, df>1 share per doc (leak1's hash-keyed
    # join discipline — both sides corpus-scale)
    q["nov1_ngram_novelty"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents WHERE text IS NOT NULL),
        dg AS (
          SELECT DISTINCT doc_id,
                 ('0x' || substr(md5(array_to_string(l[r.i:r.i+7], chr(1))), 1, 15))::BIGINT AS gh
          FROM t, UNNEST(range(1, len(l) - 6)) AS r(i)
          WHERE len(l) >= 8
        ),
        dfc AS (SELECT gh, COUNT(*) AS df FROM dg GROUP BY 1)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_grams,
               round((COUNT(*) - SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END))::DOUBLE
                     / COUNT(*), 6) AS novelty_rate
        FROM dg JOIN dfc USING (gh)
        GROUP BY doc_id ORDER BY doc_id
    """
    # wfp2: the MOSS readout — pairs sharing >= 2 selected fingerprints,
    # hot fingerprints (df > 50) capped before the self-join
    q["wfp2_shared_fingerprint_pairs"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT doc_id, r.i AS i,
                 ('0x' || substr(md5(array_to_string(l[r.i:r.i+3], chr(1))), 1, 15))::BIGINT AS h
          FROM t, UNNEST(range(1, len(l) - 2)) AS r(i)
          WHERE len(l) >= 4
        ),
        sel AS (
          SELECT DISTINCT doc_id, minh AS fp FROM (
            SELECT doc_id, i,
                   min(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS minh
            FROM g
          ) WHERE i >= 5
        ),
        dfc AS (SELECT fp, COUNT(*) AS df FROM sel GROUP BY 1),
        rare AS (SELECT sel.doc_id, sel.fp FROM sel JOIN dfc USING (fp) WHERE df <= 50)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ORDER BY doc_a, doc_b
    """
    # ppl1: −log2(count/total) per DISTINCT token rounded to 9 dp, then
    # a DECIMAL-exact weighted sum per doc (the decay1/pr1 discipline
    # for transcendental math)
    q["ppl1_unigram_logloss"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL
        ),
        pdt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        tc AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY 1),
        tot AS (SELECT SUM(n_tok) AS n_total FROM tc)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(c AS DECIMAL(12,0)) *
                        CAST(ROUND(-log2(CAST(n_tok AS DOUBLE)
                                         / CAST(n_total AS DOUBLE)), 9)
                             AS DECIMAL(20,12))) AS DOUBLE)
                 AS total_bits
        FROM pdt JOIN tc USING (tok) CROSS JOIN tot
        GROUP BY doc_id
        ORDER BY doc_id
    """
    # ppl2: bigram log-loss — rep1's chr(1) bigram idiom + ppl1's
    # decimal discipline; prefix marginal from the bigram counts
    q["ppl2_bigram_logloss"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS l FROM documents WHERE text IS NOT NULL
        ),
        g AS (
          SELECT doc_id, l[r.i] || chr(1) || l[r.i + 1] AS bg
          FROM t, UNNEST(range(1, len(l))) AS r(i)
          WHERE len(l) >= 2
        ),
        pdb AS (SELECT doc_id, bg, COUNT(*) AS c FROM g GROUP BY 1, 2),
        bc AS (SELECT bg, COUNT(*) AS c_bg FROM g GROUP BY 1),
        pc AS (
          SELECT string_split(bg, chr(1))[1] AS prev, SUM(c_bg) AS c_prev
          FROM bc GROUP BY 1
        ),
        vc AS (
          SELECT COUNT(DISTINCT tok) AS v
          FROM (SELECT unnest({_TOKS}) AS tok
                FROM documents WHERE text IS NOT NULL)
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(c AS DECIMAL(12,0)) *
                        CAST(ROUND(-log2(CAST(c_bg + 1 AS DOUBLE)
                                         / CAST(c_prev + v AS DOUBLE)), 9)
                             AS DECIMAL(20,12))) AS DOUBLE) AS total_bits
        FROM pdb JOIN bc USING (bg)
        JOIN pc ON string_split(pdb.bg, chr(1))[1] = pc.prev
        CROSS JOIN vc
        GROUP BY doc_id
        ORDER BY doc_id
    """
    # rho1: excess-loss selection composing the two LM oracles verbatim
    # as nested-WITH CTEs (one definition each); band test on the
    # 6-dp-rounded signed-zero-guarded excess in both engines
    q["rho1_excess_loss_selection"] = f"""
        WITH rp1 AS ({q["ppl1_unigram_logloss"]}),
        rp2 AS ({q["ppl2_bigram_logloss"]}),
        rb AS (
          SELECT rp1.doc_id,
                 round(rp1.total_bits / rp1.n_tokens, 9) AS u9,
                 round(rp2.total_bits / rp2.n_bigrams, 9) AS b9
          FROM rp1 JOIN rp2 ON rp1.doc_id = rp2.doc_id
        )
        SELECT doc_id,
               round(u9, 6) AS unigram_bpt,
               round(b9, 6) AS bigram_bpt,
               round(b9 - u9, 6) + 0.0 AS excess_bits,
               (round(b9 - u9, 6) + 0.0 >= -0.06
                AND round(b9 - u9, 6) + 0.0 <= 0.06) AS keep
        FROM rb ORDER BY doc_id
    """
    # pmi1: top-k PMI collocations — one FIXED tree of five log2 calls
    # over exact integer counts, rounded 9 dp; top-k total order is
    # (pmi DESC, w1, w2) on the rounded value in both engines
    q["pmi1_collocations"] = f"""
        WITH t AS (SELECT {_TOKS} AS l FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT l[r.i] || chr(1) || l[r.i + 1] AS bg
          FROM t, UNNEST(range(1, len(l))) AS r(i)
          WHERE len(l) >= 2
        ),
        bc AS (SELECT bg, COUNT(*) AS c_bg FROM g GROUP BY 1),
        nb AS (SELECT CAST(SUM(c_bg) AS BIGINT) AS n_bg FROM bc),
        tok AS (SELECT unnest(l) AS tok FROM t),
        tcc AS (SELECT tok, COUNT(*) AS c_tok FROM tok GROUP BY 1),
        nt AS (SELECT CAST(SUM(c_tok) AS BIGINT) AS n_tok FROM tcc)
        SELECT string_split(bg, chr(1))[1] AS w1,
               string_split(bg, chr(1))[2] AS w2,
               CAST(c_bg AS BIGINT) AS c_bigram,
               round(log2(CAST(c_bg AS DOUBLE)) - log2(CAST(n_bg AS DOUBLE))
                     - log2(CAST(c1.c_tok AS DOUBLE))
                     - log2(CAST(c2.c_tok AS DOUBLE))
                     + 2.0 * log2(CAST(n_tok AS DOUBLE)), 9) + 0.0 AS pmi
        FROM bc
        JOIN tcc c1 ON string_split(bg, chr(1))[1] = c1.tok
        JOIN tcc c2 ON string_split(bg, chr(1))[2] = c2.tok
        CROSS JOIN nb CROSS JOIN nt
        WHERE c_bg >= 5
        ORDER BY pmi DESC, w1, w2
        LIMIT 50
    """
    # kn1: interpolated Kneser-Ney bigram log-loss — ppl2's shapes plus
    # the prefix/continuation re-combines; P_KN is ONE double tree
    # mirrored from the Spark plan verbatim, D = 0.75 literal
    q["kn1_kneser_ney_logloss"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS l FROM documents WHERE text IS NOT NULL
        ),
        g AS (
          SELECT doc_id, l[r.i] || chr(1) || l[r.i + 1] AS bg
          FROM t, UNNEST(range(1, len(l))) AS r(i)
          WHERE len(l) >= 2
        ),
        pdb AS (SELECT doc_id, bg, COUNT(*) AS c FROM g GROUP BY 1, 2),
        bc AS (SELECT bg, COUNT(*) AS c_bg FROM g GROUP BY 1),
        ps AS (
          SELECT string_split(bg, chr(1))[1] AS prev,
                 CAST(SUM(c_bg) AS BIGINT) AS c_prev,
                 COUNT(*) AS n1p_prev
          FROM bc GROUP BY 1
        ),
        cs AS (
          SELECT string_split(bg, chr(1))[2] AS w, COUNT(*) AS n1p_w
          FROM bc GROUP BY 1
        ),
        ntp AS (SELECT COUNT(*) AS n_types FROM bc)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(c AS DECIMAL(12,0)) *
                        CAST(ROUND(-log2(
                          ((CAST(c_bg AS DOUBLE) - 0.75)
                           / CAST(c_prev AS DOUBLE))
                          + (((0.75 * CAST(n1p_prev AS DOUBLE))
                              / CAST(c_prev AS DOUBLE))
                             * (CAST(n1p_w AS DOUBLE)
                                / CAST(n_types AS DOUBLE)))
                        ), 9) AS DECIMAL(20,12))) AS DOUBLE) AS total_bits
        FROM pdb JOIN bc USING (bg)
        JOIN ps ON string_split(pdb.bg, chr(1))[1] = ps.prev
        JOIN cs ON string_split(pdb.bg, chr(1))[2] = cs.w
        CROSS JOIN ntp
        GROUP BY doc_id
        ORDER BY doc_id
    """
    # prune1: SSL-prototype pruning — drift2's decimal centroid/cosine
    # discipline; 0/0 rows excluded identically (zipf1/corr1 rule);
    # keep test is pure integer arithmetic (rank·4 <= n)
    q["prune1_prototype_pruning"] = """
        WITH comp AS (
          SELECT vec_id, label, r.i AS dim,
                 CAST(round(embedding[r.i]::DOUBLE, 9) AS DECIMAL(28,9)) AS v9
          FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
        ),
        per AS (
          SELECT label, dim, SUM(v9) AS s, COUNT(*) AS n FROM comp GROUP BY 1, 2
        ),
        terms AS (
          SELECT vec_id, comp.label AS label,
                 CAST(round(CAST(v9 AS DOUBLE) * round(s::DOUBLE / n, 9), 12)
                      AS DECIMAL(38,12)) AS xy,
                 CAST(round(CAST(v9 AS DOUBLE) * CAST(v9 AS DOUBLE), 12)
                      AS DECIMAL(38,12)) AS xx,
                 CAST(round(round(s::DOUBLE / n, 9) * round(s::DOUBLE / n, 9), 12)
                      AS DECIMAL(38,12)) AS yy
          FROM comp JOIN per
            ON comp.label IS NOT DISTINCT FROM per.label AND comp.dim = per.dim
        ),
        agg AS (
          SELECT vec_id, label,
                 SUM(xy) AS sxy, SUM(xx) AS sxx, SUM(yy) AS syy
          FROM terms GROUP BY 1, 2
        ),
        cosd AS (
          SELECT vec_id, label,
                 round(sxy::DOUBLE / (sqrt(sxx::DOUBLE) * sqrt(syy::DOUBLE)), 6)
                   + 0.0 AS cos_to_prototype
          FROM agg WHERE sxx > 0 AND syy > 0
        ),
        rk AS (
          SELECT vec_id, label, cos_to_prototype,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY label ORDER BY cos_to_prototype, vec_id
                 ) AS BIGINT) AS prune_rank,
                 CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS n_label
          FROM cosd
        )
        SELECT vec_id, label, cos_to_prototype, prune_rank, n_label,
               (prune_rank * 4 <= n_label) AS keep
        FROM rk ORDER BY label, prune_rank
    """
    # dsir1: DSIR importance log-ratio — one log2 per DISTINCT token of
    # a quotient of two DOUBLE products (int64 products would overflow
    # at corpus scale; the double product is IEEE-identical in both
    # engines), rounded 9 dp, decimal-weighted per-doc sum (ppl1 shape)
    q["dsir1_importance_weights"] = f"""
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
                 unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL
        ),
        pdt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        tc AS (
          SELECT tok, SUM(is_t) AS c_t, SUM(1 - is_t) AS c_r
          FROM toks GROUP BY 1
        ),
        tot AS (SELECT SUM(c_t) AS n_t, SUM(c_r) AS n_r, COUNT(*) AS v FROM tc)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(c AS DECIMAL(12,0)) *
                        CAST(ROUND(log2(
                          (CAST(c_t + 1 AS DOUBLE) * CAST(n_r + v AS DOUBLE))
                          / (CAST(c_r + 1 AS DOUBLE) * CAST(n_t + v AS DOUBLE))
                        ), 9) AS DECIMAL(20,12))) AS DOUBLE)
                 AS total_bits
        FROM pdt JOIN tc USING (tok) CROSS JOIN tot
        GROUP BY doc_id
        ORDER BY doc_id
    """
    # pca1: covariance upper triangle — drift2's decimal discipline
    # (9-dp components, 12-dp product terms into DECIMAL(38,12) sums),
    # the oracle's pair terms via a vec_id self-join where Spark uses a
    # map-only nested transform (same terms, same sums)
    # validity via the SHARED fragment (mirror of the Spark side's
    # valid_vectors — a hand-written NULL-only filter desynced the two
    # engines the moment valid_vectors learned to exclude zero vectors;
    # round-8 property fuzzer)
    q["pca1_covariance"] = f"""
        WITH e AS (
          SELECT vec_id, embedding FROM embeddings WHERE {_VALID_EMB}
        ),
        comp AS (
          SELECT vec_id, CAST(r.i AS INT) AS dim,
                 ROUND(CAST(embedding[r.i + 1] AS DOUBLE), 9) AS v9
          FROM e, UNNEST(range(0, len(embedding))) AS r(i)
        ),
        means AS (
          SELECT dim, SUM(CAST(v9 AS DECIMAL(28,9))) AS s FROM comp GROUP BY dim
        ),
        pairs AS (
          SELECT a.dim AS i, b.dim AS j,
                 SUM(CAST(ROUND(a.v9 * b.v9, 12) AS DECIMAL(38,12))) AS sxy,
                 COUNT(*) AS n
          FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.dim <= b.dim
          GROUP BY 1, 2
        )
        SELECT i, j,
               ROUND((CAST(sxy AS DOUBLE)
                      - CAST(mi.s AS DOUBLE) * CAST(mj.s AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     / (CAST(n AS DOUBLE) - 1), 6) + 0.0 AS cov
        FROM pairs JOIN means mi ON pairs.i = mi.dim
                   JOIN means mj ON pairs.j = mj.dim
        WHERE n >= 2
        ORDER BY i, j
    """
    # zipf1: per-source Zipf slope — integer window rank (count DESC,
    # tok tie-break), per-rank regression terms rounded 9 dp and summed
    # in DECIMAL, closed-form least-squares slope from the exact sums
    q["zipf1_source_zipf_slope"] = f"""
        WITH toks AS (
          SELECT source, unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL
        ),
        counts AS (SELECT source, tok, COUNT(*) AS freq FROM toks GROUP BY 1, 2),
        ranked AS (
          SELECT source, freq,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY freq DESC, tok) AS r
          FROM counts
          QUALIFY r <= 100
        ),
        sums AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_ranks,
                 SUM(CAST(ROUND(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(20,12))) AS sx,
                 SUM(CAST(ROUND(ln(CAST(freq AS DOUBLE)), 9) AS DECIMAL(20,12))) AS sy,
                 SUM(CAST(ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(freq AS DOUBLE)), 9)
                          AS DECIMAL(20,12))) AS sxy,
                 SUM(CAST(ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)), 9)
                          AS DECIMAL(20,12))) AS sxx
          FROM ranked GROUP BY source
        )
        SELECT source, n_ranks,
               ROUND(
                 (CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 6) + 0.0 AS zipf_slope
        FROM sums
        WHERE n_ranks >= 2
        ORDER BY source
    """
    # fh1: signed feature hashing — md5_60 integer convention; DuckDB's
    # % is remainder (can be negative) so pmod is spelled ((x % m) + m) % m
    q["fh1_feature_hash_embed"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL
        ),
        hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS dim,
                 CASE WHEN (('0x' || substr(md5(tok), 1, 15))::BIGINT // 64) % 2 = 0
                      THEN 1 ELSE -1 END AS sign
          FROM toks
        )
        SELECT doc_id, dim, CAST(SUM(sign) AS BIGINT) AS weight
        FROM hashed
        GROUP BY doc_id, dim
        HAVING SUM(sign) <> 0
        ORDER BY doc_id, dim
    """
    # sdd1: SemDeDup — the kmeans1 unrolled-CTE assignment (identical
    # determinism pivots), then within-cluster lower-id cosine witnesses
    # with the dd_embed_neardup 6-dp cosine idiom
    q["sdd1_semantic_dedup"] = f"""
        WITH init AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster_id,
                 embedding AS centroid
          FROM (SELECT vec_id, embedding FROM embeddings
                WHERE {_VALID_EMB} AND {_FIT_W} ORDER BY vec_id LIMIT 8)
        ),
        s1 AS (
          SELECT e.vec_id, e.embedding, c.cluster_id,
                 round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> e.embedding[i]::DOUBLE * c.centroid[i]::DOUBLE)), 6) AS sim
          FROM embeddings e CROSS JOIN init c WHERE {_VALID_EMB_E} AND {_FIT_W_E}
        ),
        a1 AS (
          SELECT vec_id, embedding, cluster_id, sim
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cluster_id) AS rn FROM s1)
          WHERE rn = 1
        ),
        m1 AS (
          SELECT cluster_id, r.i,
                 round(CAST(SUM(CAST(CAST(embedding[r.i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(*), 12) AS m
          FROM a1, UNNEST(range(1, len(embedding) + 1)) AS r(i)
          GROUP BY cluster_id, r.i
        ),
        c1 AS (
          SELECT cluster_id, list(m ORDER BY i) AS centroid
          FROM m1 GROUP BY cluster_id
        ),
        s2 AS (
          SELECT e.vec_id, c.cluster_id,
                 round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> e.embedding[i]::DOUBLE * c.centroid[i])), 6) AS sim
          FROM embeddings e CROSS JOIN c1 c WHERE {_VALID_EMB_E} AND {_FIT_W_E}
        ),
        a2 AS (
          SELECT vec_id, cluster_id
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cluster_id) AS rn FROM s2)
          WHERE rn = 1
        ),
        wb AS (
          SELECT a2.vec_id, a2.cluster_id, e.embedding
          FROM a2 JOIN embeddings e USING (vec_id)
        ),
        wit AS (
          SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dup_of
          FROM wb a JOIN wb b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE round(
                  list_sum(list_transform(range(1, len(a.embedding) + 1),
                        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
                     * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
                  6) >= 0.9
          GROUP BY b.vec_id
        )
        SELECT w.vec_id, w.cluster_id,
               (wit.dup_of IS NULL) AS is_kept, wit.dup_of
        FROM wb w LEFT JOIN wit USING (vec_id)
        ORDER BY w.vec_id
    """
    # linedd1: span-level exact dedup — first occurrence by (doc_id,
    # span_idx) wins; chr(1)-joined span keys, space-rejoined output
    q["linedd1_span_dedup"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS l FROM documents
          WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        sp AS (
          SELECT doc_id, l, unnest(generate_series(1, len(l), 8)) AS start
          FROM t
        ),
        spans AS (
          SELECT doc_id,
                 CAST((start - 1) // 8 AS INT) AS span_idx,
                 CAST(len(list_slice(l, start, start + 7)) AS BIGINT) AS n_span_tokens,
                 array_to_string(list_slice(l, start, start + 7), chr(1)) AS span_key
          FROM sp
        ),
        flagged AS (
          SELECT *,
                 (row_number() OVER (
                    PARTITION BY span_key ORDER BY doc_id, span_idx) = 1) AS keep
          FROM spans
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_spans,
               CAST(COALESCE(SUM(n_span_tokens) FILTER (WHERE keep), 0) AS BIGINT)
                 AS n_tokens_kept,
               COALESCE(string_agg(replace(span_key, chr(1), ' '), ' '
                                   ORDER BY span_idx) FILTER (WHERE keep), '')
                 AS cleaned_text
        FROM flagged GROUP BY doc_id ORDER BY doc_id
    """
    # mix3: temperature mixture — pow rounded to 9 dp into DECIMAL before
    # the exact renormalizing sum (ppl1 discipline); samp1's rank gate
    q["mix3_temperature_mixture"] = """
        WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        w AS (
          SELECT source, n_docs,
                 CAST(round(pow(CAST(n_docs AS DOUBLE)
                                / CAST(SUM(n_docs) OVER () AS DOUBLE), 0.7), 9)
                      AS DECIMAL(18,9)) AS wt,
                 SUM(n_docs) OVER () AS n_total
          FROM c
        ),
        t AS (
          SELECT source,
                 CAST(floor(CAST(wt AS DOUBLE) / CAST(SUM(wt) OVER () AS DOUBLE)
                      * floor(CAST(n_total AS DOUBLE) * 0.5 + 0.5) + 0.5) AS BIGINT)
                   AS target_docs
          FROM w
        ),
        r AS (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents
        )
        SELECT r.doc_id, r.source, CAST(r.rn AS INT) AS sample_rank, t.target_docs
        FROM r JOIN t USING (source) WHERE r.rn <= t.target_docs
    """
    # bpe1: three unrolled BPE merge steps — pair counts are Sennrich's
    # overlapping adjacent counts over the frequency-weighted vocab; the
    # leading-space replace encoding makes greedy non-overlap == replace()
    q["bpe1_merge_steps"] = """
        WITH v0 AS (
          SELECT regexp_replace(word, '(.)', ' \\1', 'g') AS s, COUNT(*) AS freq
          FROM (
            SELECT unnest(string_split(
                     lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS word
            FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
          ) GROUP BY 1
        ),
        p1 AS (
          SELECT l[r.i] || chr(1) || l[r.i + 1] AS pair, SUM(freq) AS cnt
          FROM (SELECT string_split(substr(s, 2), ' ') AS l, freq FROM v0),
               UNNEST(range(1, len(l))) AS r(i)
          GROUP BY 1
        ),
        b1 AS (
          SELECT string_split(pair, chr(1))[1] AS left_,
                 string_split(pair, chr(1))[2] AS right_, cnt
          FROM p1 ORDER BY cnt DESC, pair LIMIT 1
        ),
        v1 AS (
          SELECT COALESCE(replace(v.s, ' ' || b.left_ || ' ' || b.right_,
                                  ' ' || b.left_ || b.right_), v.s) AS s, v.freq
          FROM v0 v LEFT JOIN b1 b ON TRUE
        ),
        p2 AS (
          SELECT l[r.i] || chr(1) || l[r.i + 1] AS pair, SUM(freq) AS cnt
          FROM (SELECT string_split(substr(s, 2), ' ') AS l, freq FROM v1),
               UNNEST(range(1, len(l))) AS r(i)
          GROUP BY 1
        ),
        b2 AS (
          SELECT string_split(pair, chr(1))[1] AS left_,
                 string_split(pair, chr(1))[2] AS right_, cnt
          FROM p2 ORDER BY cnt DESC, pair LIMIT 1
        ),
        v2 AS (
          SELECT COALESCE(replace(v.s, ' ' || b.left_ || ' ' || b.right_,
                                  ' ' || b.left_ || b.right_), v.s) AS s, v.freq
          FROM v1 v LEFT JOIN b2 b ON TRUE
        ),
        p3 AS (
          SELECT l[r.i] || chr(1) || l[r.i + 1] AS pair, SUM(freq) AS cnt
          FROM (SELECT string_split(substr(s, 2), ' ') AS l, freq FROM v2),
               UNNEST(range(1, len(l))) AS r(i)
          GROUP BY 1
        ),
        b3 AS (
          SELECT string_split(pair, chr(1))[1] AS left_,
                 string_split(pair, chr(1))[2] AS right_, cnt
          FROM p3 ORDER BY cnt DESC, pair LIMIT 1
        )
        SELECT CAST(1 AS INT) AS step, left_ AS "left", right_ AS "right",
               CAST(cnt AS BIGINT) AS n_occurrences FROM b1
        UNION ALL
        SELECT CAST(2 AS INT), left_, right_, CAST(cnt AS BIGINT) FROM b2
        UNION ALL
        SELECT CAST(3 AS INT), left_, right_, CAST(cnt AS BIGINT) FROM b3
        ORDER BY step
    """
    # bpe2: the bpe1 chain with the raw word carried through, then the
    # per-word token counts joined back to every word occurrence
    q["bpe2_segment"] = """
        WITH words AS (
          SELECT doc_id,
                 unnest(string_split(
                   lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS word
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        v0 AS (
          SELECT word, regexp_replace(word, '(.)', ' \\1', 'g') AS s, COUNT(*) AS freq
          FROM words GROUP BY 1, 2
        ),
        p1 AS (
          SELECT l[r.i] || chr(1) || l[r.i + 1] AS pair, SUM(freq) AS cnt
          FROM (SELECT string_split(substr(s, 2), ' ') AS l, freq FROM v0),
               UNNEST(range(1, len(l))) AS r(i)
          GROUP BY 1
        ),
        b1 AS (
          SELECT string_split(pair, chr(1))[1] AS left_,
                 string_split(pair, chr(1))[2] AS right_
          FROM p1 ORDER BY cnt DESC, pair LIMIT 1
        ),
        v1 AS (
          SELECT v.word, COALESCE(replace(v.s, ' ' || b.left_ || ' ' || b.right_,
                                          ' ' || b.left_ || b.right_), v.s) AS s, v.freq
          FROM v0 v LEFT JOIN b1 b ON TRUE
        ),
        p2 AS (
          SELECT l[r.i] || chr(1) || l[r.i + 1] AS pair, SUM(freq) AS cnt
          FROM (SELECT string_split(substr(s, 2), ' ') AS l, freq FROM v1),
               UNNEST(range(1, len(l))) AS r(i)
          GROUP BY 1
        ),
        b2 AS (
          SELECT string_split(pair, chr(1))[1] AS left_,
                 string_split(pair, chr(1))[2] AS right_
          FROM p2 ORDER BY cnt DESC, pair LIMIT 1
        ),
        v2 AS (
          SELECT v.word, COALESCE(replace(v.s, ' ' || b.left_ || ' ' || b.right_,
                                          ' ' || b.left_ || b.right_), v.s) AS s, v.freq
          FROM v1 v LEFT JOIN b2 b ON TRUE
        ),
        p3 AS (
          SELECT l[r.i] || chr(1) || l[r.i + 1] AS pair, SUM(freq) AS cnt
          FROM (SELECT string_split(substr(s, 2), ' ') AS l, freq FROM v2),
               UNNEST(range(1, len(l))) AS r(i)
          GROUP BY 1
        ),
        b3 AS (
          SELECT string_split(pair, chr(1))[1] AS left_,
                 string_split(pair, chr(1))[2] AS right_
          FROM p3 ORDER BY cnt DESC, pair LIMIT 1
        ),
        v3 AS (
          SELECT v.word, COALESCE(replace(v.s, ' ' || b.left_ || ' ' || b.right_,
                                          ' ' || b.left_ || b.right_), v.s) AS s
          FROM v2 v LEFT JOIN b3 b ON TRUE
        ),
        m AS (
          SELECT word, len(string_split(substr(s, 2), ' ')) AS n_toks FROM v3
        )
        SELECT w.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(length(w.word)) AS BIGINT) AS n_chars_tokenized,
               CAST(SUM(m.n_toks) AS BIGINT) AS n_tokens
        FROM words w JOIN m USING (word)
        GROUP BY w.doc_id ORDER BY w.doc_id
    """
    # bpe4: the same learned-merge chain, with each word occurrence
    # carrying its doc's lang — fertility from the exact integer sums
    q["bpe4_lang_fertility"] = q["bpe2_segment"].replace(
        """WITH words AS (
          SELECT doc_id,""",
        """WITH words AS (
          SELECT lang,""",
    ).replace(
        """SELECT w.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(length(w.word)) AS BIGINT) AS n_chars_tokenized,
               CAST(SUM(m.n_toks) AS BIGINT) AS n_tokens
        FROM words w JOIN m USING (word)
        GROUP BY w.doc_id ORDER BY w.doc_id""",
        """SELECT w.lang,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(m.n_toks) AS BIGINT) AS n_tokens,
               ROUND(CAST(SUM(m.n_toks) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS fertility
        FROM words w JOIN m USING (word)
        GROUP BY w.lang ORDER BY w.lang""",
    )
    # mix4: exact integer water-filling — boundary products in HUGEINT
    # (DuckDB) / DECIMAL(38,0) (Spark), both exact; base share via the
    # same IEEE double division + floor in both engines
    q["mix4_unimax_allocation"] = f"""
        WITH counts AS (
          SELECT source,
                 CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens,
                 CAST(4 * SUM(len({_TOKS})) AS BIGINT) AS cap_tokens
          FROM documents WHERE text IS NOT NULL
          GROUP BY source
        ),
        ranked AS (
          SELECT source, n_tokens, cap_tokens,
                 CAST(FLOOR(SUM(n_tokens) OVER () / 2) AS BIGINT) AS b,
                 CAST(COUNT(*) OVER () AS BIGINT) AS k,
                 CAST(row_number() OVER (ORDER BY cap_tokens, source) AS BIGINT) AS i,
                 CAST(SUM(cap_tokens) OVER (ORDER BY cap_tokens, source) AS BIGINT) AS p
          FROM counts
        ),
        flagged AS (
          SELECT *,
                 CASE WHEN NOT (CAST(cap_tokens AS HUGEINT) * (k - i + 1)
                                <= CAST(b - (p - cap_tokens) AS HUGEINT))
                      THEN i END AS fail_i
          FROM ranked
        ),
        tt AS (SELECT *, COALESCE(MIN(fail_i) OVER () - 1, k) AS t FROM flagged),
        pt AS (
          SELECT *,
                 COALESCE(MAX(CASE WHEN i <= t THEN p END) OVER (), 0) AS p_t
          FROM tt
        ),
        alloc AS (
          SELECT source, n_tokens, cap_tokens,
                 CAST(CASE WHEN i <= t THEN cap_tokens
                      ELSE CAST(FLOOR((b - p_t) / (k - t)) AS BIGINT)
                           + CASE WHEN i - t <= (b - p_t) % (k - t)
                                  THEN 1 ELSE 0 END
                      END AS BIGINT) AS alloc_tokens
          FROM pt
        )
        SELECT source, n_tokens, cap_tokens, alloc_tokens,
               ROUND(CAST(alloc_tokens AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE), 6) AS epochs
        FROM alloc ORDER BY source
    """
    # bpe3: the bpe2 chain's word->n_toks map, folded to the one-row
    # corpus coverage readout (occurrences fully merged to one symbol)
    q["bpe3_vocab_coverage"] = q["bpe2_segment"].rsplit("SELECT w.doc_id", 1)[0] + """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(CASE WHEN m.n_toks = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_fully_merged,
               round(SUM(CASE WHEN m.n_toks = 1 THEN 1 ELSE 0 END)::DOUBLE
                     / COUNT(*), 6) AS coverage_rate
        FROM words w JOIN m USING (word)
    """
    # lr1/lr2: two unrolled full-batch GD steps — per-row sigmoid 9-dp
    # rounded (ppl1 discipline), gradient terms 12-dp DECIMAL-summed
    # (order-free), weight updates rounded IN the expression (kmeans
    # discipline; Python round() is half-even and never touches weights)
    _lr_chain = f"""
        WITH f AS (
          SELECT doc_id, lang, 1.0 AS x0,
                 CAST(len(list_filter({_TOKS}, t -> list_contains({_STOP}, t))) AS DOUBLE)
                   / CAST(len({_TOKS}) AS DOUBLE) AS x1,
                 least(CAST(len({_TOKS}) AS DOUBLE), 256.0) / 256.0 AS x2,
                 CAST(n_chars AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE) / 64.0 AS x3,
                 CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f),
        g1 AS (
          SELECT
            CAST(SUM(CAST(round((p - y) * x0, 12) AS DECIMAL(28,12))) AS DOUBLE) AS g0,
            CAST(SUM(CAST(round((p - y) * x1, 12) AS DECIMAL(28,12))) AS DOUBLE) AS g1,
            CAST(SUM(CAST(round((p - y) * x2, 12) AS DECIMAL(28,12))) AS DOUBLE) AS g2,
            CAST(SUM(CAST(round((p - y) * x3, 12) AS DECIMAL(28,12))) AS DOUBLE) AS g3
          FROM (SELECT *, round(1.0 / (1.0 + exp(-(0.0 * x0 + 0.0 * x1
                                                   + 0.0 * x2 + 0.0 * x3))), 9) AS p
                FROM f)
        ),
        it1 AS (
          SELECT round(0.0 - g0 / (SELECT n FROM nn), 12) AS w0,
                 round(0.0 - g1 / (SELECT n FROM nn), 12) AS w1,
                 round(0.0 - g2 / (SELECT n FROM nn), 12) AS w2,
                 round(0.0 - g3 / (SELECT n FROM nn), 12) AS w3
          FROM g1
        ),
        g2s AS (
          SELECT
            CAST(SUM(CAST(round((p - y) * x0, 12) AS DECIMAL(28,12))) AS DOUBLE) AS g0,
            CAST(SUM(CAST(round((p - y) * x1, 12) AS DECIMAL(28,12))) AS DOUBLE) AS g1,
            CAST(SUM(CAST(round((p - y) * x2, 12) AS DECIMAL(28,12))) AS DOUBLE) AS g2,
            CAST(SUM(CAST(round((p - y) * x3, 12) AS DECIMAL(28,12))) AS DOUBLE) AS g3
          FROM (SELECT f.*, round(1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1
                                                     + w.w2 * x2 + w.w3 * x3))), 9) AS p
                FROM f CROSS JOIN it1 w)
        ),
        it2 AS (
          SELECT round(w.w0 - g.g0 / (SELECT n FROM nn), 12) AS w0,
                 round(w.w1 - g.g1 / (SELECT n FROM nn), 12) AS w1,
                 round(w.w2 - g.g2 / (SELECT n FROM nn), 12) AS w2,
                 round(w.w3 - g.g3 / (SELECT n FROM nn), 12) AS w3
          FROM g2s g CROSS JOIN it1 w
        )"""
    q["lr1_quality_classifier"] = _lr_chain + """
        SELECT 'intercept' AS feature, w0 AS weight FROM it2
        UNION ALL SELECT 'stopword_ratio', w1 FROM it2
        UNION ALL SELECT 'len_capped', w2 FROM it2
        UNION ALL SELECT 'avg_tok_len', w3 FROM it2
    """
    # lr2: the same trained weights applied map-only, per-lang readout
    q["lr2_classifier_scores"] = _lr_chain + """
        , scored AS (
          SELECT f.lang,
                 round(1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1
                                          + w.w2 * x2 + w.w3 * x3))), 9) AS p
          FROM f CROSS JOIN it2 w
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en,
               round(CAST(SUM(CAST(p AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 9)
                 AS mean_p
        FROM scored GROUP BY lang ORDER BY lang
    """
    # auc1: exact rank-sum ROC-AUC of the same trained gate over the
    # (p, doc_id) total order (tie-break convention, not averaged ranks);
    # DECIMAL(38,0) rank sums (n^2/2 overflows int64 past ~4e9 rows);
    # the 0/0 one-class case is excluded identically in both engines
    q["auc1_classifier_auc"] = _lr_chain + """
        , ascored AS (
          SELECT f.doc_id, f.y,
                 round(1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1
                                          + w.w2 * x2 + w.w3 * x3))), 9) AS p
          FROM f CROSS JOIN it2 w
        ),
        aranked AS (
          SELECT doc_id, y, row_number() OVER (ORDER BY p, doc_id) AS rnk
          FROM ascored
        )
        SELECT CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
               round(
                 CAST(CAST(2 AS DECIMAL(38,0))
                        * SUM(CASE WHEN y = 1.0 THEN CAST(rnk AS DECIMAL(38,0))
                              ELSE CAST(0 AS DECIMAL(38,0)) END)
                      - CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DECIMAL(38,0))
                        * (CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DECIMAL(38,0)) + 1)
                      AS DOUBLE)
                 / (2.0 * CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
                        * CAST(SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS DOUBLE)),
                 6) AS auc
        FROM aranked
        HAVING n_pos > 0 AND n_neg > 0
    """
    # cart1: dataset cartography from the SAME two unrolled GD steps —
    # per-doc true-class confidence under it1 and it2 weights, mean +
    # population variability (9-dp at every reduction, 6-dp out)
    q["cart1_dataset_cartography"] = _lr_chain + """
        , cscored AS (
          SELECT f.doc_id, f.y,
                 round(1.0 / (1.0 + exp(-(w1.w0 * x0 + w1.w1 * x1
                                          + w1.w2 * x2 + w1.w3 * x3))), 9) AS p1,
                 round(1.0 / (1.0 + exp(-(w2.w0 * x0 + w2.w1 * x1
                                          + w2.w2 * x2 + w2.w3 * x3))), 9) AS p2
          FROM f CROSS JOIN it1 w1 CROSS JOIN it2 w2
        ),
        cconf AS (
          SELECT doc_id,
                 CASE WHEN y = 1.0 THEN p1 ELSE 1.0 - p1 END AS c1,
                 CASE WHEN y = 1.0 THEN p2 ELSE 1.0 - p2 END AS c2
          FROM cscored
        ),
        cm AS (SELECT doc_id, c1, c2, round((c1 + c2) / 2.0, 9) AS m9 FROM cconf)
        SELECT doc_id,
               round(m9, 6) AS mean_conf,
               round(round(sqrt(((c1 - m9) * (c1 - m9)
                                 + (c2 - m9) * (c2 - m9)) / 2.0), 9), 6)
                 AS variability,
               m9 >= 0.5 AS above_chance
        FROM cm ORDER BY doc_id
    """
    # nb1: Laplace-smoothed multinomial NB — per-(token, class) log2
    # conditionals 9-dp rounded (ppl1 discipline), integer-count ×
    # DECIMAL products summed exactly, argmax ties to smallest class
    q["nb1_langid_confusion"] = f"""
        WITH base AS (
          SELECT doc_id, lang, unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        clt AS (SELECT lang AS cand, tok, COUNT(*) AS c_lt FROM base GROUP BY 1, 2),
        cs AS (
          SELECT lang AS cand, COUNT(*) AS n_l, COUNT(DISTINCT doc_id) AS docs_l
          FROM base GROUP BY 1
        ),
        v AS (SELECT COUNT(DISTINCT tok) AS vocab FROM base),
        nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM base),
        langs AS (
          SELECT cand, n_l,
                 round(log2(CAST(docs_l AS DOUBLE)
                            / (SELECT CAST(n_docs AS DOUBLE) FROM nd)), 9) AS prior
          FROM cs
        ),
        dtc AS (
          SELECT doc_id, lang, tok, COUNT(*) AS cnt FROM base GROUP BY 1, 2, 3
        ),
        sc AS (
          SELECT d.doc_id, d.lang, l.cand, l.prior,
                 SUM(CAST(d.cnt AS DECIMAL(12,0)) *
                     CAST(round(log2(CAST(COALESCE(c.c_lt, 0) + 1 AS DOUBLE)
                                     / CAST(l.n_l + (SELECT vocab FROM v) AS DOUBLE)), 9)
                          AS DECIMAL(20,12))) AS ll
          FROM dtc d CROSS JOIN langs l
          LEFT JOIN clt c ON c.cand = l.cand AND c.tok = d.tok
          GROUP BY 1, 2, 3, 4
        ),
        scored AS (
          SELECT doc_id, lang, cand,
                 CAST(CAST(prior AS DECIMAL(20,12)) + ll AS DOUBLE) AS score
          FROM sc
        ),
        pred AS (
          SELECT lang, cand FROM (
            SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
            FROM scored) WHERE rn = 1
        )
        SELECT lang, cand AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """
    # nb2: NB trained on the train gate only, scored on val/test —
    # integer outputs, same determinism pivots as nb1
    q["nb2_holdout_accuracy"] = f"""
        WITH ne AS (
          SELECT doc_id, lang, text,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
                   AS gate
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        tb AS (
          SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM ne WHERE gate < 80
        ),
        clt AS (SELECT lang AS cand, tok, COUNT(*) AS c_lt FROM tb GROUP BY 1, 2),
        cs AS (
          SELECT lang AS cand, COUNT(*) AS n_l, COUNT(DISTINCT doc_id) AS docs_l
          FROM tb GROUP BY 1
        ),
        v AS (SELECT COUNT(DISTINCT tok) AS vocab FROM tb),
        nt AS (SELECT COUNT(DISTINCT doc_id) AS n_train FROM tb),
        langs AS (
          SELECT cand, n_l,
                 round(log2(CAST(docs_l AS DOUBLE)
                            / (SELECT CAST(n_train AS DOUBLE) FROM nt)), 9) AS prior
          FROM cs
        ),
        hb AS (
          SELECT doc_id, lang,
                 CASE WHEN gate < 90 THEN 'val' ELSE 'test' END AS split,
                 unnest({_TOKS}) AS tok
          FROM ne WHERE gate >= 80
        ),
        dtc AS (
          SELECT doc_id, lang, split, tok, COUNT(*) AS cnt FROM hb GROUP BY 1, 2, 3, 4
        ),
        sc AS (
          SELECT d.doc_id, d.lang, d.split, l.cand, l.prior,
                 SUM(CAST(d.cnt AS DECIMAL(12,0)) *
                     CAST(round(log2(CAST(COALESCE(c.c_lt, 0) + 1 AS DOUBLE)
                                     / CAST(l.n_l + (SELECT vocab FROM v) AS DOUBLE)), 9)
                          AS DECIMAL(20,12))) AS ll
          FROM dtc d CROSS JOIN langs l
          LEFT JOIN clt c ON c.cand = l.cand AND c.tok = d.tok
          GROUP BY 1, 2, 3, 4, 5
        ),
        scored AS (
          SELECT doc_id, lang, split, cand,
                 CAST(CAST(prior AS DECIMAL(20,12)) + ll AS DOUBLE) AS score
          FROM sc
        ),
        pred AS (
          SELECT lang, split, cand FROM (
            SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
            FROM scored) WHERE rn = 1
        )
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN cand = lang THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_correct
        FROM pred GROUP BY 1 ORDER BY 1
    """
    # prep2: the composed v2 pipeline — linedd1's cleaning chain, nb1's
    # self-trained langid chain, then prep1's quality/split/pack tail
    # over the CLEANED text
    q["prep2_monolingual_corpus"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS l FROM documents
          WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        sp AS (
          SELECT doc_id, l, unnest(generate_series(1, len(l), 8)) AS start
          FROM t
        ),
        spans AS (
          SELECT doc_id,
                 CAST((start - 1) // 8 AS INT) AS span_idx,
                 array_to_string(list_slice(l, start, start + 7), chr(1)) AS span_key
          FROM sp
        ),
        flagged AS (
          SELECT *,
                 (row_number() OVER (
                    PARTITION BY span_key ORDER BY doc_id, span_idx) = 1) AS keep
          FROM spans
        ),
        cleaned0 AS (
          SELECT doc_id,
                 COALESCE(string_agg(replace(span_key, chr(1), ' '), ' '
                                     ORDER BY span_idx) FILTER (WHERE keep), '')
                   AS ctext
          FROM flagged GROUP BY doc_id
        ),
        cleaned AS (
          SELECT c.doc_id, d.source, c.ctext AS text
          FROM cleaned0 c JOIN documents d USING (doc_id)
          WHERE c.ctext <> ''
        ),
        nbase AS (
          SELECT doc_id, lang, unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        nclt AS (SELECT lang AS cand, tok, COUNT(*) AS c_lt FROM nbase GROUP BY 1, 2),
        ncs AS (
          SELECT lang AS cand, COUNT(*) AS n_l, COUNT(DISTINCT doc_id) AS docs_l
          FROM nbase GROUP BY 1
        ),
        nv AS (SELECT COUNT(DISTINCT tok) AS vocab FROM nbase),
        nnd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM nbase),
        nlangs AS (
          SELECT cand, n_l,
                 round(log2(CAST(docs_l AS DOUBLE)
                            / (SELECT CAST(n_docs AS DOUBLE) FROM nnd)), 9) AS prior
          FROM ncs
        ),
        ndtc AS (
          SELECT doc_id, tok, COUNT(*) AS cnt FROM nbase GROUP BY 1, 2
        ),
        nsc AS (
          SELECT d.doc_id, l.cand, l.prior,
                 SUM(CAST(d.cnt AS DECIMAL(12,0)) *
                     CAST(round(log2(CAST(COALESCE(c.c_lt, 0) + 1 AS DOUBLE)
                                     / CAST(l.n_l + (SELECT vocab FROM nv) AS DOUBLE)), 9)
                          AS DECIMAL(20,12))) AS ll
          FROM ndtc d CROSS JOIN nlangs l
          LEFT JOIN nclt c ON c.cand = l.cand AND c.tok = d.tok
          GROUP BY 1, 2, 3
        ),
        nscored AS (
          SELECT doc_id, cand,
                 CAST(CAST(prior AS DECIMAL(20,12)) + ll AS DOUBLE) AS score
          FROM nsc
        ),
        prednb AS (
          SELECT doc_id, cand FROM (
            SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
            FROM nscored) WHERE rn = 1
        ),
        endocs AS (
          SELECT cl.doc_id, cl.source, cl.text
          FROM cleaned cl JOIN prednb p USING (doc_id)
          WHERE p.cand = 'en'
        ),
        scored AS (
          SELECT doc_id, source, text,
                 CASE WHEN CAST(len({_RAW_TOKS}) AS INT) < 5 THEN 0.0
                      ELSE ((CAST(least(len({_RAW_TOKS}), 100) AS BIGINT)
                             * (1000000 - CAST(round(round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                                                           / greatest(length(text), 1), 6)
                                                     * 1000000, 0) AS BIGINT))
                             + 50) // 100) / 1000000.0 END
                   AS quality_score,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
                   / 1152921504606846976.0 AS g,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS sgate
          FROM endocs
        ),
        kept AS (
          SELECT doc_id, source, quality_score,
                 CASE WHEN sgate < 80 THEN 'train'
                      WHEN sgate < 90 THEN 'val' ELSE 'test' END AS split,
                 CAST(len({_RAW_TOKS}) AS BIGINT) AS n_tokens
          FROM scored WHERE g < quality_score
        ),
        packed AS (
          SELECT doc_id, split, source, quality_score, n_tokens,
                 CAST(SUM(n_tokens) OVER (
                   PARTITION BY split, source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) - n_tokens AS BIGINT) AS stream_offset
          FROM kept
        )
        SELECT doc_id, split, source, quality_score, n_tokens, stream_offset,
               CAST(FLOOR(stream_offset / 512) AS BIGINT) AS bin_id
        FROM packed
    """
    # decon2: corpus × benchmark cosine (benchmark = label 0 slice);
    # dd_embed_neardup's 6-dp cosine idiom, (cos DESC, bench_id) argmax
    q["decon2_semantic_contamination"] = f"""
        WITH bench AS (
          SELECT vec_id AS bench_id, embedding AS bench_emb
          FROM embeddings WHERE label = 0 AND {_VALID_EMB}
        ),
        corpus AS (
          SELECT vec_id, embedding FROM embeddings
          WHERE label <> 0 AND {_VALID_EMB}
        ),
        hits AS (
          SELECT c.vec_id, b.bench_id,
                 round(
                   list_sum(list_transform(range(1, len(c.embedding) + 1),
                         i -> c.embedding[i]::DOUBLE * b.bench_emb[i]::DOUBLE))
                   / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
                      * sqrt(list_sum(list_transform(b.bench_emb, x -> x::DOUBLE * x::DOUBLE)))),
                   6) AS cos_sim
          FROM corpus c CROSS JOIN bench b
          WHERE len(c.embedding) = len(b.bench_emb)
        )
        SELECT vec_id, CAST(bench_id AS BIGINT) AS closest_benchmark, cos_sim
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos_sim DESC, bench_id) AS rn
          FROM hits WHERE cos_sim >= 0.9
        ) WHERE rn = 1 ORDER BY vec_id
    """
    # cur1: ppl1's exact chain as a CTE, bits-per-token NTILE'd into 4
    # phases over the (bpt, doc_id) total order
    q["cur1_curriculum_phases"] = f"""
        WITH p AS ({q["ppl1_unigram_logloss"]}),
        s AS (SELECT doc_id, round(total_bits / n_tokens, 9) AS bpt FROM p),
        t AS (SELECT doc_id, bpt,
                     ntile(4) OVER (ORDER BY bpt, doc_id) AS phase FROM s)
        SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(bpt) AS min_bpt, MAX(bpt) AS max_bpt
        FROM t GROUP BY 1 ORDER BY 1
    """
    # decon3: the same contamination audit at threshold 0.4 — flags rows
    # on the synthetic fixture, so the argmax/tie-break is non-vacuous
    q["decon3_contamination_audit"] = q["decon2_semantic_contamination"].replace(
        "WHERE cos_sim >= 0.9", "WHERE cos_sim >= 0.4"
    )
    # drift2: per-label centroid vs global centroid — 9-dp component
    # rounding into DECIMAL(28,9) sums (order-free), 12-dp product terms
    # into DECIMAL(38,12), one identical double cosine formula
    q["drift2_label_centroid_drift"] = """
        WITH comp AS (
          SELECT label, r.i AS dim,
                 CAST(round(embedding[r.i]::DOUBLE, 9) AS DECIMAL(28,9)) AS v9
          FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
        ),
        per AS (SELECT label, dim, SUM(v9) AS s, COUNT(*) AS n FROM comp GROUP BY 1, 2),
        gctr AS (SELECT dim, SUM(s) AS gs, SUM(n) AS gn FROM per GROUP BY 1),
        terms AS (
          SELECT label, n,
                 CAST(round(round(s::DOUBLE / n, 9) * round(gs::DOUBLE / gn, 9), 12) AS DECIMAL(38,12)) AS xy,
                 CAST(round(round(s::DOUBLE / n, 9) * round(s::DOUBLE / n, 9), 12) AS DECIMAL(38,12)) AS xx,
                 CAST(round(round(gs::DOUBLE / gn, 9) * round(gs::DOUBLE / gn, 9), 12) AS DECIMAL(38,12)) AS yy
          FROM per JOIN gctr USING (dim)
        ),
        agg AS (
          SELECT label, CAST(MAX(n) AS BIGINT) AS n_vectors,
                 SUM(xy) AS sxy, SUM(xx) AS sxx, SUM(yy) AS syy
          FROM terms GROUP BY 1
        )
        SELECT label, n_vectors,
               round(sxy::DOUBLE / (sqrt(sxx::DOUBLE) * sqrt(syy::DOUBLE)), 6) + 0.0
                 AS cos_to_global
        FROM agg ORDER BY label
    """
    # mmd1: pairwise linear-kernel MMD between label populations —
    # MMD²_linear = ||μ_a − μ_b||² exactly, so the oracle is drift2's
    # per-(label, dim) decimal sums + a bounded self-join of that tiny
    # table; per-dim squared differences ride 12-dp DECIMAL sums
    q["mmd1_embedding_drift"] = f"""
        WITH gated AS (
          SELECT label, embedding FROM embeddings
          WHERE label IS NOT NULL AND {_VALID_EMB} AND {_FIT_W}
        ),
        comp AS (
          SELECT label, r.i AS dim,
                 CAST(round(embedding[r.i]::DOUBLE, 9) AS DECIMAL(28,9)) AS v9
          FROM gated, UNNEST(range(1, len(embedding) + 1)) AS r(i)
        ),
        per AS (SELECT label, dim, SUM(v9) AS s, COUNT(*) AS n FROM comp GROUP BY 1, 2),
        terms AS (
          SELECT a.label AS label_a, b.label AS label_b, a.n AS na, b.n AS nb,
                 CAST(round((round(a.s::DOUBLE / a.n, 9) - round(b.s::DOUBLE / b.n, 9))
                            * (round(a.s::DOUBLE / a.n, 9) - round(b.s::DOUBLE / b.n, 9)), 12)
                      AS DECIMAL(38,12)) AS t
          FROM per a JOIN per b ON a.dim = b.dim AND a.label < b.label
        )
        SELECT label_a, label_b,
               CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
               round(SUM(t)::DOUBLE, 6) AS mmd2
        FROM terms GROUP BY 1, 2 ORDER BY 1, 2
    """

    # phr1: most-frequent-trigram localization — rep1's chr(1) gram
    # conventions; argmax phrase via (count DESC, gram) total order
    q["phr1_phrase_occurrences"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS l FROM documents WHERE text IS NOT NULL
        ),
        g AS (
          SELECT doc_id,
                 l[r.i] || chr(1) || l[r.i + 1] || chr(1) || l[r.i + 2] AS gram
          FROM t, UNNEST(range(1, len(l) - 1)) AS r(i)
          WHERE len(l) >= 3
        ),
        top AS (
          SELECT gram FROM (
            SELECT gram, COUNT(*) AS cnt FROM g GROUP BY 1
          ) ORDER BY cnt DESC, gram LIMIT 1
        )
        SELECT doc_id,
               replace((SELECT gram FROM top), chr(1), ' ') AS phrase,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM g WHERE gram = (SELECT gram FROM top)
        GROUP BY doc_id ORDER BY doc_id
    """
    # ri1: orphan FK counts per relationship — anti-join semantics
    q["ri1_referential_integrity"] = """
        WITH rel AS (
          SELECT 'orders.o_custkey->customer' AS relationship,
                 (SELECT COUNT(*) FROM orders) AS n_child_rows,
                 (SELECT COUNT(*) FROM orders o
                  WHERE NOT EXISTS (SELECT 1 FROM customer c
                                    WHERE c.c_custkey = o.o_custkey)) AS n_orphans
          UNION ALL
          SELECT 'lineitem.l_orderkey->orders',
                 (SELECT COUNT(*) FROM lineitem),
                 (SELECT COUNT(*) FROM lineitem l
                  WHERE NOT EXISTS (SELECT 1 FROM orders o
                                    WHERE o.o_orderkey = l.l_orderkey))
          UNION ALL
          SELECT 'lineitem.l_partkey->part',
                 (SELECT COUNT(*) FROM lineitem),
                 (SELECT COUNT(*) FROM lineitem l
                  WHERE NOT EXISTS (SELECT 1 FROM part p
                                    WHERE p.p_partkey = l.l_partkey))
          UNION ALL
          SELECT 'lineitem.l_suppkey->supplier',
                 (SELECT COUNT(*) FROM lineitem),
                 (SELECT COUNT(*) FROM lineitem l
                  WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                    WHERE s.s_suppkey = l.l_suppkey))
          UNION ALL
          SELECT 'customer.c_nationkey->nation',
                 (SELECT COUNT(*) FROM customer),
                 (SELECT COUNT(*) FROM customer c
                  WHERE NOT EXISTS (SELECT 1 FROM nation n
                                    WHERE n.n_nationkey = c.c_nationkey))
        )
        SELECT relationship, CAST(n_child_rows AS BIGINT) AS n_child_rows,
               CAST(n_orphans AS BIGINT) AS n_orphans
        FROM rel ORDER BY relationship
    """
    # path1: consecutive event-type trigrams under the (ts, event_id)
    # total order (asof1's determinism pivot); top-k via total order
    q["path1_event_trigrams"] = """
        WITH s AS (
          SELECT event_type AS e1,
                 lead(event_type, 1) OVER w AS e2,
                 lead(event_type, 2) OVER w AS e3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT e1 || '>' || e2 || '>' || e3 AS path,
               CAST(COUNT(*) AS BIGINT) AS n_paths
        FROM s WHERE e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 20
    """
    # rfm1: NTILE quartiles over (recency, frequency, monetary) with
    # o_custkey tie-breaks; NTILE fills front buckets first, both engines
    q["rfm1_customer_segments"] = """
        WITH pc AS (
          SELECT o_custkey, MAX(o_orderdate) AS last_order,
                 COUNT(*) AS frequency,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
          FROM orders GROUP BY 1
        ),
        a AS (SELECT MAX(last_order) AS anchor FROM pc),
        seg AS (
          SELECT o_custkey, monetary,
                 ntile(4) OVER (ORDER BY date_diff('day', last_order,
                                                   (SELECT anchor FROM a)),
                                o_custkey) AS r_score,
                 ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
                 ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
          FROM pc
        )
        SELECT r_score, f_score, m_score,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               floor(CAST(SUM(monetary) * 100 AS DOUBLE) / COUNT(*) + 0.5) / 100.0
                 AS avg_monetary
        FROM seg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """
    # drift1: per-(source, token) KL terms IEEE-identical in both
    # engines, rounded to 9 dp, decimal-summed (the ppl1 discipline)
    q["drift1_source_token_kl"] = f"""
        WITH toks AS (
          SELECT source, unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL
        ),
        st AS (SELECT source, tok, COUNT(*) AS c_st FROM toks GROUP BY 1, 2),
        s_tot AS (SELECT source, COUNT(*) AS n_s FROM toks GROUP BY 1),
        ct AS (SELECT tok, COUNT(*) AS c_t FROM toks GROUP BY 1),
        tot AS (SELECT SUM(c_t) AS n_c FROM ct)
        SELECT source,
               CAST(MAX(n_s) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(ROUND(
                 (CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)) *
                 log2((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
                      / (CAST(c_t AS DOUBLE) / CAST(n_c AS DOUBLE))), 9)
                 AS DECIMAL(20,12))) AS DOUBLE) AS kl_bits
        FROM st JOIN s_tot USING (source) JOIN ct USING (tok) CROSS JOIN tot
        GROUP BY source
        ORDER BY source
    """
    # leak1: train vs held-out 5-gram overlap under the split1 gate —
    # both sides corpus-sized, keyed join on the 60-bit gram hash
    q["leak1_cross_split_leakage"] = f"""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                           % 100 < 80 THEN 'train'
                      WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                           % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 {_TOKS} AS l
          FROM documents WHERE text IS NOT NULL
        ),
        g AS (
          SELECT doc_id, split,
                 unnest(list_distinct(list_transform(
                   generate_series(1, len(l) - 4),
                   i -> l[i] || chr(1) || l[i+1] || chr(1) || l[i+2]
                        || chr(1) || l[i+3] || chr(1) || l[i+4]))) AS g
          FROM base WHERE len(l) >= 5
        ),
        tr AS (
          SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
          FROM g WHERE split = 'train'
        ),
        hd AS (
          SELECT doc_id, split, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
          FROM g WHERE split <> 'train'
        )
        SELECT doc_id, split, CAST(COUNT(*) AS BIGINT) AS n_leaked_ngrams
        FROM hd JOIN tr USING (gh)
        GROUP BY 1, 2
        ORDER BY doc_id
    """
    # asof1: the same union + keyed-window composition the Spark side
    # runs — last_value(... IGNORE NULLS) carries the latest prior view
    # forward; (ts, event_id) is the total order both engines share
    q["asof1_purchase_view_asof"] = """
        WITH tagged AS (
          SELECT event_id, user_id, ts, event_type,
                 CASE WHEN event_type = 'view' THEN event_id END AS v_id,
                 CASE WHEN event_type = 'view' THEN ts END AS v_ts
          FROM events
        ),
        carried AS (
          SELECT event_id, user_id, ts, event_type,
                 LAST_VALUE(v_id IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS asof_view_id,
                 LAST_VALUE(v_ts IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS asof_view_ts
          FROM tagged
        )
        SELECT event_id AS purchase_id, user_id, asof_view_id,
               CAST(date_diff('second', asof_view_ts, ts) AS BIGINT)
                 AS view_to_purchase_s
        FROM carried
        WHERE event_type = 'purchase'
        ORDER BY purchase_id
    """
    # sess1: lag marks session starts (gap strictly > 30 min in exact
    # unix seconds), running sum numbers them, one rollup per session
    q["sess1_user_sessions"] = """
        WITH lagged AS (
          SELECT user_id, ts, event_id,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
          FROM events
        ),
        numbered AS (
          SELECT user_id, ts,
                 SUM(CASE WHEN prev_ts IS NULL
                            OR date_diff('second', prev_ts, ts) > 1800
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_idx
          FROM lagged
        )
        SELECT user_id,
               CAST(session_idx AS BIGINT) AS session_idx,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
                 AS duration_s
        FROM numbered
        GROUP BY user_id, session_idx
        ORDER BY user_id, session_idx
    """
    # fun1: each stage's reach = min event ts at-or-after the previous
    # stage's reach — the sequential-funnel chain of filtered min-aggs
    q["fun1_stage_funnel"] = """
        WITH s1 AS (
          SELECT user_id, MIN(ts) AS reached_ts
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS reached_ts
          FROM events e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts >= s1.reached_ts
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, MIN(e.ts) AS reached_ts
          FROM events e JOIN s2 USING (user_id)
          WHERE e.event_type = 'signup' AND e.ts >= s2.reached_ts
          GROUP BY e.user_id
        ),
        s4 AS (
          SELECT e.user_id, MIN(e.ts) AS reached_ts
          FROM events e JOIN s3 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts >= s3.reached_ts
          GROUP BY e.user_id
        )
        SELECT 1 AS stage_idx, 'view' AS stage,
               CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
        UNION ALL SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        UNION ALL SELECT 3, 'signup', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
        UNION ALL SELECT 4, 'purchase', CAST((SELECT COUNT(*) FROM s4) AS BIGINT)
        ORDER BY stage_idx
    """
    q["m1_event_transitions"] = """
        WITH seq AS (
          SELECT user_id,
                 LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type,
                 event_type AS next_type
          FROM events
        )
        SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
        ORDER BY prev_type, next_type
    """

    q["decay1_time_decayed_user_value"] = """
        WITH anchor AS (SELECT MAX(ts) AS t_max FROM events)
        SELECT user_id,
               round(CAST(SUM(CAST(
                 value * pow(2.0, -(CAST(date_diff('microsecond', ts, t_max) AS DOUBLE) / 86400000000.0) / 7.0)
               AS DECIMAL(28,12))) AS DOUBLE), 4) AS decayed_value,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events CROSS JOIN anchor
        GROUP BY user_id
        ORDER BY user_id
    """

    q["bp1_boilerplate_phrases"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS l FROM documents
          WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        g AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, len(l) - 4),
                   i -> l[i] || chr(1) || l[i+1] || chr(1) || l[i+2] || chr(1) || l[i+3] || chr(1) || l[i+4]
                 ))) AS phrase
          FROM t WHERE len(l) >= 5
        )
        SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM g GROUP BY phrase HAVING COUNT(*) >= 3
        ORDER BY n_docs DESC, phrase
    """

    q["win1_winsorized_prices"] = """
        WITH ranked AS (
          SELECT o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
                 COUNT(*) OVER () AS n
          FROM orders
        ),
        cuts AS (
          SELECT MAX(CASE WHEN rn = CAST(ceil(n * 0.05) AS BIGINT) THEN o_totalprice END) AS p_lo,
                 MAX(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN o_totalprice END) AS p_hi
          FROM ranked
        )
        SELECT o_orderkey, o_totalprice,
               greatest(p_lo, least(p_hi, o_totalprice)) AS winsorized
        FROM orders CROSS JOIN cuts
        ORDER BY o_orderkey
    """

    # BM25 shared CTE chain (mirrors analytics.retrieval: k1=1.2, b=0.75,
    # Lucene's +1 idf, scores rounded to 4 before ranking)
    _QTERMS = ",".join(
        f"({qid},'{t}')"
        for qid, terms in sorted(rtr.DEFAULT_QUERIES.items())
        for t in sorted(set(terms))
    )
    _BM25_CTES = f"""
        d AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
          WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        toks AS (SELECT doc_id, unnest(t) AS tok FROM d),
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        tfdl AS (SELECT *, SUM(tf) OVER (PARTITION BY doc_id) AS dl FROM tf),
        dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl
          FROM d
        ),
        qt AS (
          SELECT CAST(query_id AS BIGINT) AS query_id, tok
          FROM (VALUES {_QTERMS}) AS v(query_id, tok)
        ),
        scored AS (
          SELECT qt.query_id, tfdl.doc_id,
                 round(SUM(
                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1.0)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
                 ), 4) AS bm25
          FROM tfdl JOIN qt USING (tok) JOIN dfreq USING (tok) CROSS JOIN stats
          GROUP BY 1, 2
        )"""
    q["bm25_1_search"] = f"""
        WITH {_BM25_CTES}
        SELECT query_id, doc_id, bm25, CAST(rn AS INT) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
          FROM scored
        ) WHERE rn <= 5
    """

    # ndcg1: NDCG@10 + reciprocal rank of the BM25 ranking vs the
    # deterministic term-coverage grade rel(q,d) = #distinct query terms
    # in d — gains rounded to 9 dp into DECIMAL sums, IDCG from the
    # grade histogram (no per-query doc sort), rr = 1/first best-grade
    # hit (0.0 when the top-k misses every best-grade doc)
    q["ndcg1_retrieval_quality"] = f"""
        WITH {_BM25_CTES},
        topk AS (
          SELECT query_id, doc_id, bm25, CAST(rn AS INT) AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY bm25 DESC, doc_id) AS rn
            FROM scored
          ) WHERE rn <= 10
        ),
        grades AS (
          SELECT qt.query_id, tfdl.doc_id, CAST(COUNT(*) AS BIGINT) AS rel
          FROM tfdl JOIN qt USING (tok) GROUP BY 1, 2
        ),
        hist AS (
          SELECT query_id, rel, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM grades GROUP BY 1, 2
        ),
        cum AS (
          SELECT query_id, rel, cnt,
                 SUM(cnt) OVER (PARTITION BY query_id ORDER BY rel DESC) AS cum_cnt
          FROM hist
        ),
        ranks AS (
          SELECT DISTINCT query_id, CAST(r.k AS INT) AS rank
          FROM hist, UNNEST(range(1, 11)) AS r(k)
        ),
        ideal AS (
          SELECT r.query_id, r.rank, c.rel
          FROM ranks r JOIN cum c USING (query_id)
          WHERE r.rank <= c.cum_cnt AND r.rank > c.cum_cnt - c.cnt
        ),
        idcg AS (
          SELECT query_id,
                 SUM(CAST(round((pow(2.0, rel) - 1.0) / log2(rank + 1.0), 9)
                          AS DECIMAL(38,12))) AS idcg
          FROM ideal GROUP BY query_id
        ),
        dcgt AS (
          SELECT t.query_id, t.rank, g.rel
          FROM topk t JOIN grades g ON g.query_id = t.query_id AND g.doc_id = t.doc_id
        ),
        dcg AS (
          SELECT query_id,
                 SUM(CAST(round((pow(2.0, rel) - 1.0) / log2(rank + 1.0), 9)
                          AS DECIMAL(38,12))) AS dcg
          FROM dcgt GROUP BY query_id
        ),
        mx AS (
          SELECT query_id, CAST(MAX(rel) AS INT) AS max_rel,
                 CAST(SUM(cnt) AS BIGINT) AS n_graded
          FROM hist GROUP BY query_id
        ),
        fb AS (
          SELECT d.query_id, MIN(d.rank) AS first_best
          FROM dcgt d JOIN mx USING (query_id)
          WHERE d.rel = mx.max_rel GROUP BY d.query_id
        )
        SELECT m.query_id, m.n_graded, m.max_rel,
               round(dcg::DOUBLE, 6) + 0.0 AS dcg,
               round(idcg::DOUBLE, 6) + 0.0 AS idcg,
               round(dcg::DOUBLE / idcg::DOUBLE, 6) + 0.0 AS ndcg,
               round(COALESCE(1.0 / first_best, 0.0), 6) + 0.0 AS rr
        FROM mx m JOIN dcg USING (query_id) JOIN idcg USING (query_id)
        LEFT JOIN fb ON fb.query_id = m.query_id
        ORDER BY m.query_id
    """

    _pair_cos = (
        "round("
        "list_sum(list_transform(range(1, len(embedding) + 1), i -> embedding[i]::DOUBLE * q_emb[i]::DOUBLE))"
        " / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))"
        " * sqrt(list_sum(list_transform(q_emb, x -> x::DOUBLE * x::DOUBLE)))), 6)"
    )
    _QIDS = ",".join(str(k) for k in sorted(rtr.DEFAULT_QUERIES))
    # hybrid-retrieval CTE tail, shared by rag1 and the rbo1 agreement
    # audit (one encoding of the candidate→cosine→blend chain)
    _RAG_TAIL = f"""
        cand AS (
          SELECT query_id, doc_id, bm25 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
            FROM scored
          ) WHERE rn <= 20
        ),
        qv AS (
          SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
          WHERE vec_id IN ({_QIDS}) AND {_VALID_EMB}
        ),
        pairs AS (
          SELECT c.query_id, c.doc_id, c.bm25, e.embedding, qv.q_emb
          FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id JOIN qv USING (query_id)
          WHERE {_VALID_EMB_E} AND len(e.embedding) = len(qv.q_emb)
        ),
        cs AS (SELECT query_id, doc_id, bm25, {_pair_cos} AS cos_sim FROM pairs),
        blended AS (
          SELECT query_id, doc_id, bm25, cos_sim,
                 round(
                   0.5 * (bm25 - MIN(bm25) OVER (PARTITION BY query_id))
                       / greatest(MAX(bm25) OVER (PARTITION BY query_id)
                                  - MIN(bm25) OVER (PARTITION BY query_id), 1e-12)
                 + 0.5 * (cos_sim - MIN(cos_sim) OVER (PARTITION BY query_id))
                       / greatest(MAX(cos_sim) OVER (PARTITION BY query_id)
                                  - MIN(cos_sim) OVER (PARTITION BY query_id), 1e-12)
                 , 4) AS blend
          FROM cs
        )"""

    q["rag1_hybrid_search"] = f"""
        WITH {_BM25_CTES},
        {_RAG_TAIL}
        SELECT query_id, doc_id, bm25, cos_sim, blend, CAST(rn AS INT) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY blend DESC, doc_id) AS rn
          FROM blended
        ) WHERE rn <= 5
    """

    # rbo1: rank agreement between the lexical and hybrid top-5 — per
    # matched doc the AO depth sum telescopes to the harmonic tail
    # Σ_{{d≥max(rank_a,rank_b)}} 1/d, written as the same left-
    # associated 1.0/d chains the Spark side builds; 9-dp rounded
    # DECIMAL sums, one double division per readout
    _HARM = " ".join(
        "WHEN {m} THEN {expr}".format(
            m=m, expr=" + ".join(f"1.0/{d}.0" for d in range(m, 6))
        )
        for m in range(1, 6)
    )
    q["rbo1_rank_agreement"] = f"""
        WITH {_BM25_CTES},
        {_RAG_TAIL},
        a AS (
          SELECT query_id, doc_id, CAST(rn AS INT) AS rank_a FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY bm25 DESC, doc_id) AS rn
            FROM scored
          ) WHERE rn <= 5
        ),
        b AS (
          SELECT query_id, doc_id, CAST(rn AS INT) AS rank_b FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY blend DESC, doc_id) AS rn
            FROM blended
          ) WHERE rn <= 5
        ),
        ca AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_a FROM a GROUP BY 1),
        cb AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_b FROM b GROUP BY 1),
        per AS (
          SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_common,
                 SUM(CAST(round(
                   CASE greatest(a.rank_a, b.rank_b) {_HARM} END, 9)
                   AS DECIMAL(38,12))) AS wsum
          FROM a JOIN b USING (query_id, doc_id)
          GROUP BY a.query_id
        ),
        base AS (
          SELECT COALESCE(ca.query_id, cb.query_id) AS query_id,
                 COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          FROM ca FULL JOIN cb ON ca.query_id = cb.query_id
        )
        SELECT base.query_id, n_a, n_b,
               COALESCE(n_common, 0) AS n_common,
               round(COALESCE(n_common, 0)::DOUBLE
                     / (n_a + n_b - COALESCE(n_common, 0))::DOUBLE, 6) + 0.0
                 AS jaccard_k,
               round(COALESCE(wsum, 0)::DOUBLE / 5.0, 6) + 0.0 AS avg_overlap
        FROM base LEFT JOIN per ON per.query_id = base.query_id
        ORDER BY base.query_id
    """

    q["rrf1_rank_fusion"] = f"""
        WITH {_BM25_CTES},
        cand AS (
          SELECT query_id, doc_id, bm25 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
            FROM scored
          ) WHERE rn <= 20
        ),
        qv AS (
          SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
          WHERE vec_id IN ({_QIDS}) AND {_VALID_EMB}
        ),
        pairs AS (
          SELECT c.query_id, c.doc_id, c.bm25, e.embedding, qv.q_emb
          FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id JOIN qv USING (query_id)
          WHERE {_VALID_EMB_E} AND len(e.embedding) = len(qv.q_emb)
        ),
        cs AS (SELECT query_id, doc_id, bm25, {_pair_cos} AS cos_sim FROM pairs),
        ranked AS (
          SELECT query_id, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS INT)
                   AS rank_bm25,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, doc_id) AS INT)
                   AS rank_cos
          FROM cs
        ),
        fused AS (
          SELECT query_id, doc_id, rank_bm25, rank_cos,
                 round(1.0 / (60 + rank_bm25) + 1.0 / (60 + rank_cos), 6) AS rrf
          FROM ranked
        )
        SELECT query_id, doc_id, rank_bm25, rank_cos, rrf, CAST(rn AS INT) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rn
          FROM fused
        ) WHERE rn <= 5
    """

    # ---- round 8 ----
    # lex1: TTR + hapax share; hapax = sorted-adjacency (works under ANY
    # total sort order, so no collation contract between the engines);
    # DuckDB out-of-range list index is NULL and TRUE OR NULL = TRUE,
    # so the boundary guards need no special casing
    _hapax = (
        "len(list_filter(range(1, len(s) + 1), "
        "i -> (i = 1 OR s[i] <> s[i-1]) AND (i = len(s) OR s[i] <> s[i+1])))"
    )
    q["lex1_lexical_diversity"] = f"""
        WITH d AS (
          SELECT doc_id, list_sort({_TOKS}) AS s
          FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id,
               CAST(len(s) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(s)) AS BIGINT) AS n_types,
               round(CAST(len(list_distinct(s)) AS DOUBLE) / greatest(len(s), 1), 6) AS ttr,
               CAST({_hapax} AS BIGINT) AS n_hapax,
               round(CAST({_hapax} AS DOUBLE) / greatest(len(s), 1), 6) AS hapax_frac
        FROM d ORDER BY doc_id
    """
    # heaps1: each type attributed to its FIRST document (min doc_id per
    # 60-bit hash), so cumulative-distinct is a plain cumsum of
    # per-bucket new-type counts — the same two keyed aggs Spark runs
    q["heaps1_vocab_growth"] = f"""
        WITH d AS (
          SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_toks
          FROM documents WHERE text IS NOT NULL
        ),
        t AS (
          SELECT doc_id, unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL
        ),
        fo AS (SELECT {_H60.format(expr='tok')} AS th, MIN(doc_id) AS doc_id FROM t GROUP BY 1),
        nn AS (SELECT doc_id, COUNT(*) AS n_new FROM fo GROUP BY 1),
        b AS (
          SELECT d.doc_id, d.n_toks, COALESCE(nn.n_new, 0) AS n_new,
                 CAST(ntile(10) OVER (ORDER BY d.doc_id) AS INT) AS bucket
          FROM d LEFT JOIN nn USING (doc_id)
        ),
        g AS (
          SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 SUM(n_toks) AS s_t, SUM(n_new) AS s_n
          FROM b GROUP BY 1
        )
        SELECT bucket, n_docs,
               CAST(SUM(s_t) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
               CAST(SUM(s_n) OVER (ORDER BY bucket) AS BIGINT) AS cum_types
        FROM g ORDER BY bucket
    """
    # cov1: frequency rank over token-hash counts; checkpoint bands then
    # a <=4-row cumsum — absent bands are absent in BOTH engines
    q["cov1_vocab_coverage"] = f"""
        WITH t AS (
          SELECT unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL
        ),
        c AS (SELECT {_H60.format(expr='tok')} AS th, COUNT(*) AS n FROM t GROUP BY 1),
        tot AS (SELECT SUM(n) AS n_total FROM c),
        r AS (SELECT th, n, ROW_NUMBER() OVER (ORDER BY -n, th) AS rnk FROM c),
        band AS (
          SELECT CASE WHEN rnk <= 10 THEN 10 WHEN rnk <= 100 THEN 100
                      WHEN rnk <= 1000 THEN 1000 ELSE 10000 END AS v, n
          FROM r WHERE rnk <= 10000
        ),
        g AS (SELECT v, COUNT(*) AS b_types, SUM(n) AS b_tokens FROM band GROUP BY 1)
        SELECT CAST(v AS INT) AS v,
               CAST(SUM(b_types) OVER (ORDER BY v) AS BIGINT) AS n_types,
               CAST(SUM(b_tokens) OVER (ORDER BY v) AS BIGINT) AS covered_tokens,
               round(CAST(SUM(b_tokens) OVER (ORDER BY v) AS DOUBLE)
                     / (SELECT CAST(n_total AS DOUBLE) FROM tot), 6) AS coverage
        FROM g ORDER BY v
    """
    # tfidf1: idf = round(log2(N/df), 9) once per TERM; score = tf*idf
    # UNROUNDED (one IEEE multiply, bit-identical cross-engine — a 6-dp
    # round would hit 9-dp×integer half-way boundaries where the two
    # engines' rounding modes diverge); per-doc top-3, term tiebreaker
    q["tfidf1_top_terms"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS term
          FROM documents WHERE text IS NOT NULL
        ),
        tfx AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        dfc AS (SELECT term, COUNT(*) AS df FROM tfx GROUP BY 1),
        nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents WHERE text IS NOT NULL),
        scored AS (
          SELECT tfx.doc_id, tfx.term,
                 CAST(tf AS DOUBLE)
                   * round(log2((SELECT n_docs FROM nd) / CAST(df AS DOUBLE)), 9) AS score
          FROM tfx JOIN dfc USING (term)
        )
        SELECT doc_id, term, score, CAST(rn AS INT) AS rnk
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
          FROM scored
        ) WHERE rn <= 3 ORDER BY doc_id, rnk
    """
    # js1: union-all full-outer trick — each source's (token, p) rows
    # tagged onto every pair, ONE keyed agg rebuilds aligned (p, q);
    # per-term surprisal rounded 9 dp then DECIMAL-summed (order-free)
    q["js1_source_divergence"] = f"""
        WITH toks AS (
          SELECT source, unnest({_TOKS}) AS tok
          FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
        ),
        cnt AS (
          SELECT source, {_H60.format(expr='tok')} AS th, COUNT(*) AS c
          FROM toks GROUP BY 1, 2
        ),
        tot AS (SELECT source, SUM(c) AS t FROM cnt GROUP BY 1),
        dist AS (
          SELECT cnt.source, th, CAST(c AS DOUBLE) / CAST(t AS DOUBLE) AS p
          FROM cnt JOIN tot USING (source)
        ),
        prs AS (
          SELECT a.source AS source_a, b.source AS source_b
          FROM tot a, tot b WHERE a.source < b.source
        ),
        u AS (
          SELECT source_a, source_b, th, SUM(p) AS p, SUM(q) AS q FROM (
            SELECT prs.source_a, prs.source_b, d.th, d.p AS p, 0.0 AS q
            FROM dist d JOIN prs ON d.source = prs.source_a
            UNION ALL
            SELECT prs.source_a, prs.source_b, d.th, 0.0 AS p, d.p AS q
            FROM dist d JOIN prs ON d.source = prs.source_b
          ) GROUP BY 1, 2, 3
        ),
        terms AS (
          SELECT source_a, source_b,
                 CAST(CASE WHEN p > 0
                      THEN round(0.5 * p * log2(2.0 * p / (p + q)), 9)
                      ELSE 0.0 END AS DECIMAL(20,12))
               + CAST(CASE WHEN q > 0
                      THEN round(0.5 * q * log2(2.0 * q / (p + q)), 9)
                      ELSE 0.0 END AS DECIMAL(20,12)) AS contrib
          FROM u
        )
        SELECT source_a, source_b,
               CAST(COUNT(*) AS BIGINT) AS n_union_types,
               round(CAST(SUM(contrib) AS DOUBLE), 6) AS js_bits
        FROM terms GROUP BY 1, 2 ORDER BY 1, 2
    """
    # ccnet1: ppl1's exact per-doc loss -> bits/token (one 9-dp division)
    # -> per-LANGUAGE NTILE(3); NULL lang is its own partition in both
    # engines (window NULL-partition semantics)
    q["ccnet1_perplexity_buckets"] = f"""
        WITH rp AS ({q["ppl1_unigram_logloss"]}),
        scored AS (
          SELECT rp.doc_id, d.lang,
                 round(total_bits / CAST(n_tokens AS DOUBLE), 9) AS bpt
          FROM rp JOIN documents d USING (doc_id)
        ),
        ranked AS (
          SELECT lang, bpt,
                 CAST(ntile(3) OVER (PARTITION BY lang ORDER BY bpt, doc_id) AS INT) AS phase
          FROM scored
        )
        SELECT lang, phase,
               CASE WHEN phase = 1 THEN 'head'
                    WHEN phase = 3 THEN 'tail'
                    ELSE 'middle' END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(bpt) AS min_bpt, MAX(bpt) AS max_bpt
        FROM ranked GROUP BY 1, 2 ORDER BY lang, phase
    """
    # cal1: the SAME trained it2 weights, binned on the already-rounded
    # 9-dp score (integer bin arithmetic — both engines bin identically);
    # bin means DECIMAL-summed, gap computed on the rounded outputs
    # cal2: Murphy decomposition of the lr1 Brier score — cal1's 9-dp
    # scores and decile bins, raw Brier terms in 12-dp decimal sums,
    # per-bin n·(·)² decomposition terms in 9-dp decimal sums over ≤10
    # bins, one double division per readout
    q["cal2_brier_decomposition"] = _lr_chain + """
        , cscored AS (
          SELECT f.doc_id, f.y,
                 round(1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1
                                          + w.w2 * x2 + w.w3 * x3))), 9) AS p
          FROM f CROSS JOIN it2 w
        ),
        binned AS (
          SELECT *, CAST(least(floor(p * 10), 9) AS INT) AS bin FROM cscored
        ),
        per_bin AS (
          SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
                 SUM(CAST(round(p * 1000000000, 0) AS DECIMAL(38,0)))
                   AS psum_nano,
                 SUM(CAST(round((p - y) * (p - y), 12) AS DECIMAL(38,12))) AS bsum
          FROM binned GROUP BY bin
        ),
        tot AS (
          SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(pos) AS BIGINT) AS tpos,
                 SUM(bsum) AS tb
          FROM per_bin
        ),
        terms AS (
          SELECT n, nn, tb,
                 psum_nano::DOUBLE / n / 1000000000.0 AS mean_p,
                 pos::DOUBLE / n AS o,
                 tpos::DOUBLE / nn AS ybar
          FROM per_bin, tot
        ),
        agg AS (
          SELECT nn, tb,
                 SUM(CAST(round(n * (mean_p - o) * (mean_p - o), 9)
                          AS DECIMAL(38,12))) AS rel,
                 SUM(CAST(round(n * (o - ybar) * (o - ybar), 9)
                          AS DECIMAL(38,12))) AS res,
                 SUM(CAST(round(n * abs(mean_p - o), 9) AS DECIMAL(38,12))) AS ece_n,
                 MAX(ybar) AS ybar
          FROM terms GROUP BY nn, tb
        )
        SELECT nn AS n,
               round(tb::DOUBLE / nn, 6) + 0.0 AS brier,
               round(ece_n::DOUBLE / nn, 6) + 0.0 AS ece,
               round(rel::DOUBLE / nn, 6) + 0.0 AS reliability,
               round(res::DOUBLE / nn, 6) + 0.0 AS resolution,
               round(ybar * (1.0 - ybar), 6) + 0.0 AS uncertainty
        FROM agg WHERE nn > 0
    """

    q["cal1_calibration_bins"] = _lr_chain + """
        , cscored AS (
          SELECT f.doc_id, f.y,
                 round(1.0 / (1.0 + exp(-(w.w0 * x0 + w.w1 * x1
                                          + w.w2 * x2 + w.w3 * x3))), 9) AS p
          FROM f CROSS JOIN it2 w
        )
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(p * 1000000000, 0) AS DECIMAL(38,0))) AS DOUBLE)
                 / COUNT(*) / 1000000000.0 AS mean_p,
               CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                 AS pos_rate,
               abs(CAST(SUM(CAST(round(p * 1000000000, 0) AS DECIMAL(38,0))) AS DOUBLE)
                     / COUNT(*) / 1000000000.0
                   - CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*)) AS abs_gap
        FROM (SELECT *, CAST(least(floor(p * 10), 9) AS INT) AS bin FROM cscored)
        GROUP BY bin ORDER BY bin
    """
    # bq1: Hamming distance computed directly on the float signs — the
    # packed-word representation is Spark's implementation detail; both
    # engines carry the same validity and equal-width predicates
    q["bq1_binary_hamming_knn"] = f"""
        WITH valid AS (
          SELECT vec_id, embedding FROM embeddings WHERE {_VALID_EMB}
        ),
        qs AS (
          SELECT vec_id AS query_id, embedding AS qe FROM valid
          WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)
        ),
        scored AS (
          SELECT q.query_id, c.vec_id,
                 CAST(len(list_filter(range(1, len(q.qe) + 1),
                          i -> (q.qe[i] > 0) <> (c.embedding[i] > 0))) AS INT) AS hamming
          FROM valid c, qs q
          WHERE c.vec_id <> q.query_id AND len(c.embedding) = len(q.qe)
        )
        SELECT query_id, vec_id, hamming, CAST(rn AS INT) AS rank
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS rn
          FROM scored
        ) WHERE rn <= 5
    """

    # ---- round 8, third batch ----
    # rd1: W/S/Y are exact integers (regexp counts agree between Java
    # regex and RE2 for these simple classes); the Flesch combination is
    # ONE fixed tree of integer-fed IEEE ops shipped RAW (a final round
    # would land on half-way points — the tfidf1 lesson)
    q["rd1_readability"] = f"""
        WITH d AS (
          SELECT doc_id, lower(trim(text)) AS low, {_TOKS} AS toks
          FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        ),
        s AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 CAST(greatest(len(regexp_extract_all(low, '[.!?]+')), 1) AS BIGINT)
                   AS n_sentences,
                 CAST(len(regexp_extract_all(low, '[aeiouy]+')) AS BIGINT)
                   AS n_vowel_groups
          FROM d
        )
        SELECT doc_id, n_words, n_sentences, n_vowel_groups,
               206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_vowel_groups AS DOUBLE)
                           / CAST(greatest(n_words, 1) AS DOUBLE)) AS flesch
        FROM s ORDER BY doc_id
    """
    # shard1: snake packing over the (tokens DESC, doc_id) total order —
    # the rank is the same total order ordered.running produces
    q["shard1_balanced_shards"] = f"""
        WITH t AS (
          SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_toks
          FROM documents WHERE text IS NOT NULL
        ),
        r AS (
          SELECT n_toks,
                 CAST((row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1) % 16
                      AS BIGINT) AS pos
          FROM t
        )
        SELECT CAST(CASE WHEN pos < 8 THEN pos ELSE 15 - pos END AS INT) AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS total_tokens
        FROM r GROUP BY 1 ORDER BY 1
    """
    q["anon2_l_diversity"] = """
        SELECT c_nationkey AS nation,
               CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT) AS balance_band,
               CAST(COUNT(*) AS BIGINT) AS group_size,
               CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive
        FROM customer
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT c_mktsegment) < 3
        ORDER BY 1, 2
    """
    # ks1: both empirical CDFs over the pooled distinct-value grid; D is
    # MAX of |diff| of exact-integer ratios — no rounding anywhere (the
    # cumulative counts are identical longs, so every double matches
    # bit-for-bit). A side with zero observations yields ZERO rows (the
    # WHERE on the totals), matching the Spark guard's empty frame.
    q["ks1_value_drift"] = """
        WITH v AS (
          SELECT value, event_type FROM events
          WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
        ),
        g AS (
          SELECT value,
                 SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb
          FROM v GROUP BY value
        ),
        c AS (
          SELECT CAST(SUM(na) OVER (ORDER BY value) AS BIGINT) AS ca,
                 CAST(SUM(nb) OVER (ORDER BY value) AS BIGINT) AS cb
          FROM g
        ),
        t AS (
          SELECT CAST(COALESCE(SUM(na), 0) AS BIGINT) AS ta,
                 CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS tb
          FROM g
        )
        SELECT ta AS n_a, tb AS n_b,
               MAX(ABS(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
                       - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))) AS ks_d
        FROM c, t WHERE ta > 0 AND tb > 0
        GROUP BY ta, tb
    """


    # w1d1: Wasserstein-1 from the same distinct-value CDF as ks1 — the
    # step-function integral Σ |F_a − F_b|·Δv over grid gaps; per-gap
    # terms are pointwise IEEE functions of exact longs (bit-identical
    # cross-engine), and the SUM is order-free via nano-unit BIGINTs
    q["w1d1_value_drift"] = """
        WITH v AS (
          SELECT value, event_type FROM events
          WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
        ),
        g AS (
          SELECT value,
                 SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb
          FROM v GROUP BY value
        ),
        c AS (
          SELECT value,
                 CAST(SUM(na) OVER (ORDER BY value) AS BIGINT) AS ca,
                 CAST(SUM(nb) OVER (ORDER BY value) AS BIGINT) AS cb,
                 lead(value) OVER (ORDER BY value) AS v_next
          FROM g
        ),
        t AS (
          SELECT CAST(COALESCE(SUM(na), 0) AS BIGINT) AS ta,
                 CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS tb
          FROM g
        ),
        u AS (
          SELECT ta, tb,
                 CASE WHEN v_next IS NULL THEN CAST(0 AS BIGINT)
                      ELSE CAST(round(ABS(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
                                          - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
                                      * (v_next - value) * 1000000000.0, 0) AS BIGINT)
                 END AS unit
          FROM c, t WHERE ta > 0 AND tb > 0
        )
        SELECT ta AS n_a, tb AS n_b,
               round(CAST(COALESCE(SUM(unit), 0) AS DOUBLE) / 1000000000.0, 6) AS w1
        FROM u GROUP BY ta, tb
    """

    # cvm1: the L2 drift cousin — pooled-weighted mean squared CDF gap,
    # nano-unit BIGINT sum (bounded by 1e9 — weight inside the term)
    q["cvm1_value_drift"] = """
        WITH v AS (
          SELECT value, event_type FROM events
          WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
        ),
        g AS (
          SELECT value,
                 SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb
          FROM v GROUP BY value
        ),
        c AS (
          SELECT na, nb,
                 CAST(SUM(na) OVER (ORDER BY value) AS BIGINT) AS ca,
                 CAST(SUM(nb) OVER (ORDER BY value) AS BIGINT) AS cb
          FROM g
        ),
        t AS (
          SELECT CAST(COALESCE(SUM(na), 0) AS BIGINT) AS ta,
                 CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS tb
          FROM g
        ),
        gaps AS (
          SELECT ta, tb, na, nb,
                 CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
                   - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE) AS gap
          FROM c, t WHERE ta > 0 AND tb > 0
        ),
        u AS (
          SELECT ta, tb,
                 CAST(round(CAST(na + nb AS DOUBLE) / CAST(ta + tb AS DOUBLE)
                            * gap * gap * 1000000000.0, 0) AS BIGINT) AS unit
          FROM gaps
        )
        SELECT ta AS n_a, tb AS n_b,
               round(CAST(COALESCE(SUM(unit), 0) AS DOUBLE) / 1000000000.0, 6) AS cvm2
        FROM u GROUP BY ta, tb
    """

    # pctl2: nearest-rank percentiles from the same distinct-value CDF as
    # ks1 — pure-integer thresholds ((q*N + 99) // 100, BIGINT int-div in
    # DuckDB), MIN over the qualifying tail, no interpolation/rounding
    q["pctl2_exact_value_percentiles"] = """
        WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
        g AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY value),
        cgrid AS (
          SELECT value, CAST(SUM(c) OVER (ORDER BY value) AS BIGINT) AS cum FROM g
        ),
        t AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n FROM g)
        SELECT n AS n_values,
               MIN(CASE WHEN cum >= (25 * n + 99) // 100 THEN value END) AS p25,
               MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN value END) AS p50,
               MIN(CASE WHEN cum >= (90 * n + 99) // 100 THEN value END) AS p90,
               MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN value END) AS p99
        FROM cgrid, t WHERE n > 0 GROUP BY n
    """


    # psi1: Population Stability Index bins over the reference side's
    # exact nearest-rank deciles (pctl2's pure-integer rank rule);
    # binning = pure comparison counting; zero bins epsilon-clamped on
    # both sides; 9-dp pointwise terms (drift1/js1 log discipline)
    _psi_qs = list(range(10, 100, 10))
    _psi_edges = ",\n                 ".join(
        f"MIN(CASE WHEN rc >= ({qq} * n + 99) // 100 THEN value END) AS e{qq}"
        for qq in _psi_qs
    )
    _psi_bin = " + ".join(f"CAST(value > e{qq} AS INT)" for qq in _psi_qs)
    q["psi1_population_stability"] = f"""
        WITH va AS (SELECT value FROM events
                    WHERE event_type = 'view' AND value IS NOT NULL),
        vb AS (SELECT value FROM events
               WHERE event_type = 'purchase' AND value IS NOT NULL),
        nat AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM va),
        nbt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vb),
        grid AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS c FROM va GROUP BY 1),
        cgrid AS (
          SELECT value, CAST(SUM(c) OVER (ORDER BY value) AS BIGINT) AS rc FROM grid
        ),
        edges AS (
          SELECT {_psi_edges}
          FROM cgrid, nat
        ),
        binned AS (
          SELECT ({_psi_bin}) AS bin, 1 AS ia, 0 AS ib FROM va, edges
          UNION ALL
          SELECT ({_psi_bin}) AS bin, 0 AS ia, 1 AS ib FROM vb, edges
        ),
        counts AS (
          SELECT bin, CAST(SUM(ia) AS BIGINT) AS ca, CAST(SUM(ib) AS BIGINT) AS cb
          FROM binned GROUP BY 1
        ),
        filled AS (
          SELECT CAST(r.i AS INT) AS bin,
                 COALESCE(ca, 0) AS n_a, COALESCE(cb, 0) AS n_b
          FROM UNNEST(range(0, 10)) AS r(i)
          LEFT JOIN counts ON counts.bin = r.i
        )
        SELECT bin, n_a, n_b,
               n_a::DOUBLE / nat.n AS p_a,
               n_b::DOUBLE / nbt.n AS p_b,
               round((greatest(n_a::DOUBLE / nat.n, 0.000001)
                      - greatest(n_b::DOUBLE / nbt.n, 0.000001))
                     * ln(greatest(n_a::DOUBLE / nat.n, 0.000001)
                          / greatest(n_b::DOUBLE / nbt.n, 0.000001)), 9) + 0.0
                 AS psi_term
        FROM filled, nat, nbt
        WHERE nat.n > 0 AND nbt.n > 0
        ORDER BY bin
    """

    # bqrec1: lshrec1's discipline for the binary pass — both sides are
    # the oracle-paired operators' SQL verbatim
    q["bqrec1_binary_recall_audit"] = f"""
        WITH exact AS ({q["sim_knn_bruteforce"]}),
        bqk AS ({q["bq1_binary_hamming_knn"]})
        SELECT e.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(COUNT(b.vec_id) AS BIGINT) AS n_hit,
               round(CAST(COUNT(b.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_k
        FROM exact e
        LEFT JOIN bqk b ON b.query_id = e.query_id AND b.vec_id = e.vec_id
        GROUP BY e.query_id ORDER BY e.query_id
    """
    # mi1: per-cell PMI contributions of the (lang, source) joint — one
    # joint agg + bounded marginals; 9-dp contributions (ppl1 discipline)
    q["mi1_lang_source_mi"] = """
        WITH live AS (
          SELECT lang, source FROM documents
          WHERE text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL
        ),
        j AS (
          SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_xy
          FROM live GROUP BY 1, 2
        ),
        mx AS (SELECT lang, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM j GROUP BY 1),
        my AS (SELECT source, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM j GROUP BY 1),
        t AS (SELECT CAST(COALESCE(SUM(n_xy), 0) AS BIGINT) AS n FROM j)
        SELECT lang, source, n_xy,
               round(CAST(n_xy AS DOUBLE) / n, 9) AS p_xy,
               round((CAST(n_xy AS DOUBLE) / n)
                     * log2((CAST(n_xy AS DOUBLE) / n)
                            / ((CAST(n_x AS DOUBLE) / n) * (CAST(n_y AS DOUBLE) / n))), 9)
                 AS mi_contrib_bits
        FROM j JOIN mx USING (lang) JOIN my USING (source) CROSS JOIN t
        ORDER BY lang, source
    """

    # acf1: lag-k autocorrelation of the zero-filled daily event volume
    # — exact long counts, ONE double mean division, 12-dp decimal
    # product sums (order-free), constant series (den=0) drops all rows
    q["acf1_daily_autocorrelation"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        st AS (SELECT MIN(day) AS d0, MAX(day) AS d1,
                      CAST(SUM(c) AS BIGINT) AS tot FROM daily),
        spine AS (
          SELECT r.s::DATE AS day,
                 CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS n_days, tot
          FROM st, UNNEST(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                          INTERVAL 1 DAY)) AS r(s)
        ),
        devs AS (
          SELECT s.day,
                 COALESCE(d.c, 0)::DOUBLE - tot::DOUBLE / n_days::DOUBLE AS dev
          FROM spine s LEFT JOIN daily d USING (day)
        ),
        den AS (SELECT SUM(CAST(round(dev * dev, 12) AS DECIMAL(38,12))) AS den
                FROM devs),
        b AS (
          SELECT dev AS dev_b, CAST(r.l AS INT) AS lag, day - CAST(r.l AS INT) AS day_a
          FROM devs, UNNEST(range(1, 8)) AS r(l)
        ),
        lagged AS (
          SELECT b.lag, CAST(round(a.dev * b.dev_b, 12) AS DECIMAL(38,12)) AS t
          FROM devs a JOIN b ON a.day = b.day_a
        )
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               round(SUM(t)::DOUBLE / den::DOUBLE, 6) + 0.0 AS acf
        FROM lagged, den WHERE den <> 0
        GROUP BY lag, den ORDER BY lag
    """

    # shared zero-filled daily spine for the r10 second-batch time-series
    # ops (mirrors tpch._daily_spine: exact long counts, calendar-bounded)
    _DAILY_SPINE = """
        daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        st AS (SELECT MIN(day) AS d0, MAX(day) AS d1,
                      CAST(SUM(c) AS BIGINT) AS tot FROM daily),
        spine AS (
          SELECT r.s::DATE AS day,
                 CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS n_days, tot
          FROM st, UNNEST(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                          INTERVAL 1 DAY)) AS r(s)
        ),
        filled AS (
          SELECT s.day, COALESCE(d.c, 0)::BIGINT AS c, n_days, tot
          FROM spine s LEFT JOIN daily d USING (day)
        )"""

    # dow1: day-of-week seasonality index over the zero-filled spine —
    # exact long counts, one double division per mean, isodow 1=Monday
    # on both engines
    q["dow1_weekly_profile"] = f"""
        WITH {_DAILY_SPINE}
        SELECT CAST(isodow(day) AS INT) AS isodow,
               CAST(COUNT(*) AS BIGINT) AS n_dow_days,
               CAST(SUM(c) AS BIGINT) AS n_events,
               round(SUM(c)::DOUBLE / COUNT(*), 6) + 0.0 AS mean_daily,
               round((SUM(c)::DOUBLE / COUNT(*))
                     / (tot::DOUBLE / n_days::DOUBLE), 6) + 0.0 AS dow_index
        FROM filled WHERE tot > 0
        GROUP BY isodow, n_days, tot ORDER BY isodow
    """

    # tsen1: Theil–Sen slope (nearest-rank median of pairwise slopes,
    # pctl2's ceil(n/2) rule) + exact-integer Mann–Kendall S over the
    # calendar-bounded pair set
    q["tsen1_daily_trend"] = f"""
        WITH {_DAILY_SPINE},
        pairs AS (
          SELECT a.day AS day_a, b.day AS day_b, b.n_days,
                 (b.c - a.c)::DOUBLE
                   / date_diff('day', a.day, b.day)::DOUBLE AS slope,
                 CAST(sign(b.c - a.c) AS BIGINT) AS sgn
          FROM filled a JOIN filled b ON a.day < b.day
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (ORDER BY slope, day_a, day_b) AS rn,
                 COUNT(*) OVER () AS np
          FROM pairs
        ),
        mk AS (SELECT CAST(SUM(sgn) AS BIGINT) AS mk_s FROM pairs)
        SELECT n_days, CAST(np AS BIGINT) AS n_pairs, mk_s,
               round(slope, 6) + 0.0 AS sen_slope
        FROM ranked, mk WHERE rn = CAST(ceil(np / 2.0) AS BIGINT)
    """

    # cpd1: CUSUM mean-shift — prefix sums of exact longs, μ one double
    # division, deviations rounded to 9 dp BEFORE the argmax, |S| ties
    # break on the earliest day, interior splits only
    q["cpd1_mean_shift"] = f"""
        WITH {_DAILY_SPINE},
        pre AS (
          SELECT day, n_days, tot,
                 CAST(SUM(c) OVER (ORDER BY day) AS BIGINT) AS cum_c,
                 CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS cum_n
          FROM filled
        ),
        devs AS (
          SELECT day, cum_c, cum_n, n_days, tot,
                 round(cum_c::DOUBLE
                       - cum_n::DOUBLE * (tot::DOUBLE / n_days::DOUBLE), 9) AS s
          FROM pre WHERE cum_n < n_days
        ),
        mx AS (SELECT MAX(abs(s)) AS m FROM devs),
        best AS (
          SELECT d.n_days, d.tot, m, MIN(d.day) AS best_day,
                 arg_min(d.cum_c, d.day) AS cum_c,
                 arg_min(d.cum_n, d.day) AS cum_n
          FROM devs d, mx WHERE abs(d.s) = m
          GROUP BY d.n_days, d.tot, m
        )
        SELECT n_days, best_day,
               round(m, 6) + 0.0 AS cusum_stat,
               round(cum_c::DOUBLE / cum_n::DOUBLE, 6) + 0.0 AS mean_before,
               round((tot - cum_c)::DOUBLE / (n_days - cum_n)::DOUBLE, 6) + 0.0
                 AS mean_after,
               round((tot - cum_c)::DOUBLE / (n_days - cum_n)::DOUBLE
                     - cum_c::DOUBLE / cum_n::DOUBLE, 6) + 0.0 AS shift
        FROM best
    """

    # stl1: classical decomposition strengths — exact-long 7-day window
    # sums via exploded EQUI offsets, one double division per moment,
    # 12-dp decimal variance terms, constant-series guard on both
    # denominators
    # the ONE classical-decomposition CTE chain stl1 and anom1 share
    # (the Spark twin is tpch._stl_detrended — review r11: two inline
    # copies of the determinism-critical chain would drift): builds on
    # _DAILY_SPINE's `filled` and ends in `sterms`
    # (day, c, n_days, trend, s, isodow, z, r) over interior days
    _STL_PREFIX = """member AS (
          SELECT c AS c_nbr, day - CAST(r.o AS INT) AS day
          FROM filled, UNNEST(range(-3, 4)) AS r(o)
        ),
        strend AS (
          SELECT f.day, f.c, f.n_days,
                 CAST(SUM(m.c_nbr) AS BIGINT)::DOUBLE / 7.0 AS trend
          FROM filled f JOIN member m USING (day)
          GROUP BY f.day, f.c, f.n_days
          HAVING COUNT(*) = 7
        ),
        sz AS (
          SELECT day, c, n_days, trend, CAST(isodow(day) AS INT) AS isodow,
                 c::DOUBLE - trend AS z
          FROM strend
        ),
        ssea AS (
          SELECT isodow,
                 SUM(CAST(round(z, 9) AS DECIMAL(38,12)))::DOUBLE
                   / COUNT(*)::DOUBLE AS s
          FROM sz GROUP BY isodow
        ),
        sterms AS (
          SELECT day, c, n_days, trend, s, isodow, z, z - s AS r
          FROM sz JOIN ssea USING (isodow)
        )"""

    q["stl1_seasonal_strength"] = f"""
        WITH {_DAILY_SPINE},
        {_STL_PREFIX},
        terms AS (
          SELECT n_days, z, r, c::DOUBLE - s AS ds FROM sterms
        ),
        v AS (
          SELECT n_days, CAST(COUNT(*) AS BIGINT) AS n_interior,
                 SUM(CAST(round(z * z, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE
                   - (SUM(CAST(round(z, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE)
                     * (SUM(CAST(round(z, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE) AS var_z,
                 SUM(CAST(round(r * r, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE
                   - (SUM(CAST(round(r, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE)
                     * (SUM(CAST(round(r, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE) AS var_r,
                 SUM(CAST(round(ds * ds, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE
                   - (SUM(CAST(round(ds, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE)
                     * (SUM(CAST(round(ds, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE) AS var_ds
          FROM terms GROUP BY n_days
        )
        SELECT n_days, n_interior,
               round(CASE WHEN var_z > 0
                          THEN greatest(0.0, 1.0 - var_r / var_z)
                          ELSE 0.0 END, 6) + 0.0 AS seasonal_strength,
               round(CASE WHEN var_ds > 0
                          THEN greatest(0.0, 1.0 - var_r / var_ds)
                          ELSE 0.0 END, 6) + 0.0 AS trend_strength
        FROM v WHERE n_interior >= 2
    """

    # hurst1: R/S long-memory exponent — exact long counts, ordered
    # left-to-right cumulative folds inside (w, win) partitions, 12-dp
    # decimal σ² terms, 9-dp log2 points, one OLS-slope expression
    q["hurst1_long_memory"] = f"""
        WITH {_DAILY_SPINE},
        base AS (
          SELECT c, n_days, CAST(date_diff('day', d0, day) AS BIGINT) AS t, day
          FROM filled, st
        ),
        member AS (
          SELECT c, n_days, t, day, CAST(r.w AS BIGINT) AS w
          FROM base, (VALUES (4), (8), (16), (32), (64)) AS r(w)
          WHERE (CAST(floor(t::DOUBLE / r.w) AS BIGINT) + 1) * r.w <= n_days
            AND n_days >= r.w * 2
        ),
        win AS (
          SELECT c, w, day, CAST(floor(t::DOUBLE / w) AS BIGINT) AS win FROM member
        ),
        stats AS (
          SELECT w, win, CAST(SUM(c) AS BIGINT) AS sum_w
          FROM win GROUP BY w, win
        ),
        dev AS (
          SELECT v.w, v.win, v.day, v.c, s.sum_w,
                 v.c::DOUBLE - s.sum_w::DOUBLE / v.w::DOUBLE AS d
          FROM win v JOIN stats s ON s.w = v.w AND s.win = v.win
        ),
        -- exact-integer cumulative deviation numerator (r10 advice): a
        -- double window fold's association is engine-internal, so the
        -- running sum folds LONGS: num_k = w*cum_c_k - k*sum_w = w*cd_k
        cum AS (
          SELECT w, win, d,
                 w * SUM(c) OVER (PARTITION BY w, win ORDER BY day)
                   - CAST(ROW_NUMBER() OVER (PARTITION BY w, win ORDER BY day)
                          AS BIGINT) * sum_w AS num
          FROM dev
        ),
        rs AS (
          SELECT w, r / s AS rs FROM (
            SELECT w, win,
                   CAST(MAX(num) - MIN(num) AS DOUBLE) / w::DOUBLE AS r,
                   sqrt(SUM(CAST(round(d * d, 12) AS DECIMAL(38,12)))::DOUBLE
                        / COUNT(*)::DOUBLE) AS s
            FROM cum GROUP BY w, win
          ) WHERE s > 0
        ),
        per_size AS (
          SELECT w, SUM(CAST(round(rs, 9) AS DECIMAL(38,12)))::DOUBLE
                      / COUNT(*)::DOUBLE AS mean_rs
          FROM rs GROUP BY w
        ),
        pts AS (
          SELECT log2(w::DOUBLE) AS x, round(log2(mean_rs), 9) AS y FROM per_size
        ),
        mom AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(round(x, 9) AS DECIMAL(38,12)))::DOUBLE AS sx,
                 SUM(CAST(round(y, 9) AS DECIMAL(38,12)))::DOUBLE AS sy,
                 SUM(CAST(round(x * y, 9) AS DECIMAL(38,12)))::DOUBLE AS sxy,
                 SUM(CAST(round(x * x, 9) AS DECIMAL(38,12)))::DOUBLE AS sxx
          FROM pts
        ),
        nd AS (SELECT DISTINCT n_days FROM filled)
        SELECT n_days, n AS n_sizes,
               round((n::DOUBLE * sxy - sx * sy)
                     / (n::DOUBLE * sxx - sx * sx), 6) + 0.0 AS hurst
        FROM mom, nd WHERE n >= 2
    """

    # roll1/roll2: the daily-rollup artifact probes — the oracle is the
    # INLINE operator's own raw-events SQL (acf1 / dow1 verbatim): a
    # hash match proves the artifact's store→sum-merge→probe chain is
    # value-identical to recomputing from the event stream
    q["roll1_indexed_acf"] = q["acf1_daily_autocorrelation"]
    q["roll2_indexed_dow"] = q["dow1_weekly_profile"]

    # --- round-11 operator batch ---

    # mb1: market-basket affinity — every count an exact long (baskets
    # are DISTINCT (order, part) sets; n_baskets counts NON-NULL order
    # keys, the COUNT(DISTINCT) convention both engines share), three
    # single double divisions, count-first total order at the cut
    q["mb1_part_affinity"] = """
        WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
               FROM basket),
        pairs AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                 CAST(COUNT(*) AS BIGINT) AS n_both
          FROM basket a JOIN basket b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2
        ),
        item AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
                 FROM basket GROUP BY 1)
        SELECT p.part_a, p.part_b, p.n_both,
               ia.n_item AS n_a, ib.n_item AS n_b, nb.n_baskets,
               round(p.n_both::DOUBLE / nb.n_baskets::DOUBLE, 6) + 0.0 AS support,
               round(p.n_both::DOUBLE / ia.n_item::DOUBLE, 6) + 0.0 AS confidence,
               round(p.n_both::DOUBLE * nb.n_baskets::DOUBLE
                     / (ia.n_item::DOUBLE * ib.n_item::DOUBLE), 6) + 0.0 AS lift
        FROM pairs p
        JOIN item ia ON p.part_a = ia.l_partkey
        JOIN item ib ON p.part_b = ib.l_partkey
        CROSS JOIN nb
        ORDER BY p.n_both DESC, p.part_a, p.part_b
        LIMIT 100
    """

    # burst1: inter-arrival burstiness — integer-second gaps
    # (date_diff('second') ≡ unix_timestamp difference, the lag1
    # convention), long/DECIMAL(38,0) moment sums, one double chain
    q["burst1_interarrival_burstiness"] = """
        WITH ev AS (
          SELECT event_type, ts, event_id FROM events WHERE ts IS NOT NULL
        ),
        gaps AS (
          SELECT event_type,
                 CAST(date_diff('second',
                      LAG(ts) OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id), ts) AS BIGINT) AS g
          FROM ev
        ),
        mom AS (
          SELECT event_type, CAST(COUNT(g) AS BIGINT) AS n_gaps,
                 CAST(SUM(g) AS BIGINT) AS sg,
                 SUM(CAST(g * g AS DECIMAL(38,0))) AS sgg
          FROM gaps WHERE g IS NOT NULL GROUP BY event_type
        ),
        r AS (
          SELECT event_type, n_gaps,
                 sg::DOUBLE / n_gaps::DOUBLE AS mu,
                 sqrt(greatest(sgg::DOUBLE / n_gaps::DOUBLE
                               - (sg::DOUBLE / n_gaps::DOUBLE)
                                 * (sg::DOUBLE / n_gaps::DOUBLE), 0.0)) AS sigma
          FROM mom WHERE n_gaps >= 2
        )
        SELECT event_type, n_gaps,
               round(mu, 6) + 0.0 AS mean_gap_s,
               round(sigma / mu, 6) + 0.0 AS cv,
               round((sigma - mu) / (sigma + mu), 6) + 0.0 AS burstiness
        FROM r WHERE sigma + mu > 0 ORDER BY event_type
    """

    # anom1: stl1's trend/seasonal/remainder chain verbatim; the flag
    # compares r² > 4·Var(r) on identical double compositions, rounding
    # only the displayed columns after the decision
    q["anom1_seasonal_anomalies"] = f"""
        WITH {_DAILY_SPINE},
        {_STL_PREFIX},
        v AS (
          SELECT SUM(CAST(round(r * r, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE
                   - (SUM(CAST(round(r, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE)
                     * (SUM(CAST(round(r, 12) AS DECIMAL(38,12)))::DOUBLE / COUNT(*)::DOUBLE)
                   AS var_r
          FROM sterms
        )
        SELECT day, c,
               round(trend + s, 6) + 0.0 AS expected,
               round(r, 6) + 0.0 AS residual,
               round(r / sqrt(var_r), 6) + 0.0 AS z_score
        FROM sterms, v
        WHERE var_r > 0 AND r * r > 4.0 * var_r
        ORDER BY day
    """

    # id1: two-NN intrinsic dimension composed on the oracle-paired kNN
    # (rank 1-2 of the same 6-dp cosine surface), 9-dp decimal ln sums
    q["id1_intrinsic_dimension"] = f"""
        WITH nn AS ({q["sim_knn_bruteforce"]}),
        per_q AS (
          SELECT query_id,
                 1.0 - MAX(CASE WHEN rank = 1 THEN cos_sim END) AS d1,
                 1.0 - MAX(CASE WHEN rank = 2 THEN cos_sim END) AS d2
          FROM nn WHERE rank <= 2 GROUP BY query_id
        ),
        usable AS (SELECT * FROM per_q WHERE d2 IS NOT NULL AND d1 > 0),
        mom AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
                 SUM(CAST(round(ln(d2 / d1), 9) AS DECIMAL(38,12)))::DOUBLE AS slog
          FROM usable
        )
        SELECT n_queries,
               round(n_queries::DOUBLE / slog, 6) + 0.0 AS intrinsic_dim
        FROM mom WHERE n_queries > 0 AND slog > 0
    """

    # surv1: Kaplan-Meier — integer day durations, exact-integer risk
    # sets, per-event-day ln(1-d/n) frozen to integer nano-units so the
    # cumulative product folds longs (the hurst1 association rule);
    # d = n carries an explicit zero flag (ln(0) is not a number)
    q["surv1_conversion_survival"] = """
        WITH views AS (
          SELECT user_id, MIN(ts) AS fv FROM events
          WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY 1
        ),
        fp AS (
          SELECT e.user_id, MIN(e.ts) AS fp
          FROM events e JOIN views v USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts >= v.fv GROUP BY 1
        ),
        le AS (
          SELECT e.user_id, MAX(e.ts) AS le
          FROM events e JOIN views v USING (user_id) GROUP BY 1
        ),
        subj AS (
          SELECT CAST(date_diff('day', CAST(v.fv AS DATE),
                                 CAST(COALESCE(p.fp, l.le) AS DATE)) AS BIGINT)
                   AS t_days,
                 CASE WHEN p.fp IS NOT NULL THEN 1 ELSE 0 END AS obs
          FROM views v LEFT JOIN fp p USING (user_id) JOIN le l USING (user_id)
        ),
        counts AS (
          SELECT t_days, CAST(SUM(obs) AS BIGINT) AS n_ev,
                 CAST(SUM(1 - obs) AS BIGINT) AS n_cens
          FROM subj GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(n_ev + n_cens) AS BIGINT) AS n_total FROM counts),
        pre AS (
          SELECT t_days, n_ev, n_cens,
                 CAST(n_total - (SUM(n_ev + n_cens) OVER (ORDER BY t_days)
                                 - n_ev - n_cens) AS BIGINT) AS n_at_risk
          FROM counts, tot
        ),
        evd AS (
          SELECT t_days, n_ev, n_cens, n_at_risk,
                 CASE WHEN n_ev = n_at_risk THEN CAST(0 AS BIGINT)
                      ELSE CAST(round(ln(1.0 - n_ev::DOUBLE / n_at_risk::DOUBLE)
                                      * 1000000000.0, 0) AS BIGINT) END AS ln_nano,
                 CASE WHEN n_ev = n_at_risk THEN 1 ELSE 0 END AS zf
          FROM pre WHERE n_ev > 0
        ),
        km AS (
          SELECT t_days, n_at_risk, n_ev, n_cens,
                 SUM(ln_nano) OVER (ORDER BY t_days) AS cum_ln,
                 SUM(zf) OVER (ORDER BY t_days) AS cum_z
          FROM evd
        )
        SELECT t_days, n_at_risk, n_ev AS n_events, n_cens AS n_censored,
               CASE WHEN cum_z > 0 THEN 0.0
                    ELSE round(exp(cum_ln::DOUBLE / 1000000000.0), 6) END + 0.0
                 AS survival
        FROM km ORDER BY t_days
    """

    # pur1: majority-label purity over the kmeans fit chain — the a2
    # assignment joined back to labels; majority pick (count DESC,
    # label ASC NULLS FIRST — explicit: default null order differs
    # across engines); one double division of exact longs
    q["pur1_cluster_purity"] = f"""
        WITH {_km_prefix},
        a2 AS (SELECT vec_id, cluster_id FROM r2 WHERE rn = 1),
        cl AS (
          SELECT a.cluster_id, e.label, CAST(COUNT(*) AS BIGINT) AS n
          FROM a2 a JOIN embeddings e USING (vec_id)
          GROUP BY 1, 2
        ),
        tot AS (
          SELECT cluster_id, CAST(SUM(n) AS BIGINT) AS n_members
          FROM cl GROUP BY 1
        ),
        top AS (
          SELECT cluster_id, label AS top_label, n AS n_top
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY cluster_id
                  ORDER BY n DESC, label ASC NULLS FIRST) AS rn FROM cl)
          WHERE rn = 1
        )
        SELECT t.cluster_id, o.n_members, t.top_label, t.n_top,
               round(t.n_top::DOUBLE / o.n_members::DOUBLE, 6) + 0.0 AS purity
        FROM top t JOIN tot o USING (cluster_id)
        ORDER BY t.cluster_id
    """

    # ent1: conditional entropy over m1's transition matrix — exact
    # long counts, 9-dp decimal −p·log2(p) term sums, log2(1) guard
    q["ent1_transition_entropy"] = f"""
        WITH trans AS ({q["m1_event_transitions"]}),
        tot AS (
          SELECT prev_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from,
                 CAST(COUNT(*) AS BIGINT) AS n_next
          FROM trans GROUP BY prev_type
        ),
        terms AS (
          SELECT t.prev_type, o.n_from, o.n_next,
                 CAST(round(-(t.n_transitions::DOUBLE / o.n_from::DOUBLE)
                            * log2(t.n_transitions::DOUBLE / o.n_from::DOUBLE), 9)
                      AS DECIMAL(38,12)) AS term
          FROM trans t JOIN tot o USING (prev_type)
        )
        SELECT prev_type, n_from, n_next AS n_distinct_next,
               round(SUM(term)::DOUBLE, 6) + 0.0 AS entropy_bits,
               CASE WHEN n_next > 1
                    THEN round(SUM(term)::DOUBLE / log2(n_next::DOUBLE), 6)
                    ELSE 0.0 END + 0.0 AS norm_entropy
        FROM terms GROUP BY prev_type, n_from, n_next
        ORDER BY prev_type
    """

    # wau1: sliding 7-day distinct actives — the (user, day) dedup votes
    # into its 7 window-end days (exploded equi offsets, never a range
    # self-join); zero-filled off the calendar spine
    q["wau1_rolling_weekly_active"] = f"""
        WITH {_DAILY_SPINE},
        ud AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          FROM events WHERE ts IS NOT NULL
        ),
        votes AS (
          SELECT user_id, day + CAST(r.o AS INT) AS day
          FROM ud, UNNEST(range(0, 7)) AS r(o)
        ),
        wau AS (
          SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
          FROM votes GROUP BY day
        )
        SELECT s.day, COALESCE(w.wau, 0)::BIGINT AS wau
        FROM filled s LEFT JOIN wau w USING (day)
        ORDER BY s.day
    """

    # hll2: inclusion-exclusion overlap audit — per-pair estimates
    # frozen in the snapshot; exact overlap recounted from raw events;
    # the verdict allows HLL2_BOUND of the summed estimate magnitudes
    # (subtracting three sketches ADDS absolute errors)
    q["hll2_overlap_audit"] = f"""
        WITH snap AS (
          SELECT type_a, type_b, est_a, est_b, est_union
          FROM read_parquet('{_scratch("hll2.parquet")}/*.parquet')
        ),
        tu AS (
          SELECT DISTINCT event_type, user_id FROM events
          WHERE user_id IS NOT NULL
        ),
        exact AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(COUNT(*) AS BIGINT) AS exact_intersect
          FROM tu a JOIN tu b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        )
        SELECT s.type_a, s.type_b,
               CAST(s.est_a + s.est_b - s.est_union AS BIGINT) AS est_intersect,
               COALESCE(e.exact_intersect, 0)::BIGINT AS exact_intersect,
               CAST(abs(s.est_a + s.est_b - s.est_union
                        - COALESCE(e.exact_intersect, 0)) AS BIGINT) AS abs_err,
               abs(s.est_a + s.est_b - s.est_union
                   - COALESCE(e.exact_intersect, 0))::DOUBLE
                 <= {ska.HLL2_BOUND} * (s.est_a + s.est_b + s.est_union)::DOUBLE
                 AS within_bound
        FROM snap s LEFT JOIN exact e USING (type_a, type_b)
        ORDER BY s.type_a, s.type_b
    """

    # ret1: forward 7-day retention — return visits vote into the 7
    # PRIOR days (exploded equi offsets); integer distinct counts, one
    # double division; active-days only
    q["ret1_rolling_retention"] = """
        WITH ud AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        future AS (
          SELECT user_id, day - CAST(r.o AS INT) AS day
          FROM ud, UNNEST(range(1, 8)) AS r(o)
        ),
        retained AS (
          SELECT u.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_retained
          FROM ud u JOIN future f ON u.user_id = f.user_id AND u.day = f.day
          GROUP BY u.day
        ),
        active AS (
          SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
          FROM ud GROUP BY day
        )
        SELECT a.day, a.n_active,
               COALESCE(r.n_retained, 0)::BIGINT AS n_retained,
               round(COALESCE(r.n_retained, 0)::DOUBLE / a.n_active::DOUBLE, 6)
                 + 0.0 AS retention
        FROM active a LEFT JOIN retained r USING (day)
        ORDER BY a.day
    """

    # mgrec1: the Misra-Gries audit — estimates frozen in the snapshot
    # (MG's counter set is not even run-deterministic, so the snapshot
    # is the ONLY auditable surface); exact recount with the sketch's
    # own tokenization; verdicts in pure integer arithmetic
    q["mgrec1_heavy_hitter_audit"] = f"""
        WITH snap AS (
          SELECT tok, est_count, n_total
          FROM read_parquet('{_scratch("mgrec1.parquet")}/*.parquet')
        ),
        toks AS (
          -- no trim: split unstripped lowered text on the EXPLICIT
          -- class MGREC1_WS_SQL and drop empty fragments — the ONE
          -- whitespace discipline all three surfaces share verbatim
          -- (RE2's \\s lacks \\x0B, Python/Java \\s include it, so a
          -- spelled-out class is the only cross-engine-exact choice)
          SELECT tok FROM (
            SELECT unnest(string_split_regex(lower(text), '{ska.MGREC1_WS_SQL}')) AS tok
            FROM documents WHERE text IS NOT NULL
          ) WHERE tok <> ''
        ),
        exact AS (
          SELECT t.tok, CAST(COUNT(*) AS BIGINT) AS exact_n
          FROM toks t JOIN (SELECT DISTINCT tok FROM snap) s USING (tok)
          GROUP BY t.tok
        )
        SELECT s.tok, s.est_count,
               COALESCE(e.exact_n, 0)::BIGINT AS exact_n,
               s.n_total,
               CAST(COALESCE(e.exact_n, 0) - s.est_count AS BIGINT) AS undercount,
               (COALESCE(e.exact_n, 0) - s.est_count >= 0
                AND (COALESCE(e.exact_n, 0) - s.est_count) * {ska.MGREC1_K}
                    <= s.n_total) AS within_bound
        FROM snap s LEFT JOIN exact e USING (tok)
        ORDER BY s.est_count DESC, s.tok
    """

    # audlog1: the persisted per-batch audit log — stored ESTIMATES are
    # read back from the artifact's live rows (paths baked at build
    # time, stale epochs GC'd by the builder); the batch split
    # (pmod(event_id, 3), NULL → 0) and exact ground truth are
    # recomputed from raw events; every derived column mirrors the
    # adrec1 arithmetic; the join is NULL-SAFE on event_type so the
    # NULL group's audit row is verified rather than dropped
    q["audlog1_batch_audit_log"] = f"""
        WITH snap AS (
          SELECT batch_key, event_type, approx_users
          FROM read_parquet('{_scratch("auditlog")}/rows/*/*.parquet')
        ),
        ev AS (
          SELECT 'b' || CAST(coalesce(((event_id % {alog.AUDLOG1_N_BATCHES})
                 + {alog.AUDLOG1_N_BATCHES}) % {alog.AUDLOG1_N_BATCHES}, 0)
                 AS VARCHAR) AS batch_key,
                 event_type, user_id
          FROM events
        ),
        exact AS (
          SELECT batch_key, event_type,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
          FROM ev GROUP BY batch_key, event_type
        )
        SELECT e.batch_key, e.event_type, e.exact_users, s.approx_users,
               CAST(abs(s.approx_users - e.exact_users) AS BIGINT) AS abs_err,
               round(abs(s.approx_users - e.exact_users)::DOUBLE
                     / greatest(e.exact_users, 1)::DOUBLE, 9) + 0.0 AS rel_err,
               (round(abs(s.approx_users - e.exact_users)::DOUBLE
                      / greatest(e.exact_users, 1)::DOUBLE, 9) + 0.0)
                 <= {ska.ADREC1_BOUND} AS within_bound
        FROM exact e JOIN snap s
          ON e.batch_key = s.batch_key
         AND e.event_type IS NOT DISTINCT FROM s.event_type
        ORDER BY e.batch_key, e.event_type
    """

    # cms1: Count-Min overcount audit — stored estimates read back from
    # the snapshot, exact recount with the shared explicit whitespace
    # class, verdicts in pure integer arithmetic (mirror of mgrec1 with
    # the inequality flipped: CMS can only OVERcount)
    q["cms1_countmin_audit"] = f"""
        WITH snap AS (
          SELECT tok, est_count, n_total
          FROM read_parquet('{_scratch("cms1.parquet")}/*.parquet')
        ),
        toks AS (
          SELECT tok FROM (
            SELECT unnest(string_split_regex(lower(text), '{ska.MGREC1_WS_SQL}')) AS tok
            FROM documents WHERE text IS NOT NULL
          ) WHERE tok <> ''
        ),
        exact AS (
          SELECT t.tok, CAST(COUNT(*) AS BIGINT) AS exact_n
          FROM toks t JOIN (SELECT DISTINCT tok FROM snap) s USING (tok)
          GROUP BY t.tok
        )
        SELECT s.tok, s.est_count,
               COALESCE(e.exact_n, 0)::BIGINT AS exact_n,
               s.n_total,
               CAST(s.est_count - COALESCE(e.exact_n, 0) AS BIGINT) AS overcount,
               (s.est_count - COALESCE(e.exact_n, 0) >= 0
                AND (s.est_count - COALESCE(e.exact_n, 0)) * {ska.CMS1_W}
                    <= s.n_total * {ska.CMS1_SLACK}) AS within_bound
        FROM snap s LEFT JOIN exact e USING (tok)
        ORDER BY s.est_count DESC, s.tok
    """

    # fun1: ordered funnel — min-time cascade (t_k strictly after
    # t_{k-1}), exact timestamp MINs and integer counts; every step
    # row emits even at zero reach (COUNT over an empty frontier is 0)
    q["fun1_ordered_funnel"] = """
        WITH ev AS (
          SELECT user_id, event_type, ts FROM events
          WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        s1 AS (
          SELECT user_id, MIN(ts) AS t FROM ev
          WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM ev e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s1.t
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM ev e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s2.t
          GROUP BY e.user_id
        ),
        n AS (
          SELECT 1 AS step, 'view' AS event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
          UNION ALL
          SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2
          UNION ALL
          SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
        ),
        ent AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_entered FROM s1)
        SELECT CAST(step AS INT) AS step, event_type, n_users,
               round(n_users::DOUBLE / greatest(n_entered, 1)::DOUBLE, 6)
                 + 0.0 AS conversion
        FROM n CROSS JOIN ent ORDER BY step
    """

    # gt1: Good-Turing — exact long counts over the shared whitespace
    # class; ratios NULL when their denominator is zero
    q["gt1_good_turing"] = f"""
        WITH toks AS (
          SELECT source, tok FROM (
            SELECT source,
                   unnest(string_split_regex(lower(text), '{ska.MGREC1_WS_SQL}')) AS tok
            FROM documents WHERE text IS NOT NULL
          ) WHERE tok <> ''
        ),
        counts AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY source, tok
        ),
        agg AS (
          SELECT source,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_vocab,
                 CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
                 CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
          FROM counts GROUP BY source
        )
        SELECT source, n_tokens, n_vocab, n_hapax, n_dis,
               CASE WHEN n_tokens > 0
                    THEN round(n_hapax::DOUBLE / n_tokens::DOUBLE, 6) + 0.0
               END AS p_unseen,
               CASE WHEN n_hapax > 0
                    THEN round(2.0 * n_dis::DOUBLE / n_hapax::DOUBLE, 6) + 0.0
               END AS r1_star
        FROM agg ORDER BY source
    """

    # ney1: Neyman allocation — DECIMAL(38,0) sufficient statistics →
    # one double division → one sqrt (both correctly rounded IEEE, so
    # S_h is bit-identical); the cross-stratum normalizer sums integer
    # MICROS (order-free), never doubles
    q["ney1_neyman_allocation"] = """
        WITH stats AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 SUM(CAST(n_chars AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(n_chars AS DECIMAL(38,0))
                     * CAST(n_chars AS DECIMAL(38,0))) AS sxx
          FROM documents WHERE n_chars IS NOT NULL GROUP BY source
        ),
        v AS (
          SELECT source, n_docs,
                 CASE WHEN n_docs > 1 THEN greatest(
                     (CAST(n_docs AS DECIMAL(38,0)) * sxx - sx * sx)::DOUBLE
                     / (n_docs::DOUBLE * (n_docs - 1)::DOUBLE), 0.0)
                 ELSE 0.0 END AS var
          FROM stats
        ),
        w AS (
          SELECT source, n_docs,
                 round(sqrt(var), 6) AS s_chars,
                 CAST(round(n_docs::DOUBLE * sqrt(var) * 1e6, 0) AS BIGINT)
                   AS w_micros
          FROM v
        ),
        tot AS (
          SELECT CAST(COALESCE(SUM(w_micros), 0) AS BIGINT) AS w_total FROM w
        )
        SELECT source, n_docs, s_chars,
               CASE WHEN w_total > 0
                    THEN round(1000.0 * w_micros::DOUBLE / w_total::DOUBLE, 6)
                         + 0.0
               END AS alloc_exact,
               CASE WHEN w_total > 0
                    THEN CAST(floor(1000.0 * w_micros::DOUBLE / w_total::DOUBLE)
                              AS BIGINT)
               END AS n_alloc_floor
        FROM w CROSS JOIN tot ORDER BY source
    """

    # kap1: Cohen's kappa over the t3 heuristic, binarized en/other —
    # exact long confusion cells; kappa NULL at p_e = 1; empty corpus
    # emits no row (SUM over zero rows is NULL, filtered)
    q["kap1_cohens_kappa"] = f"""
        WITH pred AS (
          SELECT lang,
                 CASE WHEN round(CAST(len(list_filter({_RAW_TOKS},
                        t -> list_contains({_STOP}, lower(t)))) AS INT)::DOUBLE
                        / greatest(CAST(len({_RAW_TOKS}) AS INT), 1), 6) >= 0.08
                      THEN 'en' ELSE 'other' END AS lang_pred
          FROM documents
        ),
        cells AS (
          SELECT
            CAST(SUM(CASE WHEN lang_pred = 'en'
                          AND lang IS NOT DISTINCT FROM 'en'
                     THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(SUM(CASE WHEN lang_pred = 'en'
                          AND lang IS DISTINCT FROM 'en'
                     THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(SUM(CASE WHEN lang_pred = 'other'
                          AND lang IS NOT DISTINCT FROM 'en'
                     THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(SUM(CASE WHEN lang_pred = 'other'
                          AND lang IS DISTINCT FROM 'en'
                     THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM pred
        ),
        k AS (
          SELECT a, b, c, d,
                 (a + b + c + d)::DOUBLE AS n,
                 (a + d)::DOUBLE AS agree,
                 ((a + b)::DOUBLE * (a + c)::DOUBLE
                  + (c + d)::DOUBLE * (b + d)::DOUBLE) AS chance_num
          FROM cells WHERE (a + b + c + d) > 0
        )
        SELECT a, b, c, d,
               round(agree / n, 6) + 0.0 AS p_observed,
               round(chance_num / (n * n), 6) + 0.0 AS p_expected,
               CASE WHEN chance_num / (n * n) < 1.0
                    THEN round((agree / n - chance_num / (n * n))
                               / (1.0 - chance_num / (n * n)), 6) + 0.0
               END AS kappa
        FROM k
    """

    # deg1: degree histogram over the SAME banded lsh_pairs fragment
    # the graph family shares — pure integer counting
    q["deg1_dup_degree_hist"] = f"""
        WITH {_lsh_ctes},
        ends AS (
          SELECT doc_a AS doc_id FROM lsh_pairs
          UNION ALL SELECT doc_b FROM lsh_pairs
        ),
        deg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
          FROM ends GROUP BY doc_id
        )
        SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM deg GROUP BY degree ORDER BY degree
    """

    # mad1: exact nearest-rank MAD — the pctl2 integer-rank rule twice;
    # the median scalar feeds the deviation stage as a subquery scalar
    q["mad1_value_mad"] = """
        WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
        g AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY value),
        cgrid AS (
          SELECT value, CAST(SUM(c) OVER (ORDER BY value) AS BIGINT) AS cum FROM g
        ),
        t AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n FROM g),
        med AS (
          SELECT n, MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN value END) AS m
          FROM cgrid, t WHERE n > 0 GROUP BY n
        ),
        d AS (SELECT abs(value - m) AS dev FROM v, med),
        g2 AS (SELECT dev, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY dev),
        cgrid2 AS (
          SELECT dev, CAST(SUM(c) OVER (ORDER BY dev) AS BIGINT) AS cum FROM g2
        )
        SELECT n AS n_values, m AS median,
               MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN dev END) AS mad,
               round(MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN dev END)
                     * 1.4826, 6) + 0.0 AS sigma_robust
        FROM cgrid2, med GROUP BY n, m
    """

    # theil1: exact decimal spends; per-customer r·ln(r) terms rounded
    # to 9 dp into an order-free BIGINT nano sum (the ent1/drift1 log
    # discipline); zero-spend customers contribute the r·ln(r)→0 limit
    q["theil1_spend_inequality"] = """
        WITH per_cust AS (
          SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
          FROM orders GROUP BY o_custkey
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
                 SUM(spend) AS total_spend
          FROM per_cust
        ),
        terms AS (
          SELECT n_customers, total_spend,
                 CAST(round(
                   (n_customers::DOUBLE * (spend::DOUBLE / total_spend::DOUBLE))
                   * ln(n_customers::DOUBLE * (spend::DOUBLE / total_spend::DOUBLE))
                   * 1e9, 0) AS BIGINT) AS nanos
          FROM per_cust CROSS JOIN tot WHERE spend > 0
        )
        SELECT MAX(n_customers)::BIGINT AS n_customers,
               round(MAX(total_spend), 2)::DOUBLE AS total_spend,
               round(CAST(COALESCE(SUM(nanos), 0) AS BIGINT)::DOUBLE / 1e9
                     / MAX(n_customers)::DOUBLE, 6) + 0.0 AS theil_t
        FROM terms HAVING MAX(n_customers) > 0
    """

    # simp1: same-type pair mass as exact DECIMAL(38,0); one rounded
    # division; NULL below two tokens
    q["simp1_simpson_diversity"] = f"""
        WITH toks AS (
          SELECT source, tok FROM (
            SELECT source,
                   unnest(string_split_regex(lower(text), '{ska.MGREC1_WS_SQL}')) AS tok
            FROM documents WHERE text IS NOT NULL
          ) WHERE tok <> ''
        ),
        counts AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY source, tok
        ),
        agg AS (
          SELECT source,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_vocab,
                 SUM(CAST(c AS DECIMAL(38,0))
                     * (CAST(c AS DECIMAL(38,0)) - 1)) AS same_pairs
          FROM counts GROUP BY source
        )
        SELECT source, n_tokens, n_vocab,
               CASE WHEN n_tokens > 1 THEN
                 round(same_pairs::DOUBLE
                       / (CAST(n_tokens AS DECIMAL(38,0))
                          * (CAST(n_tokens AS DECIMAL(38,0)) - 1))::DOUBLE, 6)
                 + 0.0
               END AS simpson_d,
               CASE WHEN n_tokens > 1 THEN
                 round(1.0 - same_pairs::DOUBLE
                       / (CAST(n_tokens AS DECIMAL(38,0))
                          * (CAST(n_tokens AS DECIMAL(38,0)) - 1))::DOUBLE, 6)
                 + 0.0
               END AS diversity
        FROM agg ORDER BY source
    """

    # cha1: exact long species counts; the bias-corrected Chao1 form
    # (defined at N2 = 0) as one double expression
    q["cha1_chao1_richness"] = f"""
        WITH toks AS (
          SELECT source, tok FROM (
            SELECT source,
                   unnest(string_split_regex(lower(text), '{ska.MGREC1_WS_SQL}')) AS tok
            FROM documents WHERE text IS NOT NULL
          ) WHERE tok <> ''
        ),
        counts AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY source, tok
        ),
        agg AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_vocab,
                 CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
                 CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
          FROM counts GROUP BY source
        )
        SELECT source, n_vocab, n_hapax, n_dis,
               round(n_vocab::DOUBLE
                     + n_hapax::DOUBLE * (n_hapax::DOUBLE - 1.0)
                       / (2.0 * (n_dis::DOUBLE + 1.0)), 6) + 0.0 AS chao1_est,
               round(n_vocab::DOUBLE
                     / (n_vocab::DOUBLE
                        + n_hapax::DOUBLE * (n_hapax::DOUBLE - 1.0)
                          / (2.0 * (n_dis::DOUBLE + 1.0))), 6) + 0.0 AS coverage
        FROM agg ORDER BY source
    """

    # spr1: Spearman via DOUBLED average ranks (2·cum_before + cnt + 1
    # stays an exact long under ties), Pearson-on-ranks from
    # DECIMAL(38,0) sufficient sums, one rounded double expression;
    # NULL on zero rank variance
    q["spr1_spearman_rank_corr"] = """
        WITH pairs AS (
          SELECT o_totalprice AS x, c_acctbal AS y
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE o_totalprice IS NOT NULL AND c_acctbal IS NOT NULL
        ),
        gx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY x),
        rx AS (
          SELECT x, CAST(2 * (SUM(cnt) OVER (ORDER BY x) - cnt) + cnt + 1
                         AS BIGINT) AS u
          FROM gx
        ),
        gy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY y),
        ry AS (
          SELECT y, CAST(2 * (SUM(cnt) OVER (ORDER BY y) - cnt) + cnt + 1
                         AS BIGINT) AS v
          FROM gy
        ),
        ranked AS (
          SELECT u, v FROM pairs JOIN rx USING (x) JOIN ry USING (y)
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(u AS DECIMAL(38,0))) AS su,
                 SUM(CAST(v AS DECIMAL(38,0))) AS sv,
                 SUM(CAST(u AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS suv,
                 SUM(CAST(u AS DECIMAL(38,0)) * CAST(u AS DECIMAL(38,0))) AS suu,
                 SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) AS svv
          FROM ranked
        )
        SELECT n AS n_pairs,
               CASE WHEN (CAST(n AS DECIMAL(38,0)) * suu - su * su)::DOUBLE > 0
                     AND (CAST(n AS DECIMAL(38,0)) * svv - sv * sv)::DOUBLE > 0
                    THEN round(
                      (CAST(n AS DECIMAL(38,0)) * suv - su * sv)::DOUBLE
                      / sqrt((CAST(n AS DECIMAL(38,0)) * suu - su * su)::DOUBLE
                             * (CAST(n AS DECIMAL(38,0)) * svv - sv * sv)::DOUBLE),
                      6) + 0.0
               END AS spearman_rho
        FROM agg WHERE n > 0
    """

    # ptt1: Pettitt — doubled ranks make W2_t exact; u2 = w2 − t·(n+1)
    # IS U_t by the rank-sum identity; argmax by (|U| DESC, day ASC);
    # only the approximate p-value is a rounded double of exact ints
    q["ptt1_pettitt_change_point"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        st AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
        spine AS (
          SELECT r.s::DATE AS day,
                 CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS nd
          FROM st, UNNEST(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                          INTERVAL 1 DAY)) AS r(s)
        ),
        filled AS (
          SELECT s.day, s.nd, COALESCE(d.c, 0)::BIGINT AS c
          FROM spine s LEFT JOIN daily d USING (day)
        ),
        g AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM filled GROUP BY c),
        r AS (
          SELECT c, CAST(2 * (SUM(cnt) OVER (ORDER BY c) - cnt) + cnt + 1
                         AS BIGINT) AS r2
          FROM g
        ),
        wt AS (
          SELECT f.day, f.nd,
                 CAST(SUM(r.r2) OVER (ORDER BY f.day) AS BIGINT) AS w2,
                 CAST(ROW_NUMBER() OVER (ORDER BY f.day) AS BIGINT) AS t
          FROM filled f JOIN r USING (c)
        ),
        u AS (
          SELECT day, nd, CAST(w2 - t * (nd + 1) AS BIGINT) AS u2
          FROM wt WHERE t < nd
        )
        SELECT nd AS n_days, day AS change_day,
               CAST(abs(u2) AS BIGINT) AS k_stat,
               least(round(2.0 * exp(-6.0 * (abs(u2)::DOUBLE * abs(u2)::DOUBLE)
                     / (nd::DOUBLE * nd::DOUBLE * nd::DOUBLE
                        + nd::DOUBLE * nd::DOUBLE)), 6) + 0.0, 1.0) AS p_approx
        FROM u ORDER BY abs(u2) DESC, day ASC LIMIT 1
    """

    # ben1: Benford leading-digit audit — exact integer cents, leading
    # digit from the canonical integer string (no float log/pow in the
    # digit path), all nine digits densified, dev composed from the
    # already-rounded shares
    q["ben1_benford_audit"] = """
        WITH d AS (
          SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
          FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders)
          WHERE cents > 0
        ),
        cnt AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt),
        spine AS (SELECT CAST(r.d AS INT) AS digit FROM UNNEST(range(1, 10)) AS r(d))
        SELECT s.digit, COALESCE(c.n, 0)::BIGINT AS n_orders,
               round(COALESCE(c.n, 0)::DOUBLE / total, 6) + 0.0 AS obs_share,
               round(log10(1.0 + 1.0 / s.digit), 6) + 0.0 AS exp_share,
               round(round(COALESCE(c.n, 0)::DOUBLE / total, 6)
                     - round(log10(1.0 + 1.0 / s.digit), 6), 6) + 0.0 AS dev
        FROM spine s LEFT JOIN cnt c USING (digit) CROSS JOIN tot
        WHERE total > 0 ORDER BY s.digit
    """

    # conc1: source-concentration readout — Gini via the EXACT integer
    # rank form over sources ranked ascending by (count, source); HHI
    # via 12-dp decimal share² sums; one double division each at the end
    q["conc1_source_concentration"] = """
        WITH per AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS c FROM documents
          WHERE source IS NOT NULL GROUP BY 1
        ),
        ranked AS (
          SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c, source) AS BIGINT) AS i
          FROM per
        ),
        stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS s,
                 CAST(SUM(c) AS BIGINT) AS n,
                 CAST(SUM(2 * i * c) AS BIGINT) AS wsum
          FROM ranked
        ),
        hhi AS (
          SELECT round(CAST(SUM(CAST(round((c::DOUBLE / n) * (c::DOUBLE / n), 12)
                                    AS DECIMAL(38,12))) AS DOUBLE), 6) AS hhi
          FROM ranked, stats
        )
        SELECT s AS n_sources, n AS n_docs,
               round((wsum::DOUBLE - (s + 1)::DOUBLE * n::DOUBLE)
                     / (s::DOUBLE * n::DOUBLE), 6) + 0.0 AS gini,
               hhi
        FROM stats, hhi WHERE s > 0
    """

    # iqr1: per-source Tukey-fence outliers over exact nearest-rank
    # quartiles — pctl2's integer-rank rule applied per source (the
    # running counts window partitions by source, parallel across
    # sources); fences are pointwise doubles of exact longs
    q["iqr1_source_length_outliers"] = """
        WITH live AS (
          SELECT source, n_chars FROM documents
          WHERE source IS NOT NULL AND n_chars IS NOT NULL
        ),
        grid AS (
          SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
          FROM live GROUP BY 1, 2
        ),
        cgrid AS (
          SELECT source, n_chars,
                 CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS cum
          FROM grid
        ),
        tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs FROM grid GROUP BY 1),
        picks AS (
          SELECT g.source, MAX(t.n_docs) AS n_docs,
                 MIN(CASE WHEN cum >= (25 * t.n_docs + 99) // 100 THEN n_chars END) AS q1,
                 MIN(CASE WHEN cum >= (75 * t.n_docs + 99) // 100 THEN n_chars END) AS q3
          FROM cgrid g JOIN tot t USING (source) GROUP BY 1
        ),
        th AS (
          SELECT source, n_docs, q1, q3,
                 q1::DOUBLE - 1.5 * (q3::DOUBLE - q1::DOUBLE) AS lo,
                 q3::DOUBLE + 1.5 * (q3::DOUBLE - q1::DOUBLE) AS hi
          FROM picks
        )
        SELECT l.source,
               CAST(MAX(t.n_docs) AS BIGINT) AS n_docs,
               CAST(MAX(t.q1) AS BIGINT) AS q1,
               CAST(MAX(t.q3) AS BIGINT) AS q3,
               CAST(SUM(CASE WHEN l.n_chars::DOUBLE < t.lo OR l.n_chars::DOUBLE > t.hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               round(SUM(CASE WHEN l.n_chars::DOUBLE < t.lo OR l.n_chars::DOUBLE > t.hi
                              THEN 1 ELSE 0 END)::DOUBLE / MAX(t.n_docs), 6) AS outlier_rate
        FROM live l JOIN th t USING (source)
        GROUP BY 1 ORDER BY 1
    """

    # chi21: Pearson chi-square cells over the SAME (lang, source) joint
    # as mi1, densified to every cell of the contingency table (a zero
    # observed cell contributes its full expected count — chi2 needs it
    # where MI's 0·log0 drops it); expected/term are pointwise doubles
    # of exact integer margins, 9-dp + signed-zero normalized
    q["chi21_lang_source_chi2"] = """
        WITH live AS (
          SELECT lang, source FROM documents
          WHERE text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL
        ),
        j AS (
          SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_xy
          FROM live GROUP BY 1, 2
        ),
        mx AS (SELECT lang, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM j GROUP BY 1),
        my AS (SELECT source, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM j GROUP BY 1),
        t AS (SELECT CAST(COALESCE(SUM(n_xy), 0) AS BIGINT) AS n FROM j),
        cells AS (SELECT lang, source, n_x, n_y FROM mx CROSS JOIN my)
        SELECT c.lang, c.source,
               CAST(COALESCE(j.n_xy, 0) AS BIGINT) AS n_obs,
               round(CAST(c.n_x AS DOUBLE) * CAST(c.n_y AS DOUBLE) / CAST(t.n AS DOUBLE), 9) + 0.0 AS n_exp,
               round((CAST(COALESCE(j.n_xy, 0) AS DOUBLE)
                      - CAST(c.n_x AS DOUBLE) * CAST(c.n_y AS DOUBLE) / CAST(t.n AS DOUBLE))
                     * (CAST(COALESCE(j.n_xy, 0) AS DOUBLE)
                        - CAST(c.n_x AS DOUBLE) * CAST(c.n_y AS DOUBLE) / CAST(t.n AS DOUBLE))
                     / (CAST(c.n_x AS DOUBLE) * CAST(c.n_y AS DOUBLE) / CAST(t.n AS DOUBLE)), 9) + 0.0
                 AS chi2_term
        FROM cells c
        LEFT JOIN j ON j.lang = c.lang AND j.source = c.source
        CROSS JOIN t
        ORDER BY c.lang, c.source
    """

    # anova1: cents in DECIMAL(38,0) sufficient stats; the per-group
    # between-variance term (nj/n)*(mj-m)^2 in DOLLARS rides the
    # micro-unit LONG sum (order-free, theil1 discipline); SST/n is one
    # 1-row double expression; NULL F on zero within-variance
    q["anova1_priority_anova"] = """
        WITH base AS (
          SELECT o_orderpriority AS grp,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS x
          FROM orders
          WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
        ),
        per AS (
          SELECT grp, CAST(COUNT(*) AS BIGINT) AS nj,
                 CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sj,
                 CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS ssj
          FROM base GROUP BY grp
        ),
        gstats AS (
          SELECT CAST(SUM(nj) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(sj) AS DECIMAL(38,0)) AS s,
                 CAST(SUM(ssj) AS DECIMAL(38,0)) AS ssq
          FROM per
        ),
        summed AS (
          SELECT CAST(SUM(CAST(round(
                   (nj::DOUBLE / n::DOUBLE)
                   * (sj::DOUBLE / (nj::DOUBLE * 100.0)
                      - s::DOUBLE / (n::DOUBLE * 100.0))
                   * (sj::DOUBLE / (nj::DOUBLE * 100.0)
                      - s::DOUBLE / (n::DOUBLE * 100.0))
                   * 1e6) AS BIGINT)) AS BIGINT) AS ssb_micro
          FROM per CROSS JOIN gstats
        )
        SELECT n AS n_orders, k AS k_groups,
               CASE WHEN (ssq::DOUBLE / (n::DOUBLE * 1e4)
                          - (s::DOUBLE / (n::DOUBLE * 100.0))
                            * (s::DOUBLE / (n::DOUBLE * 100.0))
                          - ssb_micro::DOUBLE / 1e6) > 0
                    THEN round((n::DOUBLE - k::DOUBLE) / (k::DOUBLE - 1.0)
                         * (ssb_micro::DOUBLE / 1e6)
                         / (ssq::DOUBLE / (n::DOUBLE * 1e4)
                            - (s::DOUBLE / (n::DOUBLE * 100.0))
                              * (s::DOUBLE / (n::DOUBLE * 100.0))
                            - ssb_micro::DOUBLE / 1e6), 6) + 0.0
               END AS f_stat,
               CASE WHEN (ssq::DOUBLE / (n::DOUBLE * 1e4)
                          - (s::DOUBLE / (n::DOUBLE * 100.0))
                            * (s::DOUBLE / (n::DOUBLE * 100.0))) > 0
                    THEN round(ssb_micro::DOUBLE / 1e6
                         / (ssq::DOUBLE / (n::DOUBLE * 1e4)
                            - (s::DOUBLE / (n::DOUBLE * 100.0))
                              * (s::DOUBLE / (n::DOUBLE * 100.0))), 6) + 0.0
               END AS eta_sq
        FROM summed CROSS JOIN gstats
        WHERE k >= 2 AND n > k
    """

    # kw1: doubled average ranks (spr1 discipline) keep rank sums exact
    # DECIMAL; the per-group H term 3*R2j^2/(nj*n*(n+1)) rides the
    # micro-unit LONG sum; tie correction from exact DECIMAL t^3-t
    q["kw1_kruskal_wallis"] = """
        WITH base AS (
          SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
          WHERE n_chars IS NOT NULL AND source IS NOT NULL
        ),
        g AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM base GROUP BY x),
        r AS (
          SELECT x, CAST(2 * (SUM(cnt) OVER (ORDER BY x) - cnt) + cnt + 1
                         AS BIGINT) AS r2
          FROM g
        ),
        per AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS nj,
                 CAST(SUM(CAST(r2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS r2j
          FROM base JOIN r USING (x) GROUP BY source
        ),
        ties AS (
          SELECT CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))
                          * CAST(cnt AS DECIMAL(38,0))
                          - CAST(cnt AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tie3
          FROM g
        ),
        gstats AS (
          SELECT CAST(SUM(nj) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k
          FROM per
        ),
        summed AS (
          SELECT CAST(SUM(CAST(round(3.0 * r2j::DOUBLE * r2j::DOUBLE
                    / (nj::DOUBLE * n::DOUBLE * (n::DOUBLE + 1.0))
                    * 1e6) AS BIGINT)) AS BIGINT) AS h_micro
          FROM per CROSS JOIN gstats
        )
        SELECT n AS n_docs, k AS k_sources, CAST(k - 1 AS BIGINT) AS df,
               round(h_micro::DOUBLE / 1e6 - 3.0 * (n::DOUBLE + 1.0), 6) + 0.0
                 AS h_stat,
               CASE WHEN 1.0 - tie3::DOUBLE
                          / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE) > 0
                    THEN round((h_micro::DOUBLE / 1e6 - 3.0 * (n::DOUBLE + 1.0))
                         / (1.0 - tie3::DOUBLE
                            / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)),
                         6) + 0.0
               END AS h_adj
        FROM summed CROSS JOIN gstats CROSS JOIN ties
        WHERE k >= 2 AND n > k
    """

    # ktau1: observed-day grain; pair classes are integer sign tests
    # summed as exact LONGS; tau-b and the z approximation are single
    # rounded double expressions (day-grain products < 2^53)
    q["ktau1_kendall_tau"] = """
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS x,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1
        ),
        nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
        pairs AS (
          SELECT CAST(sign(b.x - a.x) AS BIGINT) AS dx,
                 CAST(sign(b.y - a.y) AS BIGINT) AS dy
          FROM daily a JOIN daily b ON a.day < b.day
        ),
        agg AS (
          SELECT
            CAST(SUM(CASE WHEN dx * dy = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
            CAST(SUM(CASE WHEN dx * dy = -1 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
            CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
            CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
          FROM pairs
        )
        SELECT n AS n_days,
               CAST(COALESCE(conc, 0) AS BIGINT) AS concordant,
               CAST(COALESCE(disc, 0) AS BIGINT) AS discordant,
               CASE WHEN (n::DOUBLE * (n::DOUBLE - 1.0) / 2.0
                          - COALESCE(tx, 0)::DOUBLE) > 0
                     AND (n::DOUBLE * (n::DOUBLE - 1.0) / 2.0
                          - COALESCE(ty, 0)::DOUBLE) > 0
                    THEN round(
                      (COALESCE(conc, 0) - COALESCE(disc, 0))::DOUBLE
                      / sqrt((n::DOUBLE * (n::DOUBLE - 1.0) / 2.0
                              - COALESCE(tx, 0)::DOUBLE)
                             * (n::DOUBLE * (n::DOUBLE - 1.0) / 2.0
                                - COALESCE(ty, 0)::DOUBLE)), 6) + 0.0
               END AS tau_b,
               CASE WHEN n > 2
                    THEN round(3.0 * (COALESCE(conc, 0) - COALESCE(disc, 0))::DOUBLE
                         / sqrt(n::DOUBLE * (n::DOUBLE - 1.0)
                                * (2.0 * n::DOUBLE + 5.0) / 2.0), 6) + 0.0
               END AS z_approx
        FROM agg CROSS JOIN nr
        WHERE n >= 2
    """

    # cusum1: the CUSUM recursion collapsed to running extrema of the
    # n-scaled drifted prefix R'_t = n*P_t - t*T (exact longs); peak
    # days and magnitudes are integer argmax (earliest-day tiebreak);
    # only the event-unit peaks and sigma units are rounded doubles
    q["cusum1_cusum_drift"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        st AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
        spine AS (
          SELECT r.s::DATE AS day
          FROM st, UNNEST(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                          INTERVAL 1 DAY)) AS r(s)
        ),
        filled AS (
          SELECT s.day, COALESCE(d.c, 0)::BIGINT AS c
          FROM spine s LEFT JOIN daily d USING (day)
        ),
        tot AS (
          SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS ssq
          FROM filled
        ),
        rr AS (
          SELECT f.day,
                 CAST(t2.n * SUM(f.c) OVER (ORDER BY f.day)
                      - (ROW_NUMBER() OVER (ORDER BY f.day)) * t2.t
                      AS BIGINT) AS r
          FROM filled f CROSS JOIN tot t2
        ),
        s AS (
          SELECT day,
                 CAST(r - least(MIN(r) OVER (ORDER BY day), 0) AS BIGINT) AS sp,
                 CAST(greatest(MAX(r) OVER (ORDER BY day), 0) - r AS BIGINT) AS sn
          FROM rr
        ),
        tp AS (SELECT day AS pos_day, sp FROM s ORDER BY sp DESC, day ASC LIMIT 1),
        tn AS (SELECT day AS neg_day, sn FROM s ORDER BY sn DESC, day ASC LIMIT 1)
        SELECT n AS n_days, t AS total_events,
               pos_day,
               round(sp::DOUBLE / n::DOUBLE, 6) + 0.0 AS cusum_pos,
               CASE WHEN sqrt(greatest(ssq::DOUBLE / n::DOUBLE
                          - (t::DOUBLE / n::DOUBLE) * (t::DOUBLE / n::DOUBLE),
                          0.0)) > 0
                    THEN round((sp::DOUBLE / n::DOUBLE)
                         / sqrt(greatest(ssq::DOUBLE / n::DOUBLE
                             - (t::DOUBLE / n::DOUBLE) * (t::DOUBLE / n::DOUBLE),
                             0.0)), 6) + 0.0
               END AS pos_sigma_units,
               neg_day,
               round(sn::DOUBLE / n::DOUBLE, 6) + 0.0 AS cusum_neg,
               CASE WHEN sqrt(greatest(ssq::DOUBLE / n::DOUBLE
                          - (t::DOUBLE / n::DOUBLE) * (t::DOUBLE / n::DOUBLE),
                          0.0)) > 0
                    THEN round((sn::DOUBLE / n::DOUBLE)
                         / sqrt(greatest(ssq::DOUBLE / n::DOUBLE
                             - (t::DOUBLE / n::DOUBLE) * (t::DOUBLE / n::DOUBLE),
                             0.0)), 6) + 0.0
               END AS neg_sigma_units
        FROM tp CROSS JOIN tn CROSS JOIN tot
        WHERE n >= 2
    """

    # llr1: Dunning G^2 over the bigram 2x2 contingency — all nine
    # cells exact longs from position marginals; the x*ln(x) tree is
    # mirrored left-associative term-for-term from the Spark plan
    def _xlx(e: str) -> str:
        return (
            f"(CASE WHEN ({e}) > 0 THEN CAST({e} AS DOUBLE)"
            f" * ln(CAST({e} AS DOUBLE)) ELSE 0.0 END)"
        )

    _k11, _k12 = "sp.c_bg", "r1 - sp.c_bg"
    _k21, _k22 = "c1 - sp.c_bg", "nn - r1 - c1 + sp.c_bg"
    q["llr1_dunning_collocations"] = f"""
        WITH t AS (SELECT {_TOKS} AS l FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT l[r.i] || chr(1) || l[r.i + 1] AS bg
          FROM t, UNNEST(range(1, len(l))) AS r(i)
          WHERE len(l) >= 2
        ),
        bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_bg FROM g GROUP BY 1),
        sp AS (
          SELECT string_split(bg, chr(1))[1] AS w1,
                 string_split(bg, chr(1))[2] AS w2, c_bg
          FROM bc
        ),
        fm AS (SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS r1 FROM sp GROUP BY 1),
        sm AS (SELECT w2, CAST(SUM(c_bg) AS BIGINT) AS c1 FROM sp GROUP BY 1),
        nb AS (SELECT CAST(SUM(c_bg) AS BIGINT) AS nn FROM sp)
        SELECT sp.w1, sp.w2, CAST(sp.c_bg AS BIGINT) AS c_bigram,
               round(2.0 * ({_xlx(_k11)} + {_xlx(_k12)} + {_xlx(_k21)}
                     + {_xlx(_k22)} - {_xlx("r1")} - {_xlx("nn - r1")}
                     - {_xlx("c1")} - {_xlx("nn - c1")} + {_xlx("nn")}),
                     6) + 0.0 AS llr
        FROM sp JOIN fm USING (w1) JOIN sm USING (w2) CROSS JOIN nb
        WHERE sp.c_bg >= 5
        ORDER BY llr DESC, w1, w2
        LIMIT 20
    """

    # dpn1: two-sided geometric noise drawn as the DIFFERENCE of two
    # trailing-ones counts of md5-derived integers — pure integer ops,
    # bit-identical across engines; CHR(1) sentinels keep NULL cells
    q["dpn1_dp_noisy_counts"] = """
        WITH cells AS (
          SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS true_n
          FROM documents GROUP BY source, lang
        ),
        h AS (
          SELECT source, lang, true_n,
                 ('0x' || substr(md5(concat_ws('|', 'dpn1',
                      COALESCE(source, chr(1)), COALESCE(lang, chr(1)), 'a')),
                      1, 15))::BIGINT AS ha,
                 ('0x' || substr(md5(concat_ws('|', 'dpn1',
                      COALESCE(source, chr(1)), COALESCE(lang, chr(1)), 'b')),
                      1, 15))::BIGINT AS hb
          FROM cells
        ),
        n AS (
          SELECT source, lang, true_n,
                 CAST((bit_count(xor(ha, ha + 1)) - 1)
                      - (bit_count(xor(hb, hb + 1)) - 1) AS BIGINT) AS noise
          FROM h
        )
        SELECT source, lang, true_n, noise,
               CAST(true_n + noise AS BIGINT) AS noisy_n,
               CAST(greatest(true_n + noise, 0) AS BIGINT) AS released_n
        FROM n
        ORDER BY source NULLS FIRST, lang NULLS FIRST
    """

    # delta1: dense |sources|·m grid (0-count cells are real
    # observations); nano-per-mille frequencies, micro-unit deviation
    # and |z|-difference sums (order-free); every double tree mirrored
    q["delta1_burrows_delta"] = f"""
        WITH t AS (
          SELECT source, {_TOKS} AS l FROM documents
          WHERE text IS NOT NULL AND source IS NOT NULL
        ),
        tk AS (
          SELECT source, tok FROM (SELECT source, unnest(l) AS tok FROM t)
          WHERE tok <> ''
        ),
        cnt AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM tk GROUP BY 1, 2
        ),
        topm AS (
          SELECT tok FROM (
            SELECT tok, CAST(SUM(c) AS BIGINT) AS ctot FROM cnt GROUP BY tok
          ) ORDER BY ctot DESC, tok LIMIT 25
        ),
        tot AS (
          SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY source
        ),
        gfi AS (
          SELECT tt.source, m.tok,
                 CAST(round(COALESCE(c.c, 0)::DOUBLE * 1000.0 / tt.t::DOUBLE
                      * 1e9) AS BIGINT) AS fi
          FROM tot tt CROSS JOIN topm m
          LEFT JOIN cnt c ON c.source = tt.source AND c.tok = m.tok
        ),
        ms AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS s,
                 CAST(SUM(fi) AS BIGINT) AS sfi
          FROM gfi GROUP BY tok
        ),
        g2 AS (
          SELECT g.source, g.tok, g.fi, ms.s, ms.sfi,
                 CAST(round((g.fi::DOUBLE / 1e9
                        - ms.sfi::DOUBLE / ms.s::DOUBLE / 1e9)
                      * (g.fi::DOUBLE / 1e9
                         - ms.sfi::DOUBLE / ms.s::DOUBLE / 1e9)
                      * 1e6) AS BIGINT) AS d2i
          FROM gfi g JOIN ms ON g.tok = ms.tok
        ),
        vs AS (
          SELECT tok, CAST(SUM(d2i) AS BIGINT) AS sd2 FROM g2 GROUP BY tok
        ),
        z AS (
          SELECT g2.source, g2.tok,
                 (g2.fi::DOUBLE / 1e9 - g2.sfi::DOUBLE / g2.s::DOUBLE / 1e9)
                 / sqrt(vs.sd2::DOUBLE / g2.s::DOUBLE / 1e6) AS z
          FROM g2 JOIN vs ON g2.tok = vs.tok
          WHERE vs.sd2::DOUBLE / g2.s::DOUBLE / 1e6 > 0
        ),
        p AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(round(abs(a.z - b.z) * 1e6) AS BIGINT) AS zdi
          FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
        )
        SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_terms,
               round(CAST(SUM(zdi) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE / 1e6,
                     6) + 0.0 AS delta
        FROM p GROUP BY 1, 2 ORDER BY 1, 2
    """

    # zord1: NTILE bins + 8 integer bit-terms build the Morton key;
    # per-file spans ride micro-unit long sums; three layouts share
    # one scan relation
    _zexpr = " + ".join(
        f"((((bx - 1) >> {i}) & 1) << {2 * i})"
        f" + ((((by - 1) >> {i}) & 1) << {2 * i + 1})"
        for i in range(4)
    )

    def _zspan(name: str, fcol: str) -> str:
        return f"""
        SELECT '{name}' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(CASE WHEN gx1 > gx0
                    THEN CAST(round((mxx - mnx)::DOUBLE / (gx1 - gx0)::DOUBLE
                         * 1e6) AS BIGINT) ELSE 0 END) AS BIGINT) AS sx,
               CAST(SUM(CASE WHEN gy1 > gy0
                    THEN CAST(round((mxy - mny)::DOUBLE / (gy1 - gy0)::DOUBLE
                         * 1e6) AS BIGINT) ELSE 0 END) AS BIGINT) AS sy
        FROM (SELECT {fcol} AS fid, MIN(x) AS mnx, MAX(x) AS mxx,
                     MIN(y) AS mny, MAX(y) AS mxy
              FROM f GROUP BY {fcol}) CROSS JOIN g
        """

    q["zord1_zorder_layout"] = f"""
        WITH base AS (
          SELECT CAST(l_quantity AS BIGINT) AS x,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
                 l_orderkey AS okey, l_linenumber AS lno
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        ),
        b AS (
          SELECT x, y, okey, lno,
                 NTILE(16) OVER (ORDER BY x, okey, lno) AS bx,
                 NTILE(16) OVER (ORDER BY y, okey, lno) AS by
          FROM base
        ),
        zt AS (
          SELECT x, y, okey, lno, CAST({_zexpr} AS BIGINT) AS z FROM b
        ),
        f AS (
          SELECT x, y,
                 NTILE(64) OVER (ORDER BY z, x, y, okey, lno) AS fz,
                 NTILE(64) OVER (ORDER BY x, y, okey, lno) AS fx,
                 NTILE(64) OVER (ORDER BY y, x, okey, lno) AS fy
          FROM zt
        ),
        g AS (
          SELECT MIN(x) AS gx0, MAX(x) AS gx1, MIN(y) AS gy0, MAX(y) AS gy1
          FROM zt
        ),
        spans AS (
          {_zspan("zorder", "fz")}
          UNION ALL
          {_zspan("by_qty", "fx")}
          UNION ALL
          {_zspan("by_price", "fy")}
        )
        SELECT layout, n_files,
               round(sx::DOUBLE / n_files::DOUBLE / 1e6, 6) + 0.0
                 AS avg_span_qty,
               round(sy::DOUBLE / n_files::DOUBLE / 1e6, 6) + 0.0
                 AS avg_span_price
        FROM spans
        ORDER BY layout
    """

    # dw1: the mean cancels in the numerator, so squared lag-1 diffs
    # are exact longs in DECIMAL(38,0); denominator is one double
    # expression of exact stats
    q["dw1_durbin_watson"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        st AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
        spine AS (
          SELECT r.s::DATE AS day
          FROM st, UNNEST(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                          INTERVAL 1 DAY)) AS r(s)
        ),
        filled AS (
          SELECT s.day, COALESCE(d.c, 0)::BIGINT AS c
          FROM spine s LEFT JOIN daily d USING (day)
        ),
        stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS t,
                 CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS ssq
          FROM filled
        ),
        num AS (
          SELECT CAST(SUM(CAST((b.c - a.c) * (b.c - a.c) AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS num
          FROM filled a JOIN filled b ON b.day = a.day + INTERVAL 1 DAY
        )
        SELECT n AS n_days,
               round(num::DOUBLE
                     / (ssq::DOUBLE - n::DOUBLE * (t::DOUBLE / n::DOUBLE)
                        * (t::DOUBLE / n::DOUBLE)), 6) + 0.0 AS dw_stat,
               round(1.0 - num::DOUBLE
                     / (ssq::DOUBLE - n::DOUBLE * (t::DOUBLE / n::DOUBLE)
                        * (t::DOUBLE / n::DOUBLE)) / 2.0, 6) + 0.0
                 AS rho1_approx
        FROM num CROSS JOIN stats
        WHERE n >= 2
          AND (ssq::DOUBLE - n::DOUBLE * (t::DOUBLE / n::DOUBLE)
               * (t::DOUBLE / n::DOUBLE)) > 0
    """

    # runs1: exact nearest-rank median by integer cumulative-rank
    # comparison; R and both side counts exact longs; the z guard
    # keeps both engines off the 0/0 path
    q["runs1_runs_test"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        st AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
        spine AS (
          SELECT r.s::DATE AS day
          FROM st, UNNEST(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                          INTERVAL 1 DAY)) AS r(s)
        ),
        filled AS (
          SELECT s.day, COALESCE(d.c, 0)::BIGINT AS c
          FROM spine s LEFT JOIN daily d USING (day)
        ),
        na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM filled),
        med AS (
          SELECT c AS med FROM (
            SELECT g.c, SUM(g.cnt) OVER (ORDER BY g.c) AS cum, na.n_all
            FROM (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM filled GROUP BY c) g
            CROSS JOIN na
          )
          WHERE cum >= (n_all + 1) // 2
          ORDER BY c LIMIT 1
        ),
        ranked AS (
          SELECT day, s, ROW_NUMBER() OVER (ORDER BY day) AS rn
          FROM (
            SELECT day, CASE WHEN c > med THEN 1 ELSE 0 END AS s
            FROM filled CROSS JOIN med WHERE c != med
          )
        ),
        chg AS (
          SELECT CAST(SUM(CASE WHEN a.s != b.s THEN 1 ELSE 0 END) AS BIGINT)
                   AS chg
          FROM ranked a JOIN ranked b ON b.rn = a.rn + 1
        ),
        cnts AS (
          SELECT CAST(SUM(s) AS BIGINT) AS n1,
                 CAST(SUM(1 - s) AS BIGINT) AS n2
          FROM ranked
        )
        SELECT CAST(n1 + n2 AS BIGINT) AS n_days_used,
               n1 AS n_above, n2 AS n_below,
               CAST(COALESCE(chg, 0) + 1 AS BIGINT) AS n_runs,
               CASE WHEN n1 > 0 AND n2 > 0
                     AND (2.0 * n1::DOUBLE * n2::DOUBLE
                          * (2.0 * n1::DOUBLE * n2::DOUBLE
                             - n1::DOUBLE - n2::DOUBLE)
                          / ((n1::DOUBLE + n2::DOUBLE)
                             * (n1::DOUBLE + n2::DOUBLE)
                             * (n1::DOUBLE + n2::DOUBLE - 1.0))) > 0
                    THEN round(((COALESCE(chg, 0) + 1)::DOUBLE
                         - (2.0 * n1::DOUBLE * n2::DOUBLE
                            / (n1::DOUBLE + n2::DOUBLE) + 1.0))
                         / sqrt(2.0 * n1::DOUBLE * n2::DOUBLE
                            * (2.0 * n1::DOUBLE * n2::DOUBLE
                               - n1::DOUBLE - n2::DOUBLE)
                            / ((n1::DOUBLE + n2::DOUBLE)
                               * (n1::DOUBLE + n2::DOUBLE)
                               * (n1::DOUBLE + n2::DOUBLE - 1.0))), 6) + 0.0
               END AS z_approx
        FROM chg CROSS JOIN cnts
        WHERE COALESCE(n1 + n2, 0) > 0
    """

    # welch1: DECIMAL(38,0) sufficient stats; means/variances/t/df are
    # one double tree mirrored from the Spark plan; top-2 selection by
    # (n DESC, source) row number
    q["welch1_source_welch_t"] = """
        WITH base AS (
          SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
          WHERE source IS NOT NULL AND n_chars IS NOT NULL
        ),
        stats AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
                 CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS ssq
          FROM base GROUP BY source
        ),
        rk AS (
          SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, source) AS rn
          FROM stats
        ),
        a AS (SELECT source AS source_a, n AS na, s AS suma, ssq AS ssqa
              FROM rk WHERE rn = 1),
        b AS (SELECT source AS source_b, n AS nb, s AS sumb, ssq AS ssqb
              FROM rk WHERE rn = 2),
        e AS (
          SELECT source_a, source_b, na, nb,
                 suma::DOUBLE / na::DOUBLE AS ma,
                 sumb::DOUBLE / nb::DOUBLE AS mb,
                 (ssqa::DOUBLE - na::DOUBLE * (suma::DOUBLE / na::DOUBLE)
                  * (suma::DOUBLE / na::DOUBLE)) / (na::DOUBLE - 1.0) AS va,
                 (ssqb::DOUBLE - nb::DOUBLE * (sumb::DOUBLE / nb::DOUBLE)
                  * (sumb::DOUBLE / nb::DOUBLE)) / (nb::DOUBLE - 1.0) AS vb
          FROM a CROSS JOIN b
        )
        SELECT source_a, source_b, na AS n_a, nb AS n_b,
               round(ma, 6) + 0.0 AS mean_a,
               round(mb, 6) + 0.0 AS mean_b,
               CASE WHEN na >= 2 AND nb >= 2
                     AND (va / na::DOUBLE + vb / nb::DOUBLE) > 0
                    THEN round((ma - mb)
                         / sqrt(va / na::DOUBLE + vb / nb::DOUBLE), 6) + 0.0
               END AS t_stat,
               CASE WHEN na >= 2 AND nb >= 2
                     AND (va / na::DOUBLE + vb / nb::DOUBLE) > 0
                    THEN round((va / na::DOUBLE + vb / nb::DOUBLE)
                         * (va / na::DOUBLE + vb / nb::DOUBLE)
                         / ((va / na::DOUBLE) * (va / na::DOUBLE)
                            / (na::DOUBLE - 1.0)
                            + (vb / nb::DOUBLE) * (vb / nb::DOUBLE)
                              / (nb::DOUBLE - 1.0)), 6) + 0.0
               END AS df_welch
        FROM e
    """

    # mwu1: doubled ranks keep U2 = R2_a - na*(na+1) an exact long;
    # effect size and tie-corrected z as rounded doubles of exact ints
    q["mwu1_mann_whitney"] = """
        WITH base AS (
          SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
          WHERE source IS NOT NULL AND n_chars IS NOT NULL
        ),
        sizes AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n
          FROM base GROUP BY source
        ),
        rk AS (
          SELECT source, ROW_NUMBER() OVER (ORDER BY n DESC, source) AS rn
          FROM sizes
        ),
        sel AS (
          SELECT MAX(CASE WHEN rn = 1 THEN source END) AS sa,
                 MAX(CASE WHEN rn = 2 THEN source END) AS sb
          FROM rk WHERE rn <= 2
        ),
        pool AS (
          SELECT source, x FROM base CROSS JOIN sel
          WHERE source IN (sa, sb)
        ),
        g AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM pool GROUP BY x),
        r AS (
          SELECT x, CAST(2 * (SUM(cnt) OVER (ORDER BY x) - cnt) + cnt + 1
                         AS BIGINT) AS r2
          FROM g
        ),
        per AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(r2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS r2s
          FROM pool JOIN r USING (x) GROUP BY source
        ),
        ties AS (
          SELECT CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))
                          * CAST(cnt AS DECIMAL(38,0))
                          - CAST(cnt AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tie3
          FROM g
        ),
        a AS (
          SELECT per.source AS source_a, n AS na,
                 CAST(CAST(r2s AS BIGINT) - n * (n + 1) AS BIGINT) AS u2
          FROM per CROSS JOIN sel WHERE per.source = sa
        ),
        b AS (
          SELECT per.source AS source_b, n AS nb
          FROM per CROSS JOIN sel WHERE per.source = sb
        )
        SELECT source_a, source_b, na AS n_a, nb AS n_b,
               round(u2::DOUBLE / 2.0, 6) + 0.0 AS u_stat,
               round(1.0 - u2::DOUBLE / (na::DOUBLE * nb::DOUBLE), 6) + 0.0
                 AS rank_biserial,
               CASE WHEN (na::DOUBLE * nb::DOUBLE / 12.0
                          * (((na::DOUBLE + nb::DOUBLE) + 1.0)
                             - tie3::DOUBLE / ((na::DOUBLE + nb::DOUBLE)
                                * ((na::DOUBLE + nb::DOUBLE) - 1.0)))) > 0
                    THEN round((u2::DOUBLE / 2.0
                         - na::DOUBLE * nb::DOUBLE / 2.0)
                         / sqrt(na::DOUBLE * nb::DOUBLE / 12.0
                            * (((na::DOUBLE + nb::DOUBLE) + 1.0)
                               - tie3::DOUBLE / ((na::DOUBLE + nb::DOUBLE)
                                  * ((na::DOUBLE + nb::DOUBLE) - 1.0)))),
                         6) + 0.0
               END AS z_approx
        FROM a CROSS JOIN b CROSS JOIN ties
    """

    # qq1: exact nearest-rank deciles by integer cumulative-rank
    # comparison ((q*N + 99) // 100 thresholds, pctl2 discipline)
    q["qq1_source_length_qq"] = """
        WITH base AS (
          SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
          WHERE source IS NOT NULL AND n_chars IS NOT NULL
        ),
        sizes AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n
          FROM base GROUP BY source
        ),
        rk AS (
          SELECT source, n, ROW_NUMBER() OVER (ORDER BY n DESC, source) AS rn
          FROM sizes
        ),
        sel AS (
          SELECT MAX(CASE WHEN rn = 1 THEN source END) AS sa,
                 MAX(CASE WHEN rn = 1 THEN n END) AS na,
                 MAX(CASE WHEN rn = 2 THEN source END) AS sb,
                 MAX(CASE WHEN rn = 2 THEN n END) AS nb
          FROM rk WHERE rn <= 2
        ),
        deciles AS (
          SELECT CAST(r.q * 10 AS BIGINT) AS decile
          FROM UNNEST(range(1, 10)) AS r(q)
        ),
        ga AS (
          SELECT x, SUM(cnt) OVER (ORDER BY x) AS cum FROM (
            SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM base CROSS JOIN sel WHERE source = sa GROUP BY x
          )
        ),
        gb AS (
          SELECT x, SUM(cnt) OVER (ORDER BY x) AS cum FROM (
            SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM base CROSS JOIN sel WHERE source = sb GROUP BY x
          )
        ),
        pa AS (
          SELECT decile, CAST(MIN(x) AS BIGINT) AS val_a
          FROM ga CROSS JOIN deciles CROSS JOIN sel
          WHERE cum >= (decile * na + 99) // 100 GROUP BY decile
        ),
        pb AS (
          SELECT decile, CAST(MIN(x) AS BIGINT) AS val_b
          FROM gb CROSS JOIN deciles CROSS JOIN sel
          WHERE cum >= (decile * nb + 99) // 100 GROUP BY decile
        )
        SELECT decile, val_a, val_b,
               CAST(val_b - val_a AS BIGINT) AS diff,
               CASE WHEN val_a != 0
                    THEN round(val_b::DOUBLE / val_a::DOUBLE, 6) + 0.0
               END AS ratio
        FROM pa JOIN pb USING (decile)
        ORDER BY decile
    """

    # cdc1: md5_60 boundary classes cut chunks; chunk identity is md5
    # of the pos-ordered token join; windows are doc-bounded
    q["cdc1_chunk_dedup"] = f"""
        WITH t AS (
          SELECT doc_id, source, {_TOKS} AS l FROM documents
          WHERE text IS NOT NULL
        ),
        tok AS (
          SELECT doc_id, source, r.i AS pos, l[r.i] AS tok
          FROM t, UNNEST(range(1, len(l) + 1)) AS r(i)
          WHERE l[r.i] <> ''
        ),
        b AS (
          SELECT doc_id, source, pos, tok,
                 CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT % 16 = 0
                      THEN 1 ELSE 0 END AS bd
          FROM tok
        ),
        c AS (
          SELECT doc_id, source, pos, tok,
                 COALESCE(SUM(bd) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS cid
          FROM b
        ),
        ch AS (
          SELECT doc_id, source, cid,
                 CAST(COUNT(*) AS BIGINT) AS n_tok,
                 md5(string_agg(tok, ' ' ORDER BY pos)) AS h
          FROM c GROUP BY doc_id, source, cid
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
               round(1.0 - COUNT(DISTINCT h)::DOUBLE / COUNT(*)::DOUBLE, 6)
                 + 0.0 AS dup_share,
               round(CAST(SUM(n_tok) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE, 6)
                 + 0.0 AS mean_chunk_tokens
        FROM ch GROUP BY source
        ORDER BY source NULLS FIRST
    """

    # mk1: S and the tie term are exact integers; Var(S) and the
    # continuity-corrected z are single rounded doubles; z = 0 is its
    # own branch (no 0/sigma asymmetry)
    q["mk1_mann_kendall"] = """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        st AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
        spine AS (
          SELECT r.s::DATE AS day,
                 CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS nd
          FROM st, UNNEST(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                          INTERVAL 1 DAY)) AS r(s)
        ),
        filled AS (
          SELECT s.day, s.nd, COALESCE(d.c, 0)::BIGINT AS c
          FROM spine s LEFT JOIN daily d USING (day)
        ),
        nr AS (SELECT CAST(MAX(nd) AS BIGINT) AS n FROM filled),
        sa AS (
          SELECT CAST(SUM(CAST(sign(b.c - a.c) AS BIGINT)) AS BIGINT) AS s
          FROM filled a JOIN filled b ON a.day < b.day
        ),
        ties AS (
          SELECT CAST(SUM(CAST(t AS DECIMAL(38,0))
                      * (CAST(t AS DECIMAL(38,0)) - CAST(1 AS DECIMAL(38,0)))
                      * (CAST(2 AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
                         + CAST(5 AS DECIMAL(38,0)))) AS DECIMAL(38,0))
                   AS tie_term
          FROM (SELECT c, CAST(COUNT(*) AS BIGINT) AS t
                FROM filled GROUP BY c)
        )
        SELECT n AS n_days,
               CAST(COALESCE(s, 0) AS BIGINT) AS s_stat,
               CASE WHEN COALESCE(s, 0) = 0 THEN 0.0
                    WHEN (n::DOUBLE * (n::DOUBLE - 1.0)
                          * (2.0 * n::DOUBLE + 5.0)
                          - tie_term::DOUBLE) / 18.0 > 0
                    THEN round((COALESCE(s, 0)::DOUBLE
                         - sign(COALESCE(s, 0)::DOUBLE))
                         / sqrt((n::DOUBLE * (n::DOUBLE - 1.0)
                            * (2.0 * n::DOUBLE + 5.0)
                            - tie_term::DOUBLE) / 18.0), 6) + 0.0
               END AS z_mk,
               CASE WHEN COALESCE(s, 0) > 0 THEN 'increasing'
                    WHEN COALESCE(s, 0) < 0 THEN 'decreasing'
                    ELSE 'none' END AS direction
        FROM sa CROSS JOIN nr CROSS JOIN ties
        WHERE n >= 2
    """

    # lev1: per-source exact nearest-rank medians by integer
    # cumulative comparison over the (source, length) grid; ANOVA on
    # |x - med| with anova1's micro-unit discipline
    q["lev1_brown_forsythe"] = """
        WITH base AS (
          SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
          WHERE source IS NOT NULL AND n_chars IS NOT NULL
        ),
        gv AS (
          SELECT source, x, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM base GROUP BY source, x
        ),
        cum AS (
          SELECT source, x, cnt,
                 CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum,
                 CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS ntot
          FROM gv
        ),
        med AS (
          SELECT source, CAST(MIN(x) AS BIGINT) AS med
          FROM cum WHERE cum * 2 >= ntot + 1 GROUP BY source
        ),
        devs AS (
          SELECT b.source, CAST(abs(b.x - m.med) AS BIGINT) AS z
          FROM base b JOIN med m ON b.source = m.source
        ),
        per AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS nj,
                 CAST(SUM(CAST(z AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sj,
                 CAST(SUM(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS ssj
          FROM devs GROUP BY source
        ),
        gstats AS (
          SELECT CAST(SUM(nj) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(sj) AS DECIMAL(38,0)) AS s,
                 CAST(SUM(ssj) AS DECIMAL(38,0)) AS ssq
          FROM per
        ),
        summed AS (
          SELECT CAST(SUM(CAST(round(
                   (nj::DOUBLE / n::DOUBLE)
                   * (sj::DOUBLE / nj::DOUBLE - s::DOUBLE / n::DOUBLE)
                   * (sj::DOUBLE / nj::DOUBLE - s::DOUBLE / n::DOUBLE)
                   * 1e6) AS BIGINT)) AS BIGINT) AS ssb_micro
          FROM per CROSS JOIN gstats
        )
        SELECT n AS n_docs, k AS k_sources,
               CASE WHEN (ssq::DOUBLE / n::DOUBLE
                          - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE)
                          - ssb_micro::DOUBLE / 1e6) > 0
                    THEN round((n::DOUBLE - k::DOUBLE) / (k::DOUBLE - 1.0)
                         * (ssb_micro::DOUBLE / 1e6)
                         / (ssq::DOUBLE / n::DOUBLE
                            - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE)
                            - ssb_micro::DOUBLE / 1e6), 6) + 0.0
               END AS f_bf
        FROM summed CROSS JOIN gstats
        WHERE k >= 2 AND n > k
    """

    # evt1: the Gumbel constants ship as PRECOMPUTED double literals
    # (repr round-trips the exact IEEE value) so neither engine's libm
    # is on the parity path; weekly maxima exact longs, suff stats
    # DECIMAL(38,0), one mirrored double tree
    import math as _math

    _gam = repr(0.5772156649015329)
    _sq6 = repr(_math.sqrt(6.0))
    _pi = repr(_math.pi)
    _c26 = repr(_math.log(-_math.log(1.0 - 1.0 / 26.0)))
    _c52 = repr(_math.log(-_math.log(1.0 - 1.0 / 52.0)))
    q["evt1_gumbel_return_levels"] = f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        st AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
        spine AS (
          SELECT r.s::DATE AS day
          FROM st, UNNEST(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                          INTERVAL 1 DAY)) AS r(s)
        ),
        filled AS (
          SELECT s.day, COALESCE(d.c, 0)::BIGINT AS c
          FROM spine s LEFT JOIN daily d USING (day)
        ),
        weekly AS (
          SELECT date_trunc('week', day)::DATE AS week,
                 CAST(MAX(c) AS BIGINT) AS m
          FROM filled GROUP BY 1
        ),
        stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS nw,
                 CAST(SUM(CAST(m AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sm,
                 CAST(SUM(CAST(m AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS smm
          FROM weekly
        ),
        e AS (
          SELECT nw, sm::DOUBLE / nw::DOUBLE AS mean,
                 (smm::DOUBLE - nw::DOUBLE * (sm::DOUBLE / nw::DOUBLE)
                  * (sm::DOUBLE / nw::DOUBLE)) / (nw::DOUBLE - 1.0) AS var
          FROM stats WHERE nw >= 2
        )
        SELECT nw AS n_weeks,
               round(mean, 6) + 0.0 AS mean_weekly_max,
               CASE WHEN var > 0
                    THEN round(mean - {_gam} * (sqrt(var) * {_sq6} / {_pi}),
                               6) + 0.0 END AS gumbel_mu,
               CASE WHEN var > 0
                    THEN round(sqrt(var) * {_sq6} / {_pi}, 6) + 0.0
               END AS gumbel_beta,
               CASE WHEN var > 0
                    THEN round((mean - {_gam} * (sqrt(var) * {_sq6} / {_pi}))
                         - (sqrt(var) * {_sq6} / {_pi}) * {_c26}, 6) + 0.0
               END AS ret_26w,
               CASE WHEN var > 0
                    THEN round((mean - {_gam} * (sqrt(var) * {_sq6} / {_pi}))
                         - (sqrt(var) * {_sq6} / {_pi}) * {_c52}, 6) + 0.0
               END AS ret_52w
        FROM e
    """

    # key1: llr1's x*ln(x) tree over the token-in-source vs rest 2x2;
    # direction by integer cross-multiplication; rank on the rounded
    # score with a token tiebreak
    _kk11, _kk12 = "c", "ts - c"
    _kk21, _kk22 = "ct - c", "nn - ts - ct + c"
    q["key1_source_keyness"] = f"""
        WITH t AS (
          SELECT source, {_TOKS} AS l FROM documents
          WHERE text IS NOT NULL AND source IS NOT NULL
        ),
        tk AS (
          SELECT source, tok FROM (SELECT source, unnest(l) AS tok FROM t)
          WHERE tok <> ''
        ),
        cnt AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM tk GROUP BY 1, 2
        ),
        ts_ AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ts
                FROM cnt GROUP BY source),
        ct_ AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS ct
                FROM cnt GROUP BY tok),
        nt AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cnt),
        cand AS (
          SELECT cnt.source, cnt.tok, c, ts, ct, nn
          FROM cnt JOIN ts_ USING (source) JOIN ct_ USING (tok) CROSS JOIN nt
          WHERE c >= 5
        ),
        scored AS (
          SELECT source, tok, c AS c_in, CAST(ct - c AS BIGINT) AS c_rest,
                 round(2.0 * ({_xlx(_kk11)} + {_xlx(_kk12)} + {_xlx(_kk21)}
                       + {_xlx(_kk22)} - {_xlx("ts")} - {_xlx("nn - ts")}
                       - {_xlx("ct")} - {_xlx("nn - ct")} + {_xlx("nn")}),
                       6) + 0.0 AS keyness,
                 CASE WHEN c * nn > ct * ts THEN 'over' ELSE 'under' END
                   AS direction
          FROM cand
        ),
        rk AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY keyness DESC, tok) AS rank
          FROM scored
        )
        SELECT source, CAST(rank AS BIGINT) AS rank, tok, c_in, c_rest,
               keyness, direction
        FROM rk WHERE rank <= 10
        ORDER BY source, rank
    """

    # srm1: densified 3-row split spine (an empty split is the worst
    # SRM, never a missing row); chi2 terms sum as micro-unit longs
    q["srm1_split_ratio_mismatch"] = """
        WITH spine AS (SELECT unnest(['train', 'val', 'test']) AS split),
        g AS (
          SELECT CASE
            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 100 < 80 THEN 'train'
            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
          FROM documents
        ),
        oc AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY split),
        obs AS (
          SELECT s.split, COALESCE(oc.c, 0)::BIGINT AS n_obs
          FROM spine s LEFT JOIN oc USING (split)
        ),
        tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
        j AS (
          SELECT split, n_obs, n,
                 CASE WHEN split = 'train' THEN 0.8
                      WHEN split = 'val' THEN 0.1 ELSE 0.1 END AS p
          FROM obs CROSS JOIN tot
        ),
        chi AS (
          SELECT CAST(SUM(CASE WHEN n::DOUBLE * p > 0
                   THEN CAST(round((n_obs::DOUBLE - n::DOUBLE * p)
                        * (n_obs::DOUBLE - n::DOUBLE * p)
                        / (n::DOUBLE * p) * 1e6) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS chi2_micro
          FROM j
        )
        SELECT split, n_obs,
               round(n::DOUBLE * p, 6) + 0.0 AS n_expected,
               CASE WHEN n::DOUBLE * p > 0 AND p < 1
                    THEN round((n_obs::DOUBLE - n::DOUBLE * p)
                         / sqrt(n::DOUBLE * p * (1.0 - p)), 6) + 0.0
               END AS z,
               round(chi2_micro::DOUBLE / 1e6, 6) + 0.0 AS chi2_total
        FROM j CROSS JOIN chi
        ORDER BY split
    """

    # ess1: Kish ESS from DECIMAL sufficient stats; weights floored
    # at 1 per samp2's convention
    q["ess1_length_weight_ess"] = """
        WITH per AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sw,
                 CAST(SUM(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS sww
          FROM (SELECT source, greatest(CAST(n_chars AS BIGINT), 1) AS w
                FROM documents WHERE n_chars IS NOT NULL)
          GROUP BY source
        )
        SELECT source, n_docs,
               round(sw::DOUBLE * sw::DOUBLE / sww::DOUBLE, 6) + 0.0 AS ess,
               round(sw::DOUBLE * sw::DOUBLE / sww::DOUBLE / n_docs::DOUBLE, 6)
                 + 0.0 AS ess_ratio
        FROM per ORDER BY source NULLS FIRST
    """

    # jk1: each leave-one-out mean is closed-form from sufficient
    # stats; replicate means and squared deviations ride micro-unit
    # longs before the SE expression
    q["jk1_source_jackknife"] = """
        WITH base AS (
          SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
          WHERE source IS NOT NULL AND n_chars IS NOT NULL
        ),
        per AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS nj,
                 CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sj
          FROM base GROUP BY source
        ),
        gs AS (
          SELECT CAST(SUM(nj) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(sj) AS DECIMAL(38,0)) AS s
          FROM per
        ),
        j AS (
          SELECT source, nj, n, k, s,
                 CAST(round((s::DOUBLE - sj::DOUBLE) / (n - nj)::DOUBLE * 1e6)
                      AS BIGINT) AS loo_micro
          FROM per CROSS JOIN gs WHERE k >= 2 AND n > nj
        ),
        ms AS (
          SELECT CAST(SUM(loo_micro) AS BIGINT) AS sl,
                 CAST(COUNT(*) AS BIGINT) AS kk
          FROM j
        ),
        sa AS (
          SELECT CAST(SUM(CAST(round((loo_micro::DOUBLE / 1e6
                      - sl::DOUBLE / kk::DOUBLE / 1e6)
                      * (loo_micro::DOUBLE / 1e6
                         - sl::DOUBLE / kk::DOUBLE / 1e6)
                      * 1e6) AS BIGINT)) AS BIGINT) AS sd2,
                 CAST(MAX(kk) AS BIGINT) AS kk
          FROM j CROSS JOIN ms
        ),
        ser AS (
          SELECT CASE WHEN kk::DOUBLE >= 2
                 THEN round(sqrt((kk::DOUBLE - 1.0) / kk::DOUBLE
                      * (sd2::DOUBLE / 1e6)), 6) + 0.0 END AS jack_se
          FROM sa
        )
        SELECT source, nj AS n_docs,
               round(loo_micro::DOUBLE / 1e6, 6) + 0.0 AS loo_mean,
               round(loo_micro::DOUBLE / 1e6 - s::DOUBLE / n::DOUBLE, 6) + 0.0
                 AS influence,
               jack_se
        FROM j CROSS JOIN ser
        ORDER BY source
    """

    # prop1: weekend predicate spelled natively per engine but
    # semantically identical (Sat/Sun); z2 = 1.96^2 ships as the same
    # Python-product literal both engines parse to one double
    _z2 = repr(1.96 * 1.96)
    q["prop1_weekend_conversion"] = f"""
        WITH base AS (
          SELECT ts, event_type FROM events
          WHERE ts IS NOT NULL AND event_type IS NOT NULL
        ),
        agg AS (
          SELECT CAST(SUM(CASE WHEN isodow(ts) IN (6, 7) THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_we,
                 CAST(SUM(CASE WHEN isodow(ts) IN (6, 7)
                      AND event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS x_we,
                 CAST(SUM(CASE WHEN isodow(ts) NOT IN (6, 7) THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_wd,
                 CAST(SUM(CASE WHEN isodow(ts) NOT IN (6, 7)
                      AND event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS x_wd
          FROM base
        )
        SELECT n_we AS n_weekend, x_we AS conv_weekend,
               round(x_we::DOUBLE / n_we::DOUBLE, 6) + 0.0 AS rate_weekend,
               round((x_we::DOUBLE / n_we::DOUBLE
                      + {_z2} / (2.0 * n_we::DOUBLE)
                      - 1.96 * sqrt(x_we::DOUBLE / n_we::DOUBLE
                        * (1.0 - x_we::DOUBLE / n_we::DOUBLE) / n_we::DOUBLE
                        + {_z2} / (4.0 * n_we::DOUBLE * n_we::DOUBLE)))
                     / (1.0 + {_z2} / n_we::DOUBLE), 6) + 0.0
                 AS wilson_lo_weekend,
               round((x_we::DOUBLE / n_we::DOUBLE
                      + {_z2} / (2.0 * n_we::DOUBLE)
                      + 1.96 * sqrt(x_we::DOUBLE / n_we::DOUBLE
                        * (1.0 - x_we::DOUBLE / n_we::DOUBLE) / n_we::DOUBLE
                        + {_z2} / (4.0 * n_we::DOUBLE * n_we::DOUBLE)))
                     / (1.0 + {_z2} / n_we::DOUBLE), 6) + 0.0
                 AS wilson_hi_weekend,
               n_wd AS n_weekday, x_wd AS conv_weekday,
               round(x_wd::DOUBLE / n_wd::DOUBLE, 6) + 0.0 AS rate_weekday,
               round((x_wd::DOUBLE / n_wd::DOUBLE
                      + {_z2} / (2.0 * n_wd::DOUBLE)
                      - 1.96 * sqrt(x_wd::DOUBLE / n_wd::DOUBLE
                        * (1.0 - x_wd::DOUBLE / n_wd::DOUBLE) / n_wd::DOUBLE
                        + {_z2} / (4.0 * n_wd::DOUBLE * n_wd::DOUBLE)))
                     / (1.0 + {_z2} / n_wd::DOUBLE), 6) + 0.0
                 AS wilson_lo_weekday,
               round((x_wd::DOUBLE / n_wd::DOUBLE
                      + {_z2} / (2.0 * n_wd::DOUBLE)
                      + 1.96 * sqrt(x_wd::DOUBLE / n_wd::DOUBLE
                        * (1.0 - x_wd::DOUBLE / n_wd::DOUBLE) / n_wd::DOUBLE
                        + {_z2} / (4.0 * n_wd::DOUBLE * n_wd::DOUBLE)))
                     / (1.0 + {_z2} / n_wd::DOUBLE), 6) + 0.0
                 AS wilson_hi_weekday,
               CASE WHEN (x_we + x_wd)::DOUBLE / (n_we + n_wd)::DOUBLE > 0
                     AND (x_we + x_wd)::DOUBLE / (n_we + n_wd)::DOUBLE < 1
                    THEN round((x_we::DOUBLE / n_we::DOUBLE
                         - x_wd::DOUBLE / n_wd::DOUBLE)
                         / sqrt((x_we + x_wd)::DOUBLE / (n_we + n_wd)::DOUBLE
                            * (1.0 - (x_we + x_wd)::DOUBLE
                               / (n_we + n_wd)::DOUBLE)
                            * (1.0 / n_we::DOUBLE + 1.0 / n_wd::DOUBLE)),
                         6) + 0.0
               END AS z_two_prop
        FROM agg
        WHERE n_we > 0 AND n_wd > 0
    """

    # hub1: exact median/MAD by integer cumulative comparison; every
    # IRLS step one weighted sufficient-stats agg with micro/nano
    # terms in DECIMAL(38,0); each step's mu is the SAME double tree
    # whether collected (Spark) or computed in-query (these CTEs)
    def _hweight(mu_expr: str) -> str:
        return (
            f"(CASE WHEN abs(cents::DOUBLE / 100.0 - {mu_expr}) <= ch"
            f" THEN 1.0 ELSE ch / abs(cents::DOUBLE / 100.0 - {mu_expr})"
            f" END)"
        )

    def _hiter(prev_mu: str) -> str:
        w = _hweight(prev_mu)
        return (
            f"SELECT CAST(SUM(CAST(round({w} * (cents::DOUBLE / 100.0) * 1e6)"
            f" AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS swx,"
            f" CAST(SUM(CAST(round({w} * 1e9) AS DECIMAL(38,0)))"
            f" AS DECIMAL(38,0)) AS sw"
        )

    q["hub1_huber_robust_mean"] = f"""
        WITH v AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders WHERE o_totalprice IS NOT NULL
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
        gc AS (
          SELECT cents, SUM(cnt) OVER (ORDER BY cents) AS cum
          FROM (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM v GROUP BY cents)
        ),
        m0t AS (
          SELECT MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN cents END)
                   AS m0
          FROM gc CROSS JOIN nn
        ),
        dv AS (SELECT abs(cents - m0) AS dev FROM v CROSS JOIN m0t),
        gd AS (
          SELECT dev, SUM(cnt) OVER (ORDER BY dev) AS cum
          FROM (SELECT dev, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM dv GROUP BY dev)
        ),
        mdt AS (
          SELECT MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN dev END)
                   AS mad
          FROM gd CROSS JOIN nn
        ),
        p AS (
          SELECT m0, mad,
                 1.4826 * mad::DOUBLE / 100.0 AS sigma,
                 1.345 * (1.4826 * mad::DOUBLE / 100.0) AS ch,
                 m0::DOUBLE / 100.0 AS mu0
          FROM m0t CROSS JOIN mdt
        ),
        i1 AS ({_hiter("mu0")} FROM v CROSS JOIN p),
        m1 AS (SELECT (swx::DOUBLE / 1e6) / (sw::DOUBLE / 1e9) AS mu1 FROM i1),
        i2 AS ({_hiter("mu1")} FROM v CROSS JOIN p CROSS JOIN m1),
        m2 AS (SELECT (swx::DOUBLE / 1e6) / (sw::DOUBLE / 1e9) AS mu2 FROM i2),
        i3 AS ({_hiter("mu2")} FROM v CROSS JOIN p CROSS JOIN m2),
        m3 AS (SELECT (swx::DOUBLE / 1e6) / (sw::DOUBLE / 1e9) AS mu3 FROM i3)
        SELECT n AS n_orders,
               round(m0::DOUBLE / 100.0, 6) + 0.0 AS median,
               round(sigma, 6) + 0.0 AS sigma_robust,
               round(ch, 6) + 0.0 AS c_huber,
               round(mu0, 6) + 0.0 AS mu0,
               round(mu1, 6) + 0.0 AS mu1,
               round(mu2, 6) + 0.0 AS mu2,
               round(mu3, 6) + 0.0 AS mu3
        FROM nn CROSS JOIN p CROSS JOIN m1 CROSS JOIN m2 CROSS JOIN m3
        WHERE n > 0
    """

    # sprt1: per-day LLR terms nano-rounded BEFORE the cumulative
    # window (exact integer path); thresholds are integer nano
    # literals; the crossing is an integer/date comparison
    import math as _m2

    _l1 = repr(_m2.log(0.04 / 0.02))
    _l2 = repr(_m2.log((1.0 - 0.04) / (1.0 - 0.02)))
    _an = int(round(_m2.log((1.0 - 0.05) / 0.05) * 1e9))
    _bn = int(round(_m2.log(0.05 / (1.0 - 0.05)) * 1e9))
    q["sprt1_conversion_sprt"] = f"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      AS BIGINT) AS x
          FROM events
          WHERE ts IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1
        ),
        t AS (
          SELECT day, n, x,
                 CAST(round((x::DOUBLE * {_l1} + (n - x)::DOUBLE * {_l2})
                      * 1e9) AS BIGINT) AS t_nano
          FROM daily
        ),
        pre AS (
          SELECT day, CAST(SUM(t_nano) OVER (ORDER BY day) AS BIGINT)
                   AS llr_nano
          FROM t
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(x) AS BIGINT) AS tx,
                 CAST(SUM(t_nano) AS BIGINT) AS lt
          FROM t
        ),
        cr AS (
          SELECT day, CASE WHEN llr_nano >= {_an} THEN 'accept_h1'
                           ELSE 'accept_h0' END AS decision
          FROM pre WHERE llr_nano >= {_an} OR llr_nano <= {_bn}
          ORDER BY day LIMIT 1
        )
        SELECT n_days, tn AS total_events, tx AS total_conversions,
               round(lt::DOUBLE / 1e9, 6) + 0.0 AS final_llr,
               COALESCE(cr.decision, 'continue') AS decision,
               cr.day AS decided_day
        FROM tot LEFT JOIN cr ON TRUE
        WHERE tn > 0
    """

    # hill1: top-k on an exact integer total order; log terms
    # nano-rounded into exact long sums; alpha one rounded double
    q["hill1_tail_index"] = """
        WITH topk AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
          FROM orders WHERE o_totalprice IS NOT NULL
          ORDER BY cents DESC, o_orderkey ASC LIMIT 100
        ),
        thr AS (
          SELECT CAST(MIN(cents) AS BIGINT) AS xk,
                 CAST(COUNT(*) AS BIGINT) AS n_top
          FROM topk
        ),
        j AS (SELECT cents, xk FROM topk CROSS JOIN thr WHERE cents > xk),
        agg AS (
          SELECT CAST(SUM(CAST(round(ln(cents::DOUBLE / xk::DOUBLE) * 1e9)
                          AS BIGINT)) AS BIGINT) AS s_nano,
                 CAST(COUNT(*) AS BIGINT) AS n_exc
          FROM j
        )
        SELECT n_top AS k_used,
               xk::DOUBLE / 100.0 AS x_k_dollars,
               CAST(COALESCE(n_exc, 0) AS BIGINT) AS n_exceed,
               CASE WHEN n_exc >= 2 AND s_nano > 0
                    THEN round(1.0 / (s_nano::DOUBLE / n_exc::DOUBLE / 1e9),
                               6) + 0.0 END AS hill_alpha,
               CASE WHEN n_exc >= 2 AND s_nano > 0
                    THEN 1.0 / (s_nano::DOUBLE / n_exc::DOUBLE / 1e9) < 2.0
               END AS infinite_variance
        FROM agg CROSS JOIN thr
        WHERE n_top > 0
    """

    # tail1: both thresholds exact integer cents by cumulative-rank
    # comparison; the readout one four-counter integer reduction
    q["tail1_tail_dependence"] = """
        WITH pairs AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS y
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE o_totalprice IS NOT NULL AND c_acctbal IS NOT NULL
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs),
        gx AS (
          SELECT x, SUM(cnt) OVER (ORDER BY x) AS cum
          FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM pairs GROUP BY x)
        ),
        xqt AS (
          SELECT MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN x END) AS xq
          FROM gx CROSS JOIN nn
        ),
        gy AS (
          SELECT y, SUM(cnt) OVER (ORDER BY y) AS cum
          FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM pairs GROUP BY y)
        ),
        yqt AS (
          SELECT MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN y END) AS yq
          FROM gy CROSS JOIN nn
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN x > xq THEN 1 ELSE 0 END) AS BIGINT) AS nx,
                 CAST(SUM(CASE WHEN y > yq THEN 1 ELSE 0 END) AS BIGINT) AS ny,
                 CAST(SUM(CASE WHEN x > xq AND y > yq THEN 1 ELSE 0 END)
                      AS BIGINT) AS nj
          FROM pairs CROSS JOIN xqt CROSS JOIN yqt
        )
        SELECT n AS n_pairs,
               xq::DOUBLE / 100.0 AS x_q, yq::DOUBLE / 100.0 AS y_q,
               nx AS n_x_exceed, ny AS n_y_exceed, nj AS n_joint,
               CASE WHEN ny > 0
                    THEN round(nj::DOUBLE / ny::DOUBLE, 6) + 0.0
               END AS lambda_u,
               CASE WHEN nx > 0
                    THEN round(nj::DOUBLE / nx::DOUBLE, 6) + 0.0
               END AS p_y_given_x,
               round(nj::DOUBLE / n::DOUBLE, 6) + 0.0 AS p_joint
        FROM agg CROSS JOIN xqt CROSS JOIN yqt
        WHERE n > 0
    """

    return q
