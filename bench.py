"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing is end-to-end per query (plan + execute + drain results via a
count-collect of the full result, no driver-side row materialization
beyond the aggregate)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from csv_crm_upload_spark.session import get_spark

# headline set: the perf-relevant plans (scan/join/agg/window/dedup/knn).
# KEPT STABLE across rounds so the driver's totals stay comparable.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_region_revenue",
    "top_customers",
    "w1_top_orders_per_customer",
    "e1_sessionize",
    "dd_exact_dups",
    "dd_minhash_lsh",
    "sim_knn_bruteforce",
    "t2_quality_score",
]

# round-2+ additions, timed and reported but NOT in the headline total
EXTRA = [
    "rj1_nearby_errors",
    "q7_nation_trade",
    "t7_vocab_topk",
    "t6_char_entropy",
    # round-3 additions
    "q9_product_type_profit",
    "vq1_quantized_knn",
    "bf1_bloom_pruned_revenue",
    "bm25_1_search",
    "rag1_hybrid_search",
    # round-4 additions
    "pq1_quantized_knn",
    "kmeans1_topic_clusters",
    # round-5 additions
    "sdd1_semantic_dedup",
    "linedd1_span_dedup",
    "bpe1_merge_steps",
    "nb1_langid_confusion",
    "lr1_quality_classifier",
    "prep2_monolingual_corpus",
    # round-6 additions
    "hn1_hard_negatives",
    "xsrc1_cross_source_overlap",
    "wfp1_winnow_fingerprints",
    "drift2_label_centroid_drift",
    "skw2_salted_join_revenue",
    "dsir1_importance_weights",
    "zipf1_source_zipf_slope",
    "bpe4_lang_fertility",
    "mix4_unimax_allocation",
    "pca1_covariance",
    "pca2_projected_knn",
    "ppl2_bigram_logloss",
    # round-7 additions
    "gq1_gopher_quality",
    "xsd1_exact_substring_dedup",
    "drm1_doremi_weights",
    "prep3_fineweb_manifest",
    "mmr1_diversified_topk",
    "auc1_classifier_auc",
    "cart1_dataset_cartography",
    "rho1_excess_loss_selection",
    "pmi1_collocations",
    "kn1_kneser_ney_logloss",
    "prune1_prototype_pruning",
    # round-8 additions (judge r8 ask #1: every declared non-streaming
    # query family gets a recorded wall-time; vq1 was already listed)
    "lex1_lexical_diversity",
    "heaps1_vocab_growth",
    "cov1_vocab_coverage",
    "tfidf1_top_terms",
    "rd1_readability",
    "js1_source_divergence",
    "ks1_value_drift",
    "mi1_lang_source_mi",
    "ccnet1_perplexity_buckets",
    "pctl2_exact_value_percentiles",
    "shard1_balanced_shards",
    "anon2_l_diversity",
    "bq1_binary_hamming_knn",
    "lshrec1_recall_audit",
    "bqrec1_binary_recall_audit",
    "sil1_cluster_margins",
    "cal1_calibration_bins",
    # round-9 additions (sim_knn_ivf was never benched; its fit moved
    # onto the distributed k-means this round, as did pq1's — their
    # wall-times are the regression signal for that swap)
    "sim_knn_ivf",
    "ivfpq1_quantized_knn",
    "ivfpq2_residual_knn",
    "ivfrec1_ivf_recall_audit",
    "pqrec1_pq_recall_audit",
    "w1d1_value_drift",
    "cvm1_value_drift",
    # round-10 additions
    "pcarec1_pca_recall_audit",
    "mmd1_embedding_drift",
    "psi1_population_stability",
    "chi21_lang_source_chi2",
    "iqr1_source_length_outliers",
    "conc1_source_concentration",
    "acf1_daily_autocorrelation",
    # round-10 second batch
    "dow1_weekly_profile",
    "tsen1_daily_trend",
    "cpd1_mean_shift",
    "ben1_benford_audit",
    "ndcg1_retrieval_quality",
    "mhcal1_minhash_calibration",
    "roll1_indexed_acf",
    "roll2_indexed_dow",
    "stl1_seasonal_strength",
    "rbo1_rank_agreement",
    "hurst1_long_memory",
    "cal2_brier_decomposition",
    # round-11 additions (sketch-error audits + operator batch)
    "adrec1_distinct_error_audit",
    "pxrec1_percentile_rank_audit",
    "hllrec1_merge_error_audit",
    "mgrec1_heavy_hitter_audit",
    "mb1_part_affinity",
    "burst1_interarrival_burstiness",
    "anom1_seasonal_anomalies",
    "id1_intrinsic_dimension",
    "surv1_conversion_survival",
    "pur1_cluster_purity",
    "ent1_transition_entropy",
    "wau1_rolling_weekly_active",
    "hll2_overlap_audit",
    "ret1_rolling_retention",
    # round-12 additions
    "audlog1_batch_audit_log",
    "cms1_countmin_audit",
    "fun1_ordered_funnel",
    "gt1_good_turing",
    "ney1_neyman_allocation",
    "kap1_cohens_kappa",
    "mad1_value_mad",
    "theil1_spend_inequality",
    "simp1_simpson_diversity",
    "cha1_chao1_richness",
    "spr1_spearman_rank_corr",
    "ptt1_pettitt_change_point",
    # round-12 fourth/fifth-wave additions
    "anova1_priority_anova",
    "kw1_kruskal_wallis",
    "ktau1_kendall_tau",
    "cusum1_cusum_drift",
    "llr1_dunning_collocations",
    "dpn1_dp_noisy_counts",
    "delta1_burrows_delta",
    "zord1_zorder_layout",
    "dw1_durbin_watson",
    "runs1_runs_test",
    "welch1_source_welch_t",
    "mwu1_mann_whitney",
    "qq1_source_length_qq",
    "cdc1_chunk_dedup",
    "mk1_mann_kendall",
    "lev1_brown_forsythe",
    "evt1_gumbel_return_levels",
    "key1_source_keyness",
    "srm1_split_ratio_mismatch",
    "ess1_length_weight_ess",
    "jk1_source_jackknife",
    "prop1_weekend_conversion",
    "hub1_huber_robust_mean",
    "sprt1_conversion_sprt",
    "hill1_tail_index",
    "tail1_tail_dependence",
]

# EVERY fit/memo-family EXTRA entry gets a WARM (second-run) sample
# plus the fit-memo hit/miss delta of that re-run (r11 verdict ask #2:
# not just the top-5) — these are self-contained oracle designs whose
# cold time mixes quantizer/eigen/artifact-build cost with probe cost;
# the warm sample + memo delta keep the three separable in the record,
# so a cold regression is attributable (host-speed vs fit vs probe)
# without oral history.
EXTRA_WARM = {
    # distributed Lloyd's / covariance fits through fitmemo
    "ivfpq2_residual_knn",
    "pca2_projected_knn",
    "pca1_covariance",
    "ivfpq1_quantized_knn",
    "pcarec1_pca_recall_audit",
    "pq1_quantized_knn",
    "sim_knn_ivf",
    "ivfrec1_ivf_recall_audit",
    "pqrec1_pq_recall_audit",
    # artifact builds through fitmemo (rollup / audit log)
    "roll1_indexed_acf",
    "roll2_indexed_dow",
    "audlog1_batch_audit_log",
    # minhash signature-memo riders
    "mhcal1_minhash_calibration",
    # kmeans-family riders of the r12 kmeans_centroids memo entry
    "kmeans1_topic_clusters",
    "sil1_cluster_margins",
    "sdd1_semantic_dedup",
    "pur1_cluster_purity",
}
# pca_model_build lives in the build/probe section below and gets its
# warm sample there.

# graph family: timed AS A PIPELINE (round 4) — the LSH candidate-pair
# table is materialized ONCE (dd_index_build) and every graph query
# consumes it, instead of each query re-deriving the shingle→minhash→
# band stage from the raw corpus. Same keys as earlier rounds so the
# per-query numbers stay comparable; the index build cost is its own
# line. Index-fed ≡ inline is pinned by tests/test_dedup_index.py.
GRAPH_EXTRA = [
    "dd_dup_clusters",
    "tri1_triangle_counts",
    "pr1_doc_pagerank",
    "dd2_dedup_corpus",
    "dd4_source_neardup_rates",
    # the composed corpus-prep pipeline consumes the same pair index
    "prep1_corpus_manifest",
    # round-12: degree histogram over the same persisted pair table
    "deg1_dup_degree_hist",
]


TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def warm_up(spark, sf_dir: str, queries: dict) -> None:
    """Untimed warm-up: the scan-count primes the JVM and parquet
    footers; one join+agg and one window query prime the shuffle
    machinery and the codegen compiler, so the first timed queries
    (q1/q3/q5 in run order) don't absorb session warm-up that the later
    ones skip. Neither warm-up query is in HEADLINE or EXTRA."""
    queries["a1_count"](spark, sf_dir).collect()
    for wname in ("j1_brand_margin", "w5_order_gaps"):
        queries[wname](spark, sf_dir).agg({"*": "count"}).collect()


def _duckdb_timings(
    sf_dir: str, oracle: dict[str, str], prime: bool = False
) -> dict[str, float]:
    """Head-to-head single-node baseline: run the SAME oracle SQL in
    DuckDB over the SAME parquet files. Measures end-to-end (plan +
    execute + drain) per query, matching the Spark timing method.

    `prime=True` runs the first headline oracle once UNRECORDED before
    timing — used for the pre-extras anchor so host_ratio compares two
    equally-warm DuckDB passes (host drift), not DuckDB's one-off
    cold-start against a warm second pass. The post pass stays
    unprimed, keeping duckdb_total_sec comparable to prior rounds."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    if prime:
        for name in HEADLINE:
            if oracle.get(name):
                try:
                    con.execute(oracle[name]).fetchall()
                except Exception:
                    pass
                break
    out: dict[str, float] = {}
    for name in HEADLINE:
        sql = oracle.get(name)
        if not sql:
            continue
        t0 = time.perf_counter()
        try:
            con.execute(sql).fetchall()
            out[name] = round(time.perf_counter() - t0, 3)
        except Exception:
            pass  # no-oracle / dialect drift: just omit the baseline point
    con.close()
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    warm_up(spark, sf_dir, queries)

    # DuckDB anchor IMMEDIATELY BEFORE the headline pass (r12 verdict
    # ask #5): with the pre-extras and post anchors below, the HEADLINE
    # numbers are now bracketed too, so a host-speed swing during the
    # headline pass is visible in the record itself (host_ratio_headline)
    # and the normalized totals read host-proof across rounds. Additive
    # only — every previously recorded field keeps its meaning, and the
    # ratio base stays the (unprimed) post anchor.
    oracle = entrymod.oracle_sql()
    anchor_headline = _duckdb_timings(sf_dir, oracle, prime=True)

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    warm_samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = queries[name]
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            # force full execution; count() alone can prune plans, so drain
            # through a cheap but complete aggregation of all output rows
            df.agg({"*": "count"}).collect()
            timings[name] = round(time.perf_counter() - t0, 3)
            # warm = MEDIAN of three re-executions of the same plan after
            # JIT/codegen (r10 verdict ask #3: the committed r10 record
            # carried a one-off scheduler hiccup as THE warm number —
            # 1.374 s where the harness's own re-run measured 0.917 s;
            # the median rejects a single outlier by construction, so no
            # anomaly-triggered warm2 re-sampling is needed anymore).
            # All three samples go to BENCH_DETAIL for dispersion reads.
            samples = []
            for _ in range(3):
                t1 = time.perf_counter()
                fn(spark, sf_dir).agg({"*": "count"}).collect()
                samples.append(round(time.perf_counter() - t1, 3))
            warm_samples[name] = samples
            warm[name] = sorted(samples)[1]
        except Exception as e:  # one broken query must not sink the record
            errors[name] = f"{type(e).__name__}: {e}"[:200]

    # DuckDB anchor IMMEDIATELY BEFORE the extras pass (r11 verdict ask
    # #2): the same headline oracle suite the ratio uses, run twice per
    # bench (pre/post extras). Cross-round extras comparisons read in
    # anchor-normalized units (entry ÷ anchor mean, see COVERAGE.md),
    # and a host-speed swing DURING the run shows up as host_ratio far
    # from 1.0 instead of masquerading as per-entry regressions — the
    # r11 record needed oral history to explain a +10 s ivfpq2 cold
    # that was really the host (the anchor itself swung 1.6→2.6 s).
    anchor_pre = _duckdb_timings(sf_dir, oracle, prime=True)

    from csv_crm_upload_spark.analytics.fitmemo import memo_stats

    extra: dict[str, float] = {}
    extra_warm: dict[str, float] = {}
    extra_warm_memo: dict[str, dict[str, int]] = {}
    for name in EXTRA:
        fn = queries.get(name)
        if fn is None:
            continue
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).agg({"*": "count"}).collect()
            extra[name] = round(time.perf_counter() - t0, 3)
            # warm sample for every fit/memo-family entry (r9 ask #3,
            # widened per r11 ask #2): the cold number mixes fit cost
            # with probe cost; the warm pass separates "the fit got
            # slower" from "the probe got slower" round-over-round, and
            # the memo hit/miss delta of the re-run proves whether the
            # warm number is the memo-hit path or a genuine re-fit.
            if name in EXTRA_WARM:
                m0 = memo_stats()
                t1 = time.perf_counter()
                fn(spark, sf_dir).agg({"*": "count"}).collect()
                extra_warm[name] = round(time.perf_counter() - t1, 3)
                m1 = memo_stats()
                extra_warm_memo[name] = {
                    "hit": m1["hit"] - m0["hit"],
                    "miss": m1["miss"] - m0["miss"],
                }
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {e}"[:200]

    # graph family over the persisted candidate-pair index (see GRAPH_EXTRA)
    import shutil
    import tempfile

    from csv_crm_upload_spark.analytics import dedup as dd
    from csv_crm_upload_spark.sources.tables import load_table

    idx_dir = tempfile.mkdtemp(prefix="bench_dedup_idx_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        t0 = time.perf_counter()
        dd.save_dedup_index(docs, idx_dir)
        extra["dd_index_build"] = round(time.perf_counter() - t0, 3)
        pairs = dd.load_dedup_index(spark, idx_dir)
        from csv_crm_upload_spark.plans.corpus_prep import prepare_training_corpus

        graph_fns = {
            "dd_dup_clusters": dd.d_dup_clusters,
            "tri1_triangle_counts": dd.tri1_triangle_counts,
            "pr1_doc_pagerank": dd.pr1_doc_pagerank,
            "dd2_dedup_corpus": dd.dd2_dedup_corpus,
            "dd4_source_neardup_rates": dd.dd4_source_neardup_rates,
            "prep1_corpus_manifest": prepare_training_corpus,
            "deg1_dup_degree_hist": dd.deg1_dup_degree_hist,
        }
        for name in GRAPH_EXTRA:
            t0 = time.perf_counter()
            try:
                graph_fns[name](docs, pairs=pairs).agg({"*": "count"}).collect()
                extra[name] = round(time.perf_counter() - t0, 3)
            except Exception as e:
                errors[name] = f"{type(e).__name__}: {e}"[:200]
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # PQ ANN as build-once/probe-many: the codebook fit + corpus encode
    # (the giant codegen expression that dominates pq1's cold cost) is
    # its own line; the probe reads only the stored m-byte codes.
    # Indexed ≡ direct is pinned by tests/test_pq.py.
    from csv_crm_upload_spark.analytics import pq as pqmod

    pq_dir = tempfile.mkdtemp(prefix="bench_pq_idx_")
    stage = "pq_index_build"  # error key tracks the stage that actually threw
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        t0 = time.perf_counter()
        pqmod.save_pq_index(emb, pq_dir)
        extra["pq_index_build"] = round(time.perf_counter() - t0, 3)
        stage = "pq_indexed_knn"
        t0 = time.perf_counter()
        pqmod.pq_search_indexed(spark, pq_dir, emb).agg({"*": "count"}).collect()
        extra["pq_indexed_knn"] = round(time.perf_counter() - t0, 3)
    except Exception as e:
        errors[stage] = f"{type(e).__name__}: {e}"[:200]
    finally:
        shutil.rmtree(pq_dir, ignore_errors=True)

    # IVF-PQ composed index: coarse cells select (partition-pruned code
    # scan), PQ-ADC ranks within probed cells, exact cosine reranks.
    from csv_crm_upload_spark.analytics import ivfpq as ivfpqmod

    ivfpq_dir = tempfile.mkdtemp(prefix="bench_ivfpq_idx_")
    stage = "ivfpq_index_build"
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        t0 = time.perf_counter()
        ivfpqmod.save_ivfpq_index(emb, ivfpq_dir)
        extra["ivfpq_index_build"] = round(time.perf_counter() - t0, 3)
        stage = "ivfpq_indexed_knn"
        t0 = time.perf_counter()
        ivfpqmod.ivfpq_search(spark, ivfpq_dir, emb).agg({"*": "count"}).collect()
        extra["ivfpq_indexed_knn"] = round(time.perf_counter() - t0, 3)
    except Exception as e:
        errors[stage] = f"{type(e).__name__}: {e}"[:200]
    finally:
        shutil.rmtree(ivfpq_dir, ignore_errors=True)

    # winnowing fingerprint index: build-once, then the stored-print pair
    # query (no re-fingerprinting) and the bucket-pruned MOSS probe
    from csv_crm_upload_spark.analytics import winnow as wnmod

    wn_dir = tempfile.mkdtemp(prefix="bench_winnow_idx_")
    stage = "wfp_index_build"
    try:
        docs = load_table(spark, sf_dir, "documents")
        t0 = time.perf_counter()
        wnmod.save_winnow_index(docs, wn_dir)
        extra["wfp_index_build"] = round(time.perf_counter() - t0, 3)
        stage = "wfp_indexed_pairs"
        t0 = time.perf_counter()
        wnmod.wfp2_indexed_pairs(spark, wn_dir).agg({"*": "count"}).collect()
        extra["wfp_indexed_pairs"] = round(time.perf_counter() - t0, 3)
        stage = "wfp_match_probe"
        from pyspark.sql import functions as F

        probe = docs.filter(F.col("doc_id") % 1000 == 0)
        t0 = time.perf_counter()
        wnmod.match_documents(spark, wn_dir, probe).agg({"*": "count"}).collect()
        extra["wfp_match_probe"] = round(time.perf_counter() - t0, 3)
    except Exception as e:
        errors[stage] = f"{type(e).__name__}: {e}"[:200]
    finally:
        shutil.rmtree(wn_dir, ignore_errors=True)

    # persisted ExactSubstr gram-count index: the build is one gram
    # count pass; the probe re-derives probe grams map-only and joins
    # the stored counts (≡ inline xsd1, pinned by test_substr_index.py)
    from csv_crm_upload_spark.analytics import substr as sxmod

    sx_dir = tempfile.mkdtemp(prefix="bench_substr_")
    stage = "substr_index_build"
    try:
        docs = load_table(spark, sf_dir, "documents")
        t0 = time.perf_counter()
        sxmod.save_substr_index(docs, sx_dir)
        extra["substr_index_build"] = round(time.perf_counter() - t0, 3)
        stage = "substr_indexed_spans"
        t0 = time.perf_counter()
        sxmod.xsd_indexed_dup_spans(docs, sx_dir).agg({"*": "count"}).collect()
        extra["substr_indexed_spans"] = round(time.perf_counter() - t0, 3)
    except Exception as e:
        errors[stage] = f"{type(e).__name__}: {e}"[:200]
    finally:
        shutil.rmtree(sx_dir, ignore_errors=True)

    # persisted BM25 inverted index: build is one (doc,tok) shuffle;
    # the search probe is partition-pruned bucket reads; the TF-IDF
    # probe is a zero-corpus-scan readout of stored postings+dfreq
    # (≡ fresh recomputation, pinned by test_retrieval.py)
    from csv_crm_upload_spark.analytics import retrieval as rtrmod

    tx_dir = tempfile.mkdtemp(prefix="bench_text_")
    stage = "text_index_build"
    try:
        docs = load_table(spark, sf_dir, "documents")
        t0 = time.perf_counter()
        rtrmod.save_text_index(docs, tx_dir)
        extra["text_index_build"] = round(time.perf_counter() - t0, 3)
        stage = "bm25_indexed_search"
        t0 = time.perf_counter()
        rtrmod.bm25_search_indexed(spark, tx_dir).agg({"*": "count"}).collect()
        extra["bm25_indexed_search"] = round(time.perf_counter() - t0, 3)
        stage = "tfidf_indexed_top_terms"
        t0 = time.perf_counter()
        rtrmod.tfidf_indexed_top_terms(spark, tx_dir).agg({"*": "count"}).collect()
        extra["tfidf_indexed_top_terms"] = round(time.perf_counter() - t0, 3)
    except Exception as e:
        errors[stage] = f"{type(e).__name__}: {e}"[:200]
    finally:
        shutil.rmtree(tx_dir, ignore_errors=True)

    # persisted BPE tokenizer: the one-combining-shuffle vocab build +
    # vocab-bounded merge loop is its own line; apply is the map-only
    # tokenize pass against the stored rules (≡ inline bpe2, pinned by
    # tests/test_bpe_model.py).
    from csv_crm_upload_spark.analytics import bpe as bpemod

    bpe_dir = tempfile.mkdtemp(prefix="bench_bpe_model_")
    stage = "bpe_model_build"
    try:
        docs = load_table(spark, sf_dir, "documents")
        t0 = time.perf_counter()
        bpemod.save_bpe_model(docs, bpe_dir)
        extra["bpe_model_build"] = round(time.perf_counter() - t0, 3)
        stage = "bpe_model_apply"
        t0 = time.perf_counter()
        bpemod.segment_with_bpe_model(docs, bpe_dir).agg({"*": "count"}).collect()
        extra["bpe_model_apply"] = round(time.perf_counter() - t0, 3)
    except Exception as e:
        errors[stage] = f"{type(e).__name__}: {e}"[:200]
    finally:
        shutil.rmtree(bpe_dir, ignore_errors=True)

    # persisted daily rollup: ONE (day, event_type) combining agg is the
    # build; probes run entirely at the stored day grain (≡ inline
    # acf1/dow1, pinned by tests/test_rollup_index.py).
    from csv_crm_upload_spark.analytics import rollup as rlpmod

    roll_dir = tempfile.mkdtemp(prefix="bench_rollup_")
    stage = "rollup_build"
    try:
        events = load_table(spark, sf_dir, "events")
        t0 = time.perf_counter()
        rlpmod.save_daily_rollup(events, roll_dir)
        extra["rollup_build"] = round(time.perf_counter() - t0, 3)
        stage = "rollup_indexed_acf"
        t0 = time.perf_counter()
        rlpmod.acf1_indexed(spark, roll_dir).agg({"*": "count"}).collect()
        extra["rollup_indexed_acf"] = round(time.perf_counter() - t0, 3)
        stage = "rollup_indexed_dow"
        t0 = time.perf_counter()
        rlpmod.dow1_indexed(spark, roll_dir).agg({"*": "count"}).collect()
        extra["rollup_indexed_dow"] = round(time.perf_counter() - t0, 3)
    except Exception as e:
        errors[stage] = f"{type(e).__name__}: {e}"[:200]
    finally:
        shutil.rmtree(roll_dir, ignore_errors=True)

    # persisted PCA model: the sufficient-statistic build (one combining
    # shuffle + d²-bounded write) vs the map-only projection against the
    # stored sums (≡ inline fit+project, pinned by tests/test_pca.py).
    from csv_crm_upload_spark.analytics import pca as pcamod

    pca_dir = tempfile.mkdtemp(prefix="bench_pca_model_")
    stage = "pca_model_build"
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        t0 = time.perf_counter()
        pcamod.save_pca_model(emb, pca_dir)
        extra["pca_model_build"] = round(time.perf_counter() - t0, 3)
        # warm rebuild (r9 verdict ask #3): second fit over the live
        # model (epoch advance) with JIT/codegen warm — the steady-state
        # fit cost, separable from first-run compile.
        t0 = time.perf_counter()
        pcamod.save_pca_model(emb, pca_dir)
        extra_warm["pca_model_build"] = round(time.perf_counter() - t0, 3)
        stage = "pca_model_project"
        t0 = time.perf_counter()
        pcamod.project_with_pca_model(emb, pca_dir).agg({"*": "count"}).collect()
        extra["pca_model_project"] = round(time.perf_counter() - t0, 3)
    except Exception as e:
        errors[stage] = f"{type(e).__name__}: {e}"[:200]
    finally:
        shutil.rmtree(pca_dir, ignore_errors=True)

    # DuckDB anchor IMMEDIATELY AFTER the extras pass — doubles as the
    # per-query baseline the headline ratios use (same end-of-run
    # position as every prior round's single measurement, so the ratio
    # series stays comparable).
    duckdb_timings = _duckdb_timings(sf_dir, oracle)
    anchor_hl_total = round(sum(anchor_headline.values()), 3)
    anchor_pre_total = round(sum(anchor_pre.values()), 3)
    anchor_post_total = round(sum(duckdb_timings.values()), 3)
    host_ratio = (
        round(anchor_post_total / anchor_pre_total, 3)
        if anchor_pre_total > 0
        else None
    )
    # drift DURING the headline pass (extras-pre anchor ÷ headline-pre
    # anchor) — far from 1.0 means the headline colds carry a host swing
    host_ratio_headline = (
        round(anchor_pre_total / anchor_hl_total, 3) if anchor_hl_total > 0 else None
    )
    # host-proof cross-round units: seconds ÷ the mean of the three
    # anchors bracketing the run (per-query normalized values in DETAIL)
    anchor_mean = (
        round((anchor_hl_total + anchor_pre_total + anchor_post_total) / 3, 3)
        if anchor_hl_total > 0
        else None
    )
    ratios = {
        n: round(timings[n] / duckdb_timings[n], 2)
        for n in timings
        if n in duckdb_timings and duckdb_timings[n] > 0
    }

    total = round(sum(timings.values()), 3)
    # The driver's artifact keeps only the LAST ~2000 chars of stdout and
    # parses the final JSON line.  BENCH_r07.json failed to parse because
    # the single record line outgrew that window (the tail no longer
    # contained the line's opening brace).  So: the FULL record (extra_sec,
    # per-query duckdb, warm samples, errors) goes to BENCH_DETAIL.json next to
    # this script, and the final printed line is a compact headline-only
    # record whose size is bounded by the fixed 10-query HEADLINE set
    # (~1.3 KB) — it always fits the tail window whole.
    total_w = round(sum(warm.values()), 3)
    normalized = (
        {
            "anchor_mean_sec": anchor_mean,
            "cold_total": round(sum(timings.values()) / anchor_mean, 3),
            "warm_total": round(total_w / anchor_mean, 3),
            "cold": {n: round(v / anchor_mean, 3) for n, v in timings.items()},
            "warm": {n: round(v / anchor_mean, 3) for n, v in warm.items()},
        }
        if anchor_mean
        else None
    )
    full = {
        "extra_sec": extra,
        "extra_warm_sec": extra_warm,
        "extra_warm_memo": extra_warm_memo,
        "fit_memo_stats": memo_stats(),
        "duckdb_sec": duckdb_timings,
        "duckdb_anchor_headline_sec": anchor_hl_total,
        "duckdb_anchor_headline_queries": anchor_headline,
        "duckdb_anchor_pre_sec": anchor_pre_total,
        "duckdb_anchor_pre_queries": anchor_pre,
        "host_ratio": host_ratio,
        "host_ratio_headline": host_ratio_headline,
        "normalized": normalized,
        "warm_samples_sec": warm_samples,
        "sf": sf,
        "queries": timings,
        "warm_sec": warm,
        "ratio_vs_duckdb": ratios,
        "duckdb_total_sec": round(sum(duckdb_timings.values()), 3),
        "warm_total_sec": round(sum(warm.values()), 3),
        "metric": "headline_queries_total_sec",
        "unit": "sec",
        "value": total,
    }
    if errors:
        full["errors"] = errors
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass  # read-only checkout: the compact line below still carries the contract
    compact = {
        "sf": sf,
        "queries": timings,
        "warm_sec": warm,
        "ratio_vs_duckdb": ratios,
        "duckdb_total_sec": full["duckdb_total_sec"],
        "warm_total_sec": full["warm_total_sec"],
        "host_ratio": host_ratio,
        # round-13 additions (additive; see full record for per-query):
        # three bracketing DuckDB anchors + anchor-normalized totals so
        # the headline record self-explains a host swing without prose
        "anchors_sec": {
            "headline_pre": anchor_hl_total,
            "extras_pre": anchor_pre_total,
            "post": anchor_post_total,
        },
        "host_ratio_headline": host_ratio_headline,
        "normalized_cold_total": None if not normalized else normalized["cold_total"],
        "normalized_warm_total": None if not normalized else normalized["warm_total"],
        "n_errors": len(errors),
        "detail": "BENCH_DETAIL.json",
        "metric": "headline_queries_total_sec",
        "unit": "sec",
        "value": total,
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
