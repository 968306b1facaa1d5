"""Physical-plan audits: the 100 TB posture is only real if the optimized
plan shows it. These tests pin the plan properties that matter at scale —
filter pushdown to parquet, column pruning, broadcast joins for small
dims, map-side partial aggregation, and no Python UDFs in JVM-only paths."""

from __future__ import annotations

import io
import re

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from csv_crm_upload_spark.sources.tables import load_table


def plan_of(df) -> str:
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_ids(plan: str) -> set[str]:
    """Unique shuffle-exchange node ids in a formatted plan — the
    100 TB shuffle budget. Excludes (a) broadcast exchanges and (b) the
    round-robin fan-out exchanges from analytics.fanout.fan_out: that
    helper only fires when the input planned FEWER map tasks than the
    session has cores (single-row-group local testdata), and is a no-op
    wherever a corpus scan already provides map parallelism — so it is
    a local parallelism floor, not a scale shuffle cost.

    Round 13 (verdict ask #7): the exemption matches fan_out's SIGNATURE
    — `RoundRobinPartitioning(defaultParallelism)` — not every
    round-robin exchange, so an unconditional `.repartition(n)` with any
    other n (including the bounded-result `repartition(1)` ordering
    exchanges, which now count against their queries' budgets) can no
    longer hide from the pins. Keyed repartitions always count."""
    from pyspark.sql import SparkSession

    dp = SparkSession.getActiveSession().sparkContext.defaultParallelism
    ids = set(re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", plan))
    rr = set(
        re.findall(
            r"\((\d+)\) Exchange\s*\nInput[^\n]*\nArguments: RoundRobinPartitioning\("
            + str(dp)
            + r"\)",
            plan,
        )
    )
    return ids - rr


def test_shuffle_ids_counts_non_fanout_round_robin(spark, sf_dir):
    """The exemption must be fan_out-shaped ONLY: a deliberate
    `.repartition(64)` (≠ defaultParallelism) is a real scale shuffle
    and must count; a fan_out-signature repartition must not."""
    df = load_table(spark, sf_dir, "orders")
    dp = spark.sparkContext.defaultParallelism
    other = 64 if dp != 64 else 65
    assert len(shuffle_ids(plan_of(df.repartition(other)))) == 1
    assert len(shuffle_ids(plan_of(df.repartition(1)))) == 1
    assert len(shuffle_ids(plan_of(df.repartition(dp)))) == 0



QUERIES = entrymod.queries()


def _reset_plan_state(spark) -> None:
    """Canonical cold plans: cached relations left over from other tests
    (session-scoped fixture) would re-shape the tree under audit — and
    the fit memo (which also holds the dedup family's persisted MinHash
    signature tables) must be dropped WITH the cache, because a
    memoized-but-uncached signature table plans its full inline
    derivation (more exchanges than either the fresh-memo or the
    materialized state)."""
    from csv_crm_upload_spark.analytics.fitmemo import clear_fit_memo

    spark.catalog.clearCache()
    clear_fit_memo()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(QUERIES["f1_filter_pending"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = plan_of(QUERIES["p1_projection"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"c_custkey", "c_name", "c_mktsegment"}  # 3 of 5 cols only


def test_q3_broadcasts_customer_dim(spark, sf_dir):
    plan = plan_of(QUERIES["q3_top_unshipped"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the big fact-fact join may be SMJ/shuffled-hash; the dim must broadcast
    assert plan.count("BroadcastExchange") >= 1


def test_q1_partial_aggregation_map_side(spark, sf_dir):
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, sf_dir))
    # two HashAggregates (partial + final) around one shuffle on the keys
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    assert "hashpartitioning(l_returnflag" in plan


def test_anti_join_strategy(spark, sf_dir):
    plan = plan_of(QUERIES["d1_anti_join"](spark, sf_dir))
    assert "LeftAnti" in plan


# queries whose WHOLE POINT is the vectorized-Python escape hatch: allowed
# ArrowEvalPython (Arrow-batched), never BatchEvalPython (row-at-a-time)
ARROW_SANCTIONED = {"t6_char_entropy"}
# the UDTF API-surface demo: a Python table function is inherently an
# EvalPythonUDTF node; exempt from the JVM-only rule (documented as the
# escape hatch, with the Column-algebra shingle builder as the fast path)
UDTF_SANCTIONED = {"t8_bigrams_udtf"}
# quantizer-family queries whose assign/encode map stage is the
# Arrow-native scoring of analytics/arrowquant.py (round 13): the ONE
# sanctioned MapInArrow boundary — bit-identical decisions to the JVM
# expression trees (tests/test_arrowquant.py), vectorized numpy instead
# of the m·k-literal tree's construction/analysis/codegen cost. Most of
# these materialize the encode behind a localCheckpoint, so the node is
# only visible in the returned plan where the cell table stays lazy.
MAPINARROW_SANCTIONED = {
    # node visible in the returned plan (lazy cell/assignment table)
    "sim_knn_ivf",
    "ivfrec1_ivf_recall_audit",
    "kmeans1_topic_clusters",
    "sil1_cluster_margins",
    "pur1_cluster_purity",
    # node runs at construction time behind a localCheckpoint/persist —
    # listed so a refactor that un-checkpoints them stays sanctioned
    "pq1_quantized_knn",
    "ivfpq1_quantized_knn",
    "ivfpq2_residual_knn",
    "pqrec1_pq_recall_audit",
    "sdd1_semantic_dedup",
    "prune1_prototype_pruning",
}


def test_no_python_udf_in_relational_paths(spark, sf_dir):
    """Everything except the explicitly-Python paths must stay JVM-side
    (no BatchEvalPython / ArrowEvalPython / MapInArrow in the plan); the
    sanctioned vectorized queries may use their Arrow-batched node but
    never the row-at-a-time BatchEvalPython."""
    for name, fn in QUERIES.items():
        plan = plan_of(fn(spark, sf_dir))
        if name in UDTF_SANCTIONED:
            continue
        assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
        if name not in ARROW_SANCTIONED:
            assert "EvalPython" not in plan, f"{name} fell off the JVM fast path"
        if name not in MAPINARROW_SANCTIONED:
            assert "MapInArrow" not in plan, (
                f"{name} grew an unsanctioned Arrow map stage"
            )


def test_whole_stage_codegen_active(spark, sf_dir):
    # under AQE, codegen stage markers (*(n)) only exist in the FINAL
    # executed plan — run the query, then read it back
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert re.search(r"\*\(\d+\) HashAggregate", executed), executed[:800]


def test_ingest_validation_is_single_scan_predicate(spark, tmp_path):
    """validate_split must be pure Column predicates over one scan — no
    joins, no shuffles in the clean-path plan."""
    from csv_crm_upload_spark.operators.validate import validate_split
    from csv_crm_upload_spark.sources.csv_source import read_customers_csv

    p = tmp_path / "x.csv"
    p.write_text("1,a,b,a@x.com,1\n")
    clean, quarantine = validate_split(read_customers_csv(spark, str(p), header=False))
    for df in (clean, quarantine):
        plan = plan_of(df)
        assert "Exchange" not in plan  # map-only
        assert "Join" not in plan


def test_range_join_is_banded_not_nested_loop(spark, sf_dir):
    """rj1 must execute as an equi-join on the band bucket (hash join),
    never a nested-loop theta join over the cross product."""
    df = QUERIES["rj1_nearby_errors"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoopJoin" not in plan.replace("BroadcastNestedLoopJoin", "")
    assert "CartesianProduct" not in plan
    # the bucket key reaches the join condition
    assert "bucket" in plan


def test_new_fact_dim_joins_broadcast(spark, sf_dir):
    """q14/q19/q8: the part/nation dimensions must broadcast — a
    sort-merge shuffle of the fact table against a dim is the 100 TB
    anti-pattern these plans exist to avoid."""
    for name in ["q14_promo_revenue", "q19_disjunctive_revenue", "q8_market_share"]:
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "SortMergeJoin" not in plan, f"{name}: dim join fell back to sort-merge"


def test_pending_scan_prunes_bucket_column(spark, tmp_path):
    """The store's bucket id is physical layout: the pending scan must
    read only the 5 logical columns (ReadSchema pruned) with the uploaded
    predicate pushed."""
    from csv_crm_upload_spark.operators.mutate import finalize_columns
    from csv_crm_upload_spark.operators.store import CustomerStore

    store = CustomerStore(spark, str(tmp_path / "s"))
    store.append(finalize_columns(spark.createDataFrame(
        [(1, "a", "b", "a@x.com", "1")], ["id", "first_name", "last_name", "email", "phone"]
    )))
    plan = store.pending()._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(uploaded), Not(EqualTo(uploaded,true))]" in plan
    assert "ReadSchema: struct<id:bigint,first_name:string,last_name:string,email:string,phone:string,uploaded:boolean>" in plan


def test_no_forced_broadcast_on_scale_growing_dims():
    """customer/supplier/part grow linearly with scale factor — a forced
    F.broadcast on them OOMs executors at 100×. Only fixed-cardinality
    region/nation (and single-row aggregates) may carry the hint; AQE's
    size-based choice covers the rest (the broadcast-join assertions in
    this file prove AQE still broadcasts them at test scale)."""
    import pathlib

    src = pathlib.Path(__file__).parent.parent.joinpath(
        "csv_crm_upload_spark/analytics/tpch.py"
    ).read_text()
    assert not re.search(r"F\.broadcast\((customer|supplier|part|brand_parts)\b", src)


def test_er1_blocks_on_length_bucket_not_segment_alone(spark, sf_dir):
    """er1's equi-join key must include the name-length bucket: blocking
    on the 5-value segment alone makes each block a ~(n/5)² cross product
    — the quadratic trap this rewrite closed."""
    df = QUERIES["er1_fuzzy_name_pairs"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "len_bucket" in plan
    # the bucket is in the join condition itself, not a post-join filter
    m = re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert m, plan[:800]
    assert "len_bucket" in m.group(2) and "len_bucket" in m.group(3), m.group(0)


# sim_knn_bruteforce is a DELIBERATE broadcast cross join (tiny query set
# against the corpus — the exact baseline); everything else must never
# plan a cartesian product.
CROSS_SANCTIONED = {"sim_knn_bruteforce"}


def test_no_query_plans_a_cartesian_product(spark, sf_dir):
    """Global sweep: no query may fall into CartesianProduct or a
    non-broadcast nested loop — the silent quadratic trap that looks fine
    at sf0.001 and detonates at 100 TB. Plan-only (no execution)."""
    for name, fn in QUERIES.items():
        plan = plan_of(fn(spark, sf_dir))
        if name in CROSS_SANCTIONED:
            assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" not in plan
            continue
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_q9_pushdown_pruning_and_partial_agg(spark, sf_dir):
    """Derived-partsupp profit query: the part-name filter must reach the
    parquet scan, lineitem must read only the 6 needed columns, and the
    final agg must combine map-side."""
    plan = plan_of(QUERIES["q9_product_type_profit"](spark, sf_dir))
    assert "StringContains(p_name,bolt)" in plan
    m = [
        set(g.split(":")[0] for g in mm.group(1).split(","))
        for mm in re.finditer(r"ReadSchema: struct<([^>]*)>", plan)
    ]
    li = [s for s in m if "l_extendedprice" in s]
    assert li and li[0] == {
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    }
    assert "partial_sum" in plan


def test_bloom_probe_rides_fact_scan_stage(spark, sf_dir):
    """The bloom probe must be a filter over the fact scan (one broadcast
    of the 1-row bitmap), not a shuffle."""
    from csv_crm_upload_spark.operators.bloom import build_bloom

    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 7500.0)
    bf = build_bloom(cust.select("c_custkey"), F.col("c_custkey"))
    pruned = bf.prune(load_table(spark, sf_dir, "orders"), F.col("o_custkey"))
    plan = plan_of(pruned)
    # probe side: broadcast nested-loop of the single bitmap row, then a
    # plain Filter — no exchange on the orders side before the filter
    assert "BroadcastNestedLoopJoin" in plan
    assert "hashpartitioning(o_custkey" not in plan


def test_headline_shuffle_budgets(spark, sf_dir):
    """Shuffle-count budgets for representative queries: the number of
    Exchange nodes in the optimized plan is the scale contract — a
    regression that adds a shuffle is a 100 TB cost even when sf0.01
    timings look fine. Budgets are ceilings, not exact counts (AQE may
    coalesce at runtime; broadcast exchanges are not counted).

    Rationale per budget (post-agg ORDER BY / 1-row stats exchanges move
    grouped or scalar rows — constant-size, counted but cheap):
      q1     2 — group-agg shuffle + result order over 6 grouped rows
      dd_exact_dups 2 — fingerprint groupBy + dup-group filter/join back
      bm25_1_search 6 — tf agg, dl window, df window (over matched
             postings only: the broadcast semi-join to the query vocab
             runs BEFORE the tok shuffle), 1-row corpus stats, matched-
             pair score agg, final per-query rank; one linear plan, no
             persist
      decay1 3 — scalar anchor agg (1-row partial→final), user groupBy,
             result order
      win1   3 — global rank window + order (cut row broadcasts)
      samp2  1 — A-ES keys are map-only; the per-source top-k window is
             the single shuffle
      prep1  3 — the RETURNED manifest plan after the (eager) dedup
             stage: anti-join exchange + packing window + gate/key agg;
             the LSH/CC shuffles run once inside d_component_labels and
             are budgeted by the dedup family's own tests
      kmeans1 2 — the RETURNED readout plan: the final membership
             combining agg + result order over k rows; each Lloyd's
             round inside the loop is one combining shuffle (its own
             job, asserted by the encode-stage test below via shape)
    """
    _reset_plan_state(spark)
    budgets = {
        "q1_pricing_summary": 2,
        "dd_exact_dups": 2,
        "bm25_1_search": 6,
        "decay1_time_decayed_user_value": 3,
        "win1_winsorized_prices": 3,
        "samp2_weighted_reservoir": 1,
        "prep1_corpus_manifest": 3,
        "kmeans1_topic_clusters": 2,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        # unique shuffle-exchange node ids: a cached subtree prints once
        # per consumer but executes once (same ids); broadcasts excluded
        ids = shuffle_ids(plan)
        n = len(ids)
        assert n <= budget, f"{name}: {n} shuffles > budget {budget}\n{plan}"


def test_quantizer_encode_stages_are_shuffle_free(spark, sf_dir):
    """The corpus-wide encode passes of the vector indexes — PQ code
    assignment and the fused IVF-PQ cell+code assignment — must plan
    ZERO exchanges: they are a single Arrow map stage over the vector
    scan (quantizers ride the pickled closure — arrowquant.py), which is
    what makes index builds and O(new docs) appends single-pass at
    100 TB."""
    import numpy as np

    from csv_crm_upload_spark.analytics import ivf as _ivf
    from csv_crm_upload_spark.analytics import ivfpq as _ivfpq
    from csv_crm_upload_spark.analytics import pq as _pq

    emb = load_table(spark, sf_dir, "embeddings")
    books = _pq.fit_pq_codebooks(emb, m=8, k=16)
    cents = _ivf.fit_centroids(emb, n_cells=8)
    for label, df in (
        ("pq_encode", _pq.pq_encode(emb, books)),
        ("ivf_assign", _ivf.assign_cells(emb, cents)),
        ("ivfpq_assign_encode", _ivfpq._assign_and_encode(emb, cents, books)),
    ):
        plan = plan_of(df)
        ids = shuffle_ids(plan)
        assert not ids, f"{label}: encode stage plans {len(ids)} exchanges"


def test_round5_operator_shuffle_budgets(spark, sf_dir):
    """Budgets for the round-5 additions (ceilings, broadcasts excluded):
      sdd1    4 — Lloyd's assignment is map-only (centroid literals);
              within-cluster pair join + witness groupBy + final
              vec_id join/order move pair and row sets, never all-pairs
      linedd1 3 — span-key window + doc_id reassembly + result order
      mix3    3 — source-count agg (collapses to ~#sources rows),
              per-source rank window, result shape; targets broadcast
      bpe2    2 — the RETURNED segmentation readout: doc_id combining
              agg + result order (the apply itself is 0-shuffle chained
              replaces riding the scan; training steps are budgeted by
              their own 1-agg shape)
      lr1     0 — the returned frame is the driver-built weight table;
              every GD step ran as one combining agg (map-side partials)
    """
    _reset_plan_state(spark)
    budgets = {
        "linedd1_span_dedup": 3,
        "mix3_temperature_mixture": 3,
        "bpe2_segment": 2,
        "lr1_quality_classifier": 0,
        # the RETURNED v2-composition plan: linedd1's two shuffles, the
        # cleaned/langid joins, and the pack window (the NB langid stage
        # ran eagerly inside nb_inline_predictions, budgeted on its own)
        "prep2_monolingual_corpus": 5,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        ids = shuffle_ids(plan)
        assert len(ids) <= budget, f"{name}: {len(ids)} shuffles > budget {budget}\n{plan}"

    # sdd1 materializes eagerly (its returned plan is a checkpoint scan,
    # which would make this audit vacuous) — budget the LAZY builder
    from csv_crm_upload_spark.analytics.clustering import _sdd1_plan
    from csv_crm_upload_spark.sources.tables import load_table

    lazy, assigned = _sdd1_plan(load_table(spark, sf_dir, "embeddings"))
    try:
        plan = plan_of(lazy)
        ids = shuffle_ids(plan)
        assert len(ids) <= 4, f"sdd1: {len(ids)} shuffles > budget 4\n{plan}"
    finally:
        assigned.unpersist()


def test_ntile_queries_have_no_single_partition_sort(spark, sf_dir):
    """Every query that ranks fact-sized data does it via
    ordered.running / ordered.ntile / a grouped ordered.running
    (range-repartition + per-partition offset rank), never a bare
    `Window.orderBy` (or a partitionBy over a handful of values, which
    is the same collapse split |group| ways). A revert to the window
    form would plan `Exchange SinglePartition` under the Window — the
    one-task sort of the whole rollup that stalls a 1000-executor
    cluster. The returned plans (the part that still contains the rank
    windows) must be free of it. Sweeps the round-5 conversions
    (rfm1/batch1) AND the round-7 ones (w3/out1/lag1/win1 + q15's
    max-semi-join replacement of the global rank)."""
    _reset_plan_state(spark)
    for name in (
        "rfm1_customer_segments",
        "batch1_length_buckets",
        "w3_order_quartiles",
        "out1_iqr_outliers",
        "lag1_conversion_lag_quartiles",
        "win1_winsorized_prices",
        "q15_top_supplier",
        "prune1_prototype_pruning",
    ):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "Exchange SinglePartition" not in plan, (
            f"{name}: single-partition exchange (global sort) in plan\n{plan}"
        )


def test_round6_operator_shuffle_budgets(spark, sf_dir):
    """Budgets for the round-6 additions (ceilings, broadcasts excluded):
      hn1    1 — corpus streams through the broadcast query join map-only;
             the per-query top-k window is the single shuffle
      xsrc1  4 — the RETURNED plan after the eager per-shingle set fold:
             spread repartition + pair-count agg + size agg + result order
             (the collect_set shuffle ran once inside the checkpoint)
      wfp1   2 — keyed window on doc_id, reused by the groupBy; + order
      wfp2   7 — the inline oracle form recomputes the print subtree per
             consumer (window, distinct, df count, pair join, count,
             order); the PRODUCTION path reads the persisted winnow index
      drift2 5 — (label, dim) combining agg, global re-combine, per-label
             term agg, result order (+1 AQE split); dims x labels rows only
      bpe3   1 — map-only merge application; the 1-row readout agg
      skw2   2 — the (key, _salt) join exchanges; readout agg reuses them
      skw3   3 — (key, salt) partial agg, per-key combine, result order
      rfm1   3 — the RETURNED plan after three eager ordered.ntile
             materializations: last rank window + segment agg + order
      batch1 3 — same shape, one ntile"""
    _reset_plan_state(spark)
    budgets = {
        "hn1_hard_negatives": 1,
        "xsrc1_cross_source_overlap": 4,
        "wfp1_winnow_fingerprints": 2,
        "wfp2_shared_fingerprint_pairs": 7,
        "drift2_label_centroid_drift": 5,
        "bpe3_vocab_coverage": 1,
        "skw2_salted_join_revenue": 2,
        "skw3_two_phase_event_value": 3,
        "rfm1_customer_segments": 3,
        "batch1_length_buckets": 3,
        # cur1 3 — returned plan after the eager ntile: rank window +
        #        phase agg + order (ppl1's stages ran in the checkpoint)
        "cur1_curriculum_phases": 3,
        # dd4 6 — the inline LSH pair derivation (bands join + verify)
        #        + member explode/distinct + source rollup; the
        #        production path consumes the persisted pair index
        "dd4_source_neardup_rates": 6,
        # nov1 3 — distinct (doc, gram-hash), gram df agg, per-doc agg
        #        (+order folded by AQE)
        "nov1_ngram_novelty": 3,
        # msk1 1 — map-only higher-order aggregate; result order only
        "msk1_span_corruption_stats": 1,
        # dsir1 6 — the ppl1 shape + the two-sided token-count agg:
        #        (doc,tok) agg, tok agg, 1-row total, tok re-exchange
        #        for the join, per-doc agg, result order
        "dsir1_importance_weights": 6,
        # zipf1 4 — (source, tok) combining agg, source-KEYED rank
        #        window (never a global sort), per-source agg, result
        #        order
        "zipf1_source_zipf_slope": 4,
        # bpe4 2 — map-only merge application riding the scan, lang
        #        combining agg, result order
        "bpe4_lang_fertility": 2,
        # ppl2 8 — the dsir1 shape one join deeper: (doc, bg) agg, bg
        #        agg, prefix re-combine, two join re-exchanges, 1-row
        #        vocab agg, per-doc agg, result order
        "ppl2_bigram_logloss": 8,
        # mix4 2 — ONE corpus combining shuffle to the source rollup;
        #        the water-filling windows run single-partition over the
        #        DIMENSION-SIZED rollup (the mix3 precedent, documented)
        "mix4_unimax_allocation": 2,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        ids = shuffle_ids(plan)
        assert len(ids) <= budget, f"{name}: {len(ids)} shuffles > budget {budget}\n{plan}"


def test_round7_operator_shuffle_budgets(spark, sf_dir):
    """Budgets for the round-7 additions (ceilings, broadcasts excluded):
      gq1   0 — pure Column battery riding the scan; not even a result
            order (per-doc map output)
      xsd1  3 — gram-key window count (ONE shuffle, no join back),
            doc-key islands window, result order
      drm1  8 — (source,tok) combining agg, tok rollup-of-rollup, 1-row
            total, the tok join's two re-exchanges, source agg, the
            single-partition dimension-rollup window, result order
      prep3 9 — the returned plan after the eager survivors checkpoint
            (the 3-gate cascade ran once inside it): drm1's stages over
            the checkpoint scan + the per-source doc count + the
            apportionment windows + result order
      w3/out1 — a grouped ordered.running: the (pid, group) window
            re-exchange over the checkpointed range partitioning, the
            offsets a map-literal lookup (2 each incl. result order)
    """
    _reset_plan_state(spark)
    budgets = {
        "gq1_gopher_quality": 0,
        "xsd1_exact_substring_dedup": 3,
        "drm1_doremi_weights": 8,
        "prep3_fineweb_manifest": 9,
        "w3_order_quartiles": 2,
        "out1_iqr_outliers": 3,
        # returned plan after the per-step checkpoints: the final order
        # over the pinned selection (an UNPINNED greedy unroll triples
        # the plan per step — 200+ exchanges at k=5; the audit keeps it
        # from coming back)
        "mmr1_diversified_topk": 2,
        # auc1 2 — ordered.running's offset window re-exchange (the
        #        range partitioning ran in the checkpoint) + the 1-row
        #        rank-sum aggregate
        "auc1_classifier_auc": 2,
        # cart1 1 — map-only scoring of every GD step; result order only
        "cart1_dataset_cartography": 1,
        # rho1 13 — pure composition cost: ppl1's stages + ppl2's
        #        stages + the doc_id join re-exchanges; no stage beyond
        #        what the two standalone LM operators already pay
        "rho1_excess_loss_selection": 13,
        # pmi1 7 — bigram agg + tok agg + their two 1-row totals + the
        #        two word-key join re-exchanges + the filtered
        #        collocation side; top-k is TakeOrderedAndProject
        "pmi1_collocations": 7,
        # kn1 10 — ppl2's stages plus the prefix/continuation
        #        re-combines of the bigram-TYPE table and their join
        #        re-exchanges (vocab-bounded, corpus-scale free)
        "kn1_kneser_ney_logloss": 10,
        # prune1 2 — returned plan after a grouped ordered.running's
        #        checkpointed range partitioning: the (pid, label)
        #        window re-exchange + result order; the centroid and
        #        per-vector combining aggs ran inside the checkpoint
        "prune1_prototype_pruning": 2,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        ids = shuffle_ids(plan)
        assert len(ids) <= budget, f"{name}: {len(ids)} shuffles > budget {budget}\n{plan}"


def test_round8_operator_shuffle_budgets(spark, sf_dir):
    """Budgets for the round-8 additions (ceilings, broadcasts excluded):
      lex1   0 — pure Column battery (sort_array + zip_with adjacency)
             riding the scan, per-doc map output, not even a result order
      cal1   0 — map-only scoring (weights are plan literals) + ONE
             <=10-group agg; the <=10-row localCheckpoint pins the result
      bq1    1 — packing is map-side, queries broadcast; the only
             exchange is the per-query top-k window
      heaps1 4 — first-occurrence agg (token-hash key), per-doc new-type
             agg, ordered.ntile's offset re-exchange over the
             checkpointed range partitioning, the 10-row cumsum window +
             result order share the single-partition tail
      ccnet1 4 — ppl1's stages + the lang join + the grouped-rank
             re-exchange + the <=3q-row rollup
      cov1   5 — token-count agg, 1-row total, ordered.running's offset
             re-exchange, band agg, <=|checkpoints|-row cumsum/order
      tfidf1 6 — (doc,term) tf agg, term df agg, the tf-side join
             re-exchange, per-doc top-k window, result order
      js1    4 — (source,th) agg, the (pair,th) re-agg, pair rollup,
             result order; the |sources|-row totals checkpoint keeps the
             FOUR tiny consumers (broadcast tot, pairs a/b, membership)
             from re-planning the corpus aggs (13 exchanges before)
    """
    _reset_plan_state(spark)
    budgets = {
        "lex1_lexical_diversity": 0,
        "cal1_calibration_bins": 0,
        "bq1_binary_hamming_knn": 1,
        "heaps1_vocab_growth": 4,
        "ccnet1_perplexity_buckets": 4,
        "cov1_vocab_coverage": 5,
        "tfidf1_top_terms": 6,
        "js1_source_divergence": 4,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        ids = shuffle_ids(plan)
        assert len(ids) <= budget, f"{name}: {len(ids)} shuffles > budget {budget}\n{plan}"


def test_round8_second_batch_shuffle_budgets(spark, sf_dir):
    """Budgets for the round-8 second batch (ceilings, broadcasts
    excluded):
      rd1     0 — pure regexp/size Column battery riding the scan,
              per-doc map output (the gq1/lex1 shape)
      sil1    2 — returned plan after _fitted_centroids' driver
              collects: the map-only margin pass + <=k-group agg +
              result order share the agg exchanges
      ks1     2 — the (value)-grid agg + the <=1-row max; the CDF
              prefix sums ran inside ordered.running's
              checkpointed range partitioning, totals are literals
      anon2   3 — count_distinct's two-phase expand + result order
      shard1  3 — ordered.running's offset window re-exchange over
              the checkpointed range partitioning + the <=n_shards
              rollup + result order
      lshrec1 7 — pure composition: brute-force side (top-k window) +
              LSH side (bucket join + distinct + top-k window) + the
              recall join re-exchanges; no stage beyond what the two
              audited operators already pay
    """
    _reset_plan_state(spark)
    budgets = {
        "rd1_readability": 0,
        "sil1_cluster_margins": 2,
        "ks1_value_drift": 2,
        # same CDF shape as ks1: grid agg + <=1-row percentile probe
        "pctl2_exact_value_percentiles": 2,
        # joint agg + two bounded marginal rollups + result order; the
        # 1-row total and both marginals ride in as broadcasts
        "mi1_lang_source_mi": 5,
        # composition: exact top-k window + bq1's top-k window + the
        # recall join re-exchanges + rollup + result order
        "bqrec1_binary_recall_audit": 6,
        "anon2_l_diversity": 3,
        "shard1_balanced_shards": 3,
        "lshrec1_recall_audit": 7,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        ids = shuffle_ids(plan)
        assert len(ids) <= budget, f"{name}: {len(ids)} shuffles > budget {budget}\n{plan}"


def test_round10_operator_shuffle_budgets(spark, sf_dir):
    """Budgets for the round-10 additions (ceilings, broadcasts
    excluded), measured on the RETURNED plan:
      psi1    2 — ONE map-side-combining bin-count groupBy over the scan
              + the result order; the reference-decile edges ride in as
              literals from the construction-time prefix-sums pass and
              the 10-row densify frame broadcasts
      mmd1    2 — the (label, dim) reduction is checkpointed ONCE
              (bounded |labels|·d rows) so the pairwise self-join reads
              it with a broadcast right side instead of re-scanning the
              corpus; final rollup + order
      pcarec1 6 — pure composition over the persisted snapshot: two
              kNN top-k window pairs + the recall join re-exchanges +
              rollup + order (one fewer than lshrec1: the snapshot scan
              replaces the corpus-side bucket stage)
    """
    _reset_plan_state(spark)
    budgets = {
        "psi1_population_stability": 2,
        "mmd1_embedding_drift": 2,
        "pcarec1_pca_recall_audit": 6,
        # chi21: the corpus agg is checkpointed at construction (the mi1
        # pin); the 4 exchanges are the two bounded marginal rollups,
        # the densify join's right side, and the result order — every
        # one over |langs|·|sources|-bounded rows
        "chi21_lang_source_chi2": 4,
        # iqr1: grid agg + ONE source-partitioned window exchange (the
        # running count, the per-source total max, and the quartile
        # groupBy all share it) + the flag-pass agg + result order
        "iqr1_source_length_outliers": 4,
        # conc1: the |sources|-row reduction is checkpointed at
        # construction; the 3 exchanges are its rank window (a bounded
        # single partition) and the two 1-row readout aggs
        "conc1_source_concentration": 3,
        # acf1: daily grain + devs both checkpointed at construction;
        # the 3 exchanges are the 1-row denominator agg, the per-lag
        # rollup, and the result order — all calendar-bounded
        "acf1_daily_autocorrelation": 3,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        ids = shuffle_ids(plan)
        assert len(ids) <= budget, f"{name}: {len(ids)} shuffles > budget {budget}\n{plan}"


def test_round10_second_batch_shuffle_budgets(spark, sf_dir):
    """Budgets for the round-10 second batch (ceilings, broadcasts
    excluded), measured on the RETURNED plan. All four run their heavy
    reduction at the DAY / digit grain — calendar- or domain-bounded —
    so every exchange below moves bounded rows:
      dow1  2 — the daily grain is checkpointed at construction; the
            bounds agg fuses with the spine explode, leaving the isodow
            rollup + the result order over ≤7 rows
      tsen1 2 — the pairwise-slope frame is the checkpointed output of
            ordered.running (construction-time, the pctl2 sanction);
            the returned plan is the median filter + the 1-row
            Mann–Kendall agg broadcast back (the day_a<day_b pairing is
            a BroadcastNestedLoopJoin over the calendar-bounded spine —
            sanctioned, both sides ≤|days| rows)
      cpd1  4 — prefix sums ride the construction-time checkpoint; the
            exchanges are the 1-row max-|S| agg, its broadcast-back
            grouping, and the bounded readout rollup
      ben1  4 — ONE map-side-combining digit agg over the orders scan
            (9 groups); the rest are the 1-row total agg, the 9-row
            densify join side, and the result order
    """
    _reset_plan_state(spark)
    budgets = {
        "dow1_weekly_profile": 2,
        "tsen1_daily_trend": 2,
        "cpd1_mean_shift": 4,
        "ben1_benford_audit": 4,
        # ndcg1: the BM25 top-k and the (query, rel, rank) cells frame
        # are both checkpointed at their bounded sizes at construction;
        # the 12 budget covers the small-grain readout lattice
        # (histogram, cumulative window, ideal join, two gain sums,
        # max/first-best, final joins + order) — every exchange moves
        # ≤|q|·levels·(k+1) rows
        "ndcg1_retrieval_quality": 12,
        # mhcal1: banded-bucket candidate generation (one shuffle on the
        # bucket key), pair-anchored exact-Jaccard joins (keyed on the
        # bounded candidate set — never the all-rare-pairs self-join),
        # set-size agg, and the ≤10-row decile rollup + order
        "mhcal1_minhash_calibration": 9,
        # roll1/roll2: the artifact probes — the day grain is READ from
        # the rollup's sum-merge (one bounded exchange) and checkpointed
        # by _daily_spine; the rest is the inline readout over ≤|days|
        # rows (the build itself runs at construction, the pq1 sanction)
        "roll1_indexed_acf": 4,
        "roll2_indexed_dow": 3,
        # stl1: filled spine and interior-z both checkpointed at
        # construction; the returned plan is the ≤7-row dow-mean agg
        # and the variance rollup over interior rows
        "stl1_seasonal_strength": 2,
        # rbo1: the r12 shared-bm25 restructure checkpoints ONE
        # candidate table (construction-time, the pctl2 sanction) that
        # both rankings derive from — the corpus-scale bm25 stage runs
        # once instead of twice. The returned plan's 8 exchanges ALL
        # run at the checkpointed ≤|q|·n_candidates grain: the hybrid
        # blend's min-max + rank windows and cosine join on the
        # candidate side, the two per-ranking counts, the pair join,
        # the full-outer base, and the readout order (was 7 when the
        # lexical ranking re-ran bm25 from the corpus; +1 bounded
        # exchange bought the removal of a full corpus pass)
        "rbo1_rank_agreement": 8,
        # hurst1: spine checkpointed at construction; the (w, win)
        # window-stat lattice (per-window mean, cumulative fold, R/S,
        # per-size means, 1-row OLS moments) all runs at the calendar-
        # bounded grain with w-bounded window partitions
        "hurst1_long_memory": 7,
        # cal2: map-only scoring + ONE ≤10-group bin agg (checkpointed);
        # the decomposition is a 1-row totals broadcast + tiny rollup
        "cal2_brier_decomposition": 2,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        ids = shuffle_ids(plan)
        assert len(ids) <= budget, f"{name}: {len(ids)} shuffles > budget {budget}\n{plan}"


def test_round9_operator_shuffle_budgets(spark, sf_dir):
    """Budgets for the round-9 additions (ceilings, broadcasts
    excluded), all measured on the RETURNED plan — the kmeans-family
    codebook/centroid fits run their own bounded driver collects before
    the plan exists (the kmeans1/sil1 sanction):
      w1d1    2 — ks1's CDF shape: the (value)-grid agg + the <=1-row
              nano-unit sum; prefix sums and the lead() both ride the
              checkpointed range partitioning, totals are literals
      sim_knn_ivf 2 — probe ranking over the k-row centroid broadcast +
              the per-query exact-rerank top-k window; the cell join is
              broadcast (probe side is <=|q|·nprobe rows)
      pq1     1 — encode is map-only (the arrowquant MapInArrow stage,
              checkpointed at construction), the ADC is
              map-only over the broadcast lut; the ONE exchange is the
              candidate/rerank top-k window pair sharing partitioning
      ivfrec1 7 / pqrec1 6 — pure composition: both audited operators'
              stages + the recall join re-exchanges; nothing beyond
              what the composed operators already pay
    """
    _reset_plan_state(spark)
    budgets = {
        "w1d1_value_drift": 2,
        "cvm1_value_drift": 2,
        "sim_knn_ivf": 2,
        "pq1_quantized_knn": 1,
        # fused assign+encode is map-only; probe table and luts ride as
        # broadcasts — the one exchange is the candidate/rerank window
        "ivfpq1_quantized_knn": 1,
        # residual mode: identical returned-plan shape (the means and
        # residual-fit jobs run at construction time, like the raw fits)
        "ivfpq2_residual_knn": 1,
        "ivfrec1_ivf_recall_audit": 7,
        "pqrec1_pq_recall_audit": 6,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        ids = shuffle_ids(plan)
        assert len(ids) <= budget, f"{name}: {len(ids)} shuffles > budget {budget}\n{plan}"


def test_round11_operator_shuffle_budgets(spark, sf_dir):
    """Budgets for the round-11 additions (ceilings, broadcasts
    excluded), measured on the RETURNED plan:
      adrec1/pxrec1/hllrec1/mgrec1 — the sketch-error audits: each is
            the exact-side reduction over the raw scan (map-side
            combining), the ≤|groups|-row snapshot broadcast-joined,
            and the result order; hllrec1 adds the union branch and
            the all-days 1-row agg
      mb1   7 — (order, part) distinct + the orderkey self-join feed +
            pair/item aggs + the two partkey joins; the top-k cut is
            TakeOrderedAndProject, never a full sort
      burst1 6 — a grouped ordered.running's range exchange rides the
            construction-time checkpoint; the rn↔rn+1 null-safe
            equi-join re-exchanges both bounded sides, then one
            map-side-combining moment agg + result order
      anom1 2 — the stl1 chain: spine/interior frames are checkpointed
            at construction; the returned plan is the dow rollup and
            the result order (trend MA join broadcasts, variance is a
            1-row broadcast)
      id1   2 — knn_bruteforce's top-k window exchange + the ≤|panel|
            pivot agg; the readout is a 1-row filter
    """
    _reset_plan_state(spark)
    budgets = {
        "adrec1_distinct_error_audit": 3,
        "pxrec1_percentile_rank_audit": 2,
        "hllrec1_merge_error_audit": 5,
        "mgrec1_heavy_hitter_audit": 2,
        "mb1_part_affinity": 7,
        "burst1_interarrival_burstiness": 6,
        "anom1_seasonal_anomalies": 2,
        "id1_intrinsic_dimension": 2,
        # surv1: the three user-keyed aggs feed the construction-time
        # prefix-sum checkpoints; the returned plan is the final KM
        # readout + result order over duration-day-bounded rows
        "surv1_conversion_survival": 2,
        # pur1: the fit is kmeans1's (construction-time); the readout is
        # the (cluster, label) agg, its vec_id assignment join, the
        # ≤k·|labels| majority window, the ≤k totals rollup + order
        "pur1_cluster_purity": 5,
        # ent1: m1's keyed lag window + transition agg, then the
        # |types|-bounded totals join, term agg and order
        "ent1_transition_entropy": 6,
        # wau1: the (user, day) dedup + the (day, user) distinct agg are
        # the two corpus shuffles; spine join + order are day-bounded
        "wau1_rolling_weekly_active": 4,
        # hll2: the exact-overlap self-join keys on user_id (one dedup +
        # one join exchange), the pair agg, the |pairs|-row snapshot
        # join side + order
        "hll2_overlap_audit": 5,
        # ret1: ONE (user, day) dedup feeds both sides; the retained
        # join + distinct agg, the actives agg, day-grain join + order
        "ret1_rolling_retention": 6,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        ids = shuffle_ids(plan)
        assert len(ids) <= budget, f"{name}: {len(ids)} shuffles > budget {budget}\n{plan}"


def test_round12_audlog1_probe_plan(spark, sf_dir):
    """audlog1's RETURNED plan must be the stored-log read, nothing
    more: the per-batch audit appends are construction-time side
    effects (each one batch-grain agg), so the probe is a parquet scan
    whose epoch-range predicate reaches PartitionFilters (stale epochs
    never read), the epoch column is pruned away, and the only
    exchange is the result order."""
    _reset_plan_state(spark)
    plan = plan_of(QUERIES["audlog1_batch_audit_log"](spark, sf_dir))
    ids = shuffle_ids(plan)
    assert len(ids) <= 1, f"audlog1: {len(ids)} shuffles > budget 1\n{plan}"
    assert "PartitionFilters: [isnotnull(epoch" in plan, plan
    assert "epoch" not in plan.split("ReadSchema:", 1)[1].split("\n", 1)[0], (
        "epoch must be partition-pruned out of the read schema"
    )


def test_round12_operator_shuffle_budgets(spark, sf_dir):
    """Budgets for the round-12 batch (ceilings, broadcasts excluded),
    measured on the RETURNED plan:
      cms1 3 — the ≤1024-cell CMS table agg (which IS the sketch) +
            the exact-recount agg on the probe-token semi-join + the
            result order; the est lookup rides a broadcast of the
            bounded cells table
      fun1 2 — the whole 3-step cascade folds inside ONE user-keyed
            combining agg (time-sorted array fold; first qualifying
            event per stage == the min-time cascade) + the 1-row step
            count reduction; rewritten down from the naive 10-shuffle
            per-step join chain
      gt1 3 — the (source, tok) combining agg + the per-source rollup
            + the result order
      ney1 4 — ONE sufficient-statistics agg + the 1-row micro-unit
            normalizer agg + result order
      kap1 1 — t3's map-only scoring collapses into a single 4-cell
            reduction
    """
    _reset_plan_state(spark)
    budgets = {
        "cms1_countmin_audit": 3,
        "fun1_ordered_funnel": 2,
        "gt1_good_turing": 3,
        "ney1_neyman_allocation": 4,
        "kap1_cohens_kappa": 1,
        # second wave:
        # deg1 — the LSH band/bucket candidate stages (shared with the
        #        dd_minhash family) + the endpoint degree agg + the
        #        degree histogram agg + result order
        "deg1_dup_degree_hist": 6,
        # mad1 — the RETURNED plan is the deviation stage's distinct agg
        #        + its prefix-sum range exchange (the median stage ran
        #        at construction, pctl2 discipline)
        "mad1_value_mad": 2,
        # theil1 — customer-keyed spend agg + the 1-row total + the
        #        nano-term reduction
        "theil1_spend_inequality": 4,
        # simp1/cha1 — (source, tok) agg + per-source rollup + order
        "simp1_simpson_diversity": 3,
        "cha1_chao1_richness": 3,
        # spr1 — the pair join + two rank2x value aggs (each: distinct
        #        agg + prefix-sum range exchange) + the rank-table
        #        joins back onto the stream + one 5-sum reduction
        "spr1_spearman_rank_corr": 7,
        # ptt1 — construction-time _daily_spine/rank2x/prefix passes
        #        are checkpointed; the returned plan is the bounded
        #        day-grain argmax (TakeOrdered) + one exchange
        "ptt1_pettitt_change_point": 2,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        ids = shuffle_ids(plan)
        assert len(ids) <= budget, f"{name}: {len(ids)} shuffles > budget {budget}\n{plan}"


def test_round12_wave4_shuffle_budgets(spark, sf_dir):
    """Budgets for the fourth-wave batch (ceilings on the RETURNED
    plan, broadcasts excluded). Each op's single corpus-scale agg is
    checkpointed at a bounded grain so its multiple consumers never
    re-scan the corpus — the budgets pin that (the pre-fix plans ran
    6/9/7/45 shuffles for anova1/kw1/llr1/delta1 because every
    consumer subtree re-evaluated the corpus agg):
      anova1 3 — the priority-keyed sufficient-stats agg (checkpointed)
            + the 1-row global re-combine + the micro-term reduction
      kw1   4 — value-grain agg + its prefix-sum range exchange +
            the rank join back onto the stream feeding the per-source
            agg + the 1-row re-combines (ties ride the same pin)
      ktau1 2 — the day-grain combining agg (checkpoint construction)
            + the five-counter pair reduction; the day-pair join is a
            broadcast BNL of a calendar-bounded side
      cusum1 1 — everything after the construction-time spine/prefix/
            extrema passes is the bounded day-grain argmax probes
      llr1  3 — the bigram-type agg (checkpointed) + marginal
            re-combines + TakeOrdered
      dpn1  2 — the (source, lang) cell agg + result order; noise is
            map-only
      delta1 4 — the (source, token) corpus agg (checkpointed) + the
            bounded grid/stat re-combines + the pair-grain agg
      zord1 12 — five ordered.ntile range exchanges (2 bin dims +
            3 layouts) + three per-file aggs + final combines; every
            pass reads the previous pin, never the raw scan twice
    """
    _reset_plan_state(spark)
    budgets = {
        "anova1_priority_anova": 3,
        "kw1_kruskal_wallis": 4,
        "ktau1_kendall_tau": 2,
        "cusum1_cusum_drift": 1,
        "llr1_dunning_collocations": 3,
        "dpn1_dp_noisy_counts": 2,
        "delta1_burrows_delta": 4,
        "zord1_zorder_layout": 12,
        # fifth wave:
        # dw1 — the stats agg + the lag-diff agg, both over the
        #       checkpointed spine; the lag pairing is a broadcast
        #       equi join
        "dw1_durbin_watson": 2,
        # runs1 — sign-sequence rank exchange + the change/count aggs
        #       over the bounded day grain
        "runs1_runs_test": 4,
        # welch1 — 0: the returned 1-row plan reads only the
        #       checkpointed per-source stats (broadcast cross joins)
        "welch1_source_welch_t": 1,
        # mwu1 — the per-source rank-sum agg over the pooled stream;
        #       rank grid and sizes ride construction-time pins
        "mwu1_mann_whitney": 2,
        # qq1 — two decile min-probes + the decile join + result order
        #       (both prefix passes are construction-time pins)
        "qq1_source_length_qq": 5,
        # cdc1 — ONE doc-keyed exchange feeds both the chunk window
        #       and the chunk agg; + the source rollup with exact
        #       distinct + result order
        "cdc1_chunk_dedup": 4,
        # sixth wave:
        # mk1 — S reduction over the bounded day-pair BNL + the
        #       value-grain tie agg + the 1-row n probe, all over the
        #       checkpointed spine
        "mk1_mann_kendall": 4,
        # lev1 — deviation-stream source agg + 1-row re-combines (the
        #       (source,length) grid and medians ride the pin)
        "lev1_brown_forsythe": 3,
        # evt1 — week-keyed max + the 1-row moment reduction
        "evt1_gumbel_return_levels": 2,
        # key1 — marginal re-combines of the checkpointed (source,tok)
        #       table + the grouped-rank range exchange
        "key1_source_keyness": 3,
        # seventh wave:
        # srm1 — the 3-cell gate agg (checkpoint construction) + the
        #       1-row total + the chi2 micro reduction + result order
        "srm1_split_ratio_mismatch": 4,
        # ess1 — ONE source-keyed sufficient-stats agg + result order
        "ess1_length_weight_ess": 2,
        # jk1 — per-source stats pin + replicate-mean and SE
        #       reductions at the <=|sources| grain + result order
        "jk1_source_jackknife": 4,
        # prop1 — ONE four-counter reduction; everything else is a
        #       1-row expression
        "prop1_weekend_conversion": 1,
        # eighth wave: both run their corpus passes at construction
        # (median/MAD prefix pins + 3 IRLS sufficient-stats aggs;
        # the day-grain LLR prefix) — the RETURNED plan is a literal
        # row each
        "hub1_huber_robust_mean": 1,
        "sprt1_conversion_sprt": 1,
        # ninth wave:
        # hill1 — TakeOrderedAndProject pin + the 100-row log-term agg
        "hill1_tail_index": 2,
        # tail1 — the pair-join pin's four-counter reduction (both
        #       threshold prefix passes are construction-time)
        "tail1_tail_dependence": 2,
    }
    for name, budget in budgets.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        ids = shuffle_ids(plan)
        assert len(ids) <= budget, f"{name}: {len(ids)} shuffles > budget {budget}\n{plan}"
