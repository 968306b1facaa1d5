"""Driver-visible error audits for the sketch family (r10 verdict ask
#1) — the pcarec1 snapshot-audit pattern applied to the three
rows-only sketch readouts:

  adrec1  — approx_count_distinct (HLL++) per-type cardinality error
  pxrec1  — percentile_approx (GK/KLL-style) rank error of p50/p95/p99
  hllrec1 — hll_sketch_agg daily sketches + the UNIONED all-days
            estimate (mergeability error, driver-visible)

The sketches themselves have no SQL oracle BY NATURE: Spark's HLL++ /
quantile-summary internals differ from DuckDB's, so estimate values
are engine-specific. But the AUDIT — how far the estimate sits from
the exact answer, normalized against the sketch's documented error
bound — is a pure relational function of (a) a Spark-written snapshot
holding the estimates and (b) the raw events both engines read. So:

  1. Spark runs the sketch and persists ONE snapshot parquet of
     (key, estimate) — overwritten on every call, always the corpus
     under test (the pcarec1 discipline: the Spark side runs before
     the paired oracle in every harness, and correctness depends only
     on both sides reading the SAME snapshot, never on which corpus
     was snapshotted);
  2. BOTH engines compute exact ground truth from the raw events and
     join it against the snapshot — every audited number (abs error,
     relative error, rank distance, the within-bound verdict) is then
     hash-comparable cross-engine.

This converts "trust the sketch" into a driver-verified contract: the
CORRECTNESS row proves not just that the audit query agrees, but that
the recorded estimates sit inside their published envelopes on the
corpus under test (each audit also carries a pytest pinning the
within_bound column TRUE on the clean fixtures).

The caller owns the snapshot path: every audit takes it as a required
argument, and the query entry and its oracle name the same file.

Reference parity note: the reference repo (csv-crm-upload,
database/database.go) has no sketch surface; this is part of the
widened 100 TB analytics family (SURVEY §6) where approximate
cardinalities/percentiles are the only affordable form of the readout.

Scale shape: each audit is one sketch pass (map-side combining, fixed
memory per group), one exact-agg pass (the expensive shuffle the
sketch exists to avoid — affordable HERE because the audit runs on a
sampled/QA slice, and the whole point is to measure the sketch against
it), and a broadcast join of the ≤|groups|-row snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 3-sigma relative-error envelope for approx_count_distinct at the
#: default rsd=0.02 used by approx_distinct_users.
ADREC1_BOUND = 0.06

#: percentile_approx(accuracy=10000) guarantees a returned element
#: whose rank sits within n/accuracy of the target rank; the audit
#: allows that plus ONE rank of tie/discreteness slack.
PXREC1_EPS = 1.0 / 10000.0

#: 3-sigma envelope for hll_sketch_agg at its default lgConfigK=12
#: (rsd = 1.04/sqrt(2^12) ≈ 1.63%) — applies to the per-day sketches
#: AND the unioned all-days estimate (HLL union is lossless: the
#: merged register array is exactly the sketch of the union).
HLLREC1_BOUND = 0.05

def adrec1_distinct_error_audit(events: DataFrame, path: str) -> DataFrame:
    """Relative error of the HLL++ per-type user cardinalities against
    exact COUNT(DISTINCT), with the 3-sigma verdict column.

    rel_err divides by greatest(exact, 1): a group whose user_ids are
    all NULL has exact = 0 (count_distinct ignores NULLs in both
    engines) and approx = 0 — the guard keeps the readout 0.0 instead
    of NULL/NaN (the zipf1 divergence class)."""
    from csv_crm_upload_spark.analytics.tpch import approx_distinct_users

    spark = events.sparkSession
    approx_distinct_users(events).select("event_type", "approx_users").write.mode(
        "overwrite"
    ).parquet(path)
    # read BACK (never the in-memory lineage): the audit must be a pure
    # function of the files the DuckDB oracle will read
    snap = spark.read.schema("event_type string, approx_users long").parquet(path)
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    abs_err = F.abs(F.col("approx_users") - F.col("exact_users")).cast("long")
    rel_err = F.round(
        abs_err.cast("double") / F.greatest(F.col("exact_users"), F.lit(1)).cast("double"),
        9,
    ) + F.lit(0.0)
    return (
        exact.join(F.broadcast(snap), "event_type")
        .select(
            "event_type",
            "exact_users",
            "approx_users",
            abs_err.alias("abs_err"),
            rel_err.alias("rel_err"),
            (rel_err <= F.lit(ADREC1_BOUND)).alias("within_bound"),
        )
        .orderBy("event_type")
    )


def pxrec1_percentile_rank_audit(events: DataFrame, path: str) -> DataFrame:
    """Rank error of percentile_approx's p50/p95/p99 against the exact
    order statistics — the KLL/GK audit in the guarantee's own terms:
    the sketch promises a returned ELEMENT whose rank is within
    n/accuracy of q·n, so the audit measures the distance from the
    target rank q·n to the returned value's tie interval
    [count(v < x), count(v <= x)] (0 when the target falls inside),
    never a value-space delta (value error is data-scale-dependent and
    unbounded; rank error is the contract).

    within_bound allows eps·n plus ONE rank of discreteness slack.
    Groups with zero non-NULL values drop out of the inner join (the
    sketch returns NULL there and exact has no row — both engines)."""
    from csv_crm_upload_spark.analytics.tpch import approx_value_percentiles

    spark = events.sparkSession
    approx_value_percentiles(events).select("event_type", "p50", "p95", "p99").write.mode(
        "overwrite"
    ).parquet(path)
    snap = spark.read.schema(
        "event_type string, p50 double, p95 double, p99 double"
    ).parquet(path)
    vals = events.filter(F.col("value").isNotNull()).select("event_type", "value")
    joined = vals.join(F.broadcast(snap), "event_type")

    def lo(p):  # strictly-below count: the tie interval's left edge
        return F.sum((F.col("value") < F.col(p)).cast("long")).cast("long")

    def hi(p):
        return F.sum((F.col("value") <= F.col(p)).cast("long")).cast("long")

    per_type = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        lo("p50").alias("lo50"),
        hi("p50").alias("hi50"),
        lo("p95").alias("lo95"),
        hi("p95").alias("hi95"),
        lo("p99").alias("lo99"),
        hi("p99").alias("hi99"),
    )
    q_rows = F.array(
        *[
            F.struct(
                F.lit(label).alias("quantile"),
                F.lit(frac).alias("qfrac"),
                F.col(l).alias("lo_rank"),
                F.col(h).alias("hi_rank"),
            )
            for label, frac, l, h in [
                ("p50", 0.50, "lo50", "hi50"),
                ("p95", 0.95, "lo95", "hi95"),
                ("p99", 0.99, "lo99", "hi99"),
            ]
        ]
    )
    un = per_type.select("event_type", "n", F.explode(q_rows).alias("q")).select(
        "event_type",
        F.col("q.quantile").alias("quantile"),
        F.col("q.qfrac").alias("qfrac"),
        "n",
        F.col("q.lo_rank").alias("lo_rank"),
        F.col("q.hi_rank").alias("hi_rank"),
    )
    target = F.col("qfrac") * F.col("n").cast("double")
    dist = F.when(target < F.col("lo_rank").cast("double"), F.col("lo_rank") - target) \
        .when(target > F.col("hi_rank").cast("double"), target - F.col("hi_rank")) \
        .otherwise(F.lit(0.0))
    rank_err = F.round(dist / F.col("n").cast("double"), 9) + F.lit(0.0)
    return un.select(
        "event_type",
        "quantile",
        "n",
        "lo_rank",
        "hi_rank",
        rank_err.alias("rank_err"),
        (dist <= F.lit(PXREC1_EPS) * F.col("n").cast("double") + F.lit(1.0)).alias(
            "within_bound"
        ),
    ).orderBy("event_type", "quantile")


def hllrec1_merge_error_audit(events: DataFrame, path: str) -> DataFrame:
    """Relative error of the persisted daily HLL estimates AND of the
    union-of-sketches all-days estimate against exact distinct counts —
    the mergeability contract made driver-visible: the `all_days` row's
    estimate comes from hll_union_agg over the per-day sketches (never
    a rescan), so its error staying inside the same envelope as the
    per-day rows proves union-of-sketches ≈ sketch-of-union on the
    corpus under test (bit-exactness of the union is pinned separately
    in pytest, where both sketch binaries are visible)."""
    from csv_crm_upload_spark.analytics.tpch import hll1_mergeable_daily_uniques

    spark = events.sparkSession
    hll1_mergeable_daily_uniques(events).write.mode("overwrite").parquet(path)
    # a zero-row corpus records ('all_days', NULL) — hll_union_agg over
    # nothing estimates nothing; the audit covers recorded ESTIMATES
    # only (NULL-vs-0 arithmetic would diverge cross-engine)
    snap = (
        spark.read.schema("day string, est_unique_users long")
        .parquet(path)
        .filter(F.col("est_unique_users").isNotNull())
    )
    per_day = events.groupBy(
        F.date_trunc("day", F.col("ts")).cast("string").alias("day")
    ).agg(F.count_distinct("user_id").cast("long").alias("exact_users"))
    total = events.agg(
        F.lit("all_days").alias("day"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
    )
    exact = per_day.unionByName(total)
    abs_err = F.abs(F.col("est_unique_users") - F.col("exact_users")).cast("long")
    rel_err = F.round(
        abs_err.cast("double") / F.greatest(F.col("exact_users"), F.lit(1)).cast("double"),
        9,
    ) + F.lit(0.0)
    return (
        exact.join(F.broadcast(snap), "day")
        .select(
            "day",
            "exact_users",
            F.col("est_unique_users").alias("approx_users"),
            abs_err.alias("abs_err"),
            rel_err.alias("rel_err"),
            (rel_err <= F.lit(HLLREC1_BOUND)).alias("within_bound"),
        )
        .orderBy("day")
    )


#: hh1's Misra-Gries parameters, repeated here because the WITHIN-BOUND
#: verdict is stated in their terms: merged lower bounds undercount by
#: at most N/MGREC1_K total (Agarwal et al. 2012 mergeability).
MGREC1_K = 200
MGREC1_THRESHOLD_K = 100

#: The shared explicit whitespace class (textstats.MG_WS) as the regex
#: the DuckDB oracle's string_split_regex must use — spelled out
#: because Python/Java \s include \x0B while RE2's does not (advice
#: r11); all three dialects read this class identically.
MGREC1_WS_SQL = r"[ \t\n\x0B\f\r]+"


def mgrec1_heavy_hitter_audit(documents: DataFrame, path: str) -> DataFrame:
    """Error audit for the Misra-Gries heavy-hitter sketch
    (textstats.hh1_heavy_hitter_tokens) — the fourth sketch under the
    snapshot-audit pattern, and the one whose ESTIMATES are not even
    run-deterministic (the surviving counter set depends on partition
    stream order), which is exactly why the snapshot pattern is the
    only way to drive-verify it: the reported (token, lower bound)
    rows are frozen to parquet, then BOTH engines recount those tokens
    exactly and check the MG contract — every lower bound undercounts
    (undercount >= 0) by at most N/k in merged total
    (undercount * k <= N, pure integer arithmetic).

    The exact side tokenizes as the sketch does — lowered, split on
    the EXPLICIT class MG_WS == MGREC1_WS_SQL, empty fragments dropped
    (one spelled-out whitespace class on all three surfaces: the
    sketch's Python regex, Spark's Java regex, the oracle's RE2 regex —
    each engine's own \\s differs on \\x0B, advice r11); N is the
    sketch's own recorded token total, counted with the same
    empty-dropping tokenization the MG loop consumed, so the verdict
    tests the sketch against exactly the stream it saw."""
    from csv_crm_upload_spark.analytics.textstats import MG_WS, hh1_heavy_hitter_tokens

    spark = documents.sparkSession
    hh1_heavy_hitter_tokens(
        documents, k=MGREC1_K, threshold_k=MGREC1_THRESHOLD_K
    ).write.mode("overwrite").parquet(path)
    snap = spark.read.schema("tok string, est_count long, n_total long").parquet(path)
    toks = (
        documents.filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.lower(F.col("text")), MG_WS + "+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    exact = (
        toks.join(F.broadcast(snap.select("tok")), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    )
    under = (F.coalesce(F.col("exact_n"), F.lit(0)) - F.col("est_count")).cast("long")
    return (
        snap.join(exact, "tok", "left")
        .select(
            "tok",
            "est_count",
            F.coalesce(F.col("exact_n"), F.lit(0)).cast("long").alias("exact_n"),
            "n_total",
            under.alias("undercount"),
            (
                (under >= 0) & (under * F.lit(MGREC1_K) <= F.col("n_total"))
            ).alias("within_bound"),
        )
        .orderBy(F.col("est_count").desc(), "tok")
    )


#: Count-Min table shape: CMS1_D independent hash rows of CMS1_W
#: counters (4 KiB of longs — fixed memory regardless of vocabulary).
CMS1_D = 4
CMS1_W = 256

#: Per-row Markov envelope multiple: a single row overcounts a token by
#: the collision mass in its cell, expectation ≤ N/W, so
#: P[over > CMS1_SLACK·N/W] ≤ 1/CMS1_SLACK per row (Markov) and the
#: MIN over CMS1_D independent rows fails all four with probability
#: ≤ (1/CMS1_SLACK)^CMS1_D ≈ 2.4e-4 at 8⁴ — tight enough that a
#: within_bound=false row on a real corpus means a broken sketch, not
#: bad luck. Cormode & Muthukrishnan 2005 give the standard e/W·ln(1/δ)
#: form; the audit states the bound in the same integer units as the
#: table.
CMS1_SLACK = 8


def cms1_countmin_audit(documents: DataFrame, path: str) -> DataFrame:
    """Error audit for a Count-Min sketch over the corpus token stream —
    the OVERCOUNT complement to mgrec1's undercount audit (Misra-Gries
    lower-bounds, Count-Min upper-bounds; a monitoring stack wants
    both): one map-side-combining pass folds every token into a
    CMS1_D×CMS1_W counter table (the groupBy(row, col) agg IS the
    sketch — ≤1024 cells however large the vocabulary), the probe set
    is the MG sketch's own reported heavy hitters (the classic
    CMS+heavy-hitter composition: MG names candidates, CMS bounds their
    counts), and the frozen (tok, est, n_total) snapshot is recounted
    exactly by BOTH engines.

    Verdicts in pure integer arithmetic: overcount = est − exact must
    be ≥ 0 (a CMS cell holds the token's full count plus nonnegative
    collision mass — deterministic, not probabilistic) and
    overcount·W ≤ CMS1_SLACK·N (the Markov-by-rows envelope above).
    N is the sketch's own stream total — read back from the row-0
    counters it already holds (Σ cells of one row ≡ the token count),
    so the audit tests the sketch against exactly the stream it folded.
    Tokenization is the shared explicit class (textstats.MG_WS ==
    MGREC1_WS_SQL) on all three surfaces."""
    from csv_crm_upload_spark.analytics.textstats import MG_WS, hh1_heavy_hitter_tokens

    spark = documents.sparkSession
    toks = (
        documents.filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.lower(F.col("text")), MG_WS + "+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    hashes = [
        F.pmod(F.xxhash64(F.col("tok"), F.lit(r)), F.lit(CMS1_W)).cast("int")
        for r in range(CMS1_D)
    ]
    cells = (
        toks.select(F.posexplode(F.array(*hashes)).alias("row", "col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # est(tok) = min over rows of its cell; the cells table is ≤ D·W
    # rows, broadcast to the ≤k-row probe set. n_total rides row 0's
    # counters (every token lands in exactly one cell per row).
    probe = hh1_heavy_hitter_tokens(documents).select("tok")
    probe_cells = probe.select(
        "tok", F.posexplode(F.array(*hashes)).alias("row", "col")
    )
    est = (
        probe_cells.join(F.broadcast(cells), ["row", "col"])
        .groupBy("tok")
        .agg(F.min("c").cast("long").alias("est_count"))
    )
    total = cells.filter(F.col("row") == 0).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_total")
    )
    est.crossJoin(F.broadcast(total)).write.mode("overwrite").parquet(path)
    snap = spark.read.schema("tok string, est_count long, n_total long").parquet(path)
    exact = (
        toks.join(F.broadcast(snap.select("tok")), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    )
    over = (F.col("est_count") - F.coalesce(F.col("exact_n"), F.lit(0))).cast("long")
    return (
        snap.join(exact, "tok", "left")
        .select(
            "tok",
            "est_count",
            F.coalesce(F.col("exact_n"), F.lit(0)).cast("long").alias("exact_n"),
            "n_total",
            over.alias("overcount"),
            (
                (over >= 0)
                & (over * F.lit(CMS1_W) <= F.col("n_total") * F.lit(CMS1_SLACK))
            ).alias("within_bound"),
        )
        .orderBy(F.col("est_count").desc(), "tok")
    )


#: 3-sigma-ish envelope for the inclusion-exclusion INTERSECTION
#: estimate: each of the three HLL cardinalities (|A|, |B|, |A∪B|)
#: carries rsd ≈ 1.63% at the default lgConfigK=12, and the estimator
#: subtracts them, so errors ADD in the worst case — the audit allows
#: 5% of the summed magnitudes (≈ 3σ with full correlation headroom).
HLL2_BOUND = 0.05


def hll2_overlap_estimates(events: DataFrame) -> DataFrame:
    """Sketch-algebra audience overlap: |A ∩ B| per event-type pair by
    inclusion-exclusion over HLL sketches (est_a + est_b − est_union,
    the union via lossless register merge) — THE cross-audience
    question ("how many purchasers also error?") answered from stored
    per-segment sketches without rescanning raw events. One corpus
    scan builds |types| sketches; the pair table is |types|²-bounded.
    Estimates are engine-specific (rows-only by nature) — the
    oracle-paired surface is hll2_overlap_audit below."""
    # aggregate the sketch ONCE per group; the estimate is a projection
    # of the finished register array, not a second aggregation
    sk = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    ).select(
        "event_type", "sk", F.hll_sketch_estimate("sk").cast("long").alias("est")
    )
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"), F.col("est").alias("est_a")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"), F.col("est").alias("est_b")
    )
    return (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "est_a",
            "est_b",
            F.hll_sketch_estimate(F.hll_union(F.col("sk_a"), F.col("sk_b")))
            .cast("long")
            .alias("est_union"),
        )
    )


def hll2_overlap_audit(events: DataFrame, path: str) -> DataFrame:
    """Error audit for the inclusion-exclusion overlap estimator — the
    sketch-ALGEBRA audit (adrec1 checks one sketch; THIS checks a
    composition of three): the per-pair estimates freeze to the
    snapshot, both engines recount the exact overlap from raw events,
    and the verdict allows HLL2_BOUND of the summed estimate
    magnitudes (subtraction ADDS absolute errors). est_intersect can
    legitimately be negative on near-disjoint segments — it is
    reported raw, never clamped, so the driver sees the estimator's
    true behavior."""
    spark = events.sparkSession
    hll2_overlap_estimates(events).write.mode("overwrite").parquet(path)
    snap = spark.read.schema(
        "type_a string, type_b string, est_a long, est_b long, est_union long"
    ).parquet(path)
    tu = events.filter(F.col("user_id").isNotNull()).select(
        "event_type", "user_id"
    ).distinct()
    ua = tu.select(F.col("event_type").alias("type_a"), "user_id")
    ub = tu.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        ua.join(ub, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersect"))
    )
    est_int = (F.col("est_a") + F.col("est_b") - F.col("est_union")).cast("long")
    bound = F.lit(HLL2_BOUND) * (
        F.col("est_a") + F.col("est_b") + F.col("est_union")
    ).cast("double")
    return (
        snap.join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            est_int.alias("est_intersect"),
            F.coalesce(F.col("exact_intersect"), F.lit(0)).cast("long").alias("exact_intersect"),
            F.abs(est_int - F.coalesce(F.col("exact_intersect"), F.lit(0)))
            .cast("long")
            .alias("abs_err"),
            (
                F.abs(
                    est_int - F.coalesce(F.col("exact_intersect"), F.lit(0))
                ).cast("double")
                <= bound
            ).alias("within_bound"),
        )
        .orderBy("type_a", "type_b")
    )
