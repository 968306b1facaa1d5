"""Relational analytics over the driver testdata — the widened operator
surface (SURVEY §7.1 step 7): grouped aggregation, multi-way joins,
windows, rollups, top-k. The reference itself needs none of these
(SURVEY §2.5) but a user switching engines expects them, and they are the
perf-relevant plans at 100 TB.

Cross-engine determinism notes (the DuckDB oracle hash-compares values):
  * money/quantity sums go through DECIMAL so partial-aggregation order
    can't change the result, then cast back to DOUBLE so both engines
    return the same type;
  * every top-k has a total order (tiebreak on the key);
  * averages are computed as decimal-sum / count, rounded.

Scale posture: all plans are shuffle-minimal — partial aggregation
map-side and no driver-side loops anywhere. Broadcast policy: only the
FIXED-cardinality dimensions (region: 5 rows, nation: 25 rows, and
single-row scalar aggregates) carry explicit `F.broadcast` hints.
customer/supplier/part grow linearly with scale factor, so their join
strategy is deliberately left to AQE's size-based runtime choice — it
broadcasts them while they fit under the threshold and falls back to a
shuffle join at scale, where a forced hint would OOM the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.ordered import (
    grouped_ntile_expr,
    ntile,
    rank2x,
    running,
    value_counts,
)


def _dec(col: str, prec: int = 18, scale: int = 4) -> F.Column:
    return F.col(col).cast(f"decimal({prec},{scale})")


def _dsum(expr, alias: str) -> F.Column:
    """Order-independent double sum: exact decimal sum cast back to double."""
    return F.sum(expr).cast("double").alias(alias)


def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: pricing summary by returnflag/linestatus.

    One shuffle (the groupBy); partial aggregates combine map-side.
    """
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    # narrow the intermediate so the second product stays inside precision
    # 38 (exact) in BOTH engines — otherwise each rounds differently
    charge = disc_price.cast("decimal(18,8)") * (F.lit(1).cast("decimal(18,4)") + _dec("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(_dec("l_quantity"), "sum_qty"),
            _dsum(_dec("l_extendedprice"), "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            # rounded at the data's intrinsic scale (6dp): DuckDB's
            # wide-decimal→double conversion is off by an ulp vs Spark's
            # correctly-rounded BigDecimal path, and any coarser rounding
            # can land on the exact half-grid of the data
            F.round(F.sum(charge).cast("double"), 6).alias("sum_charge"),
            # exact decimal sum → double, THEN divide/round: avoids
            # engine-specific decimal-division scale rules
            F.round(F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)), 4).alias("avg_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1)), 4).alias("avg_price"),
            F.round(F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1)), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # result order WITHOUT a range exchange (guide §2.4: an orderBy
        # used only to make output deterministic): the grouped output is
        # bounded (≤ |returnflag|·|linestatus| = 8 rows at ANY scale),
        # so one single-partition sort of those rows replaces the range
        # exchange's boundary-sampling pass — measured 0.58 → 0.33 s
        # warm at sf0.1. Identical total order, identical rows.
        .repartition(1)
        .sortWithinPartitions("l_returnflag", "l_linestatus")
    )


def q3_top_unshipped_orders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3 shape: top-10 open orders by revenue for one segment.

    The segment-filtered customer side is left to AQE (broadcast while
    small, shuffle at scale — it grows with SF); lineitem→orders join
    shuffles on the orderkey (the natural co-partitioning key at scale).
    """
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
        .join(orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.filter(F.col("c_mktsegment") == "BUILDING"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q5_region_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation where customer and supplier are
    co-national. nation/region broadcast (fixed size); customer/supplier
    join strategy is AQE's size-based choice; the fact joins shuffle on
    orderkey/suppkey."""
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_dsum(revenue, "revenue"))
        # bounded result order (q1's rule): ≤ |nation| = 25 rows
        .repartition(1)
        .sortWithinPartitions(F.col("revenue").desc(), F.col("n_name"))
    )


def top_customers_by_revenue(customer: DataFrame, orders: DataFrame, k: int = 20) -> DataFrame:
    """Top-k customers by total order value (one agg + dim join; the
    post-agg side is at most |customer| rows, so AQE picks the join)."""
    return (
        orders.groupBy("o_custkey")
        .agg(_dsum(_dec("o_totalprice"), "total_revenue"), F.count(F.lit(1)).alias("order_cnt"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "c_mktsegment", "total_revenue", "order_cnt")
        .orderBy(F.col("total_revenue").desc(), F.col("c_custkey"))
        .limit(k)
    )


def w1_top_orders_per_customer(orders: DataFrame, n: int = 3) -> DataFrame:
    """Window row_number: each customer's n largest orders. One shuffle on
    the partition key; no global sort."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice"), "rn")
    )


def w2_running_user_value(events: DataFrame) -> DataFrame:
    """Running per-user cumulative value over event time (prefix sum).
    Decimal accumulation keeps the prefix sums exact and engine-agnostic."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.sum(_dec("value", 18, 6)).over(w).cast("double").alias("running_value"),
    )


def g1_rollup_revenue(region: DataFrame, nation: DataFrame, customer: DataFrame, orders: DataFrame) -> DataFrame:
    """ROLLUP (region, nation) over order revenue — grouping-sets surface.

    grouping_id disambiguates NULL-as-subtotal from NULL data, and gives
    the oracle a deterministic key."""
    joined = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            _dsum(_dec("o_totalprice"), "revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
        .select("r_name", "n_name", "gid", "revenue", "order_cnt")
    )


def e1_sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization: a new session starts when the user is idle
    longer than the gap. Pure window arithmetic — no state store needed in
    batch; the streaming analog uses session windows (streaming module)."""
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    prev_ts = F.lag("ts").over(w_user)
    is_new = F.when(
        prev_ts.isNull() | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > gap_s),
        F.lit(1),
    ).otherwise(F.lit(0))
    with_flag = events.withColumn("is_new", is_new)
    session_seq = F.sum("is_new").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        with_flag.withColumn("session_seq", session_seq.cast("long"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            _dsum(_dec("value", 18, 6), "session_value"),
        )
    )


def e2_event_funnel(events: DataFrame) -> DataFrame:
    """Per-type event stats — the A1 count generalized to grouped counts +
    distinct users (approx at scale would be approx_count_distinct; exact
    here because the oracle is exact)."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _dsum(_dec("value", 18, 6), "total_value"),
        )
        .orderBy("event_type")
    )


def j1_brand_margin(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Fact-to-dim join + grouped agg over `part`: realized margin per
    brand. part's join strategy is AQE's size-based choice (it grows with
    SF); lineitem aggregates partially map-side after the join."""
    margin = _dec("l_extendedprice") - _dec("p_retailprice") * _dec("l_quantity")
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            _dsum(margin, "total_margin"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


def set1_status_overlap(orders: DataFrame) -> DataFrame:
    """Set operation surface: customers with BOTH open and finished
    orders (INTERSECT — dedup semantics per ANSI)."""
    open_c = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_c.intersect(done_c)


def set2_exclusive_open(orders: DataFrame) -> DataFrame:
    """EXCEPT (distinct set semantics): customers with open orders but no
    finished ones — exceptAll would keep surplus duplicates instead."""
    open_c = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_c.subtract(done_c)


def h1_active_customers(orders: DataFrame, min_orders: int = 15) -> DataFrame:
    """GROUP BY + HAVING."""
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
    )


def dagg1_distinct_suppliers(lineitem: DataFrame) -> DataFrame:
    """Multiple DISTINCT aggregates in one pass (Expand-based plan)."""
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


def q6_forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6 shape: tight multi-predicate scan + single agg — the
    pushdown showcase (all four predicates reach the parquet reader;
    zero joins, one partial-agg shuffle of a single row)."""
    revenue = _dec("l_extendedprice") * _dec("l_discount")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg(_dsum(revenue, "revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


def d1_orders_by_month(orders: DataFrame) -> DataFrame:
    """Date-part extraction + grouped agg (calendar dimension surface)."""
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("y"),
            F.month("o_orderdate").cast("int").alias("m"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(_dec("o_totalprice"), "month_revenue"),
        )
    )


def pctl_order_value(orders: DataFrame) -> DataFrame:
    """Exact percentiles (linear interpolation) per group — the sketch-free
    baseline; at 100 TB swap for approx_percentile with documented error."""
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
        )
        .orderBy("o_orderstatus")
    )


def w3_order_quartiles(orders: DataFrame) -> DataFrame:
    """percent_rank + ntile within status partitions.

    o_orderstatus has THREE distinct values, so the naive
    `Window.partitionBy("o_orderstatus")` funnels ~a third of all orders
    through one task — the same straggler class as a global ordered
    window, split three ways. The scale-correct form is a grouped
    `ordered.running` count (group-prefixed range partitioning +
    per-cell offsets) and the ANSI closed forms of both readouts:
    percent_rank = (rank−1)/(n−1) — ranks are unique here because the
    order key ends in o_orderkey — and ntile(4) via the exact integer
    bucket formula. Bit-identical to the windowed oracle."""
    ranked, _ = running(
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice"),
        ["o_totalprice", "o_orderkey"],
        {"_rn": ("count", None)},
        ["o_orderstatus"],
    )
    n = F.col("_rn_total")
    pr = F.when(n > 1, (F.col("_rn") - 1) / (n - 1)).otherwise(F.lit(0.0))
    return ranked.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(pr, 6).alias("pr"),
        grouped_ntile_expr("_rn", "_rn_total", 4).alias("quartile"),
    )


def str1_name_features(customer: DataFrame) -> DataFrame:
    """Scalar string-function surface: case, substring, concat, pad,
    replace, predicate match — all JVM builtins."""
    return customer.select(
        "c_custkey",
        F.upper(F.col("c_name")).alias("name_upper"),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias("segment_key"),
        F.lpad(F.col("c_custkey").cast("string"), 9, "0").alias("padded_key"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.col("c_name").contains("0").alias("has_zero"),
        F.length(F.col("c_name")).alias("name_len"),
    )


def approx_distinct_users(events: DataFrame) -> DataFrame:
    """HLL++ distinct-count sketch — THE cardinality operator at 100 TB
    (exact distinct shuffles every key; the sketch merges map-side in
    fixed memory). No DuckDB oracle on purpose: sketch estimates are
    implementation-specific; tests pin the error envelope instead."""
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


def approx_value_percentiles(events: DataFrame) -> DataFrame:
    """KLL-style approximate percentiles (accuracy 10000) — fixed-memory
    alternative to exact sort-based percentiles at scale.

    Output is three SCALAR double columns (p50/p95/p99), not one array
    column: scalar shape survives the driver harness's canonicalization
    (an array cell is unhashable for pandas sort) and matches how a BI
    consumer would read the sketch. One aggregation pass — the three
    getItem projections share a single percentile_approx sketch."""
    return (
        events.groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("_pctls"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.col("_pctls").getItem(0).alias("p50"),
            F.col("_pctls").getItem(1).alias("p95"),
            F.col("_pctls").getItem(2).alias("p99"),
            "n_events",
        )
        .orderBy("event_type")
    )


def asof_purchase_view(events: DataFrame) -> DataFrame:
    """AS-OF join: each purchase matched to the latest prior (or
    simultaneous) view by the same user.

    Spark has no ASOF JOIN operator; the scalable formulation is a SINGLE
    window pass over the interleaved event stream — last_value(view
    fields) ignoring nulls, ordered by event time per user — instead of a
    range self-join (which explodes on active users). One shuffle on
    user_id, state bounded by the window frame."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = events.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("view_id_raw"),
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts_raw"),
    )
    enriched = tagged.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.last("view_id_raw", ignorenulls=True).over(w).alias("asof_view_id"),
        F.last("view_ts_raw", ignorenulls=True).over(w).alias("asof_view_ts"),
    )
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.round(F.col("value").cast("decimal(18,6)"), 4).cast("double").alias("purchase_value"),
            "asof_view_id",
            "asof_view_ts",
        )
    )


def pv1_status_by_priority(orders: DataFrame) -> DataFrame:
    """Pivot (wide conditional aggregation): order counts per priority ×
    status. Fixed pivot values — at scale an unbounded pivot column set
    is a driver-side collect; always enumerate."""
    # coalesce: pivot leaves an ABSENT (priority, status) cell NULL,
    # but a count of nothing is 0 — and the oracle's SUM(CASE...) form
    # says 0 (surfaced by the degenerate fixture's single-member group)
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
        )
        .orderBy("o_orderpriority")
    )


def rx1_doc_mentions(documents: DataFrame) -> DataFrame:
    """Regexp word-boundary filtering + per-source counts."""
    hit = F.col("text").rlike(r"\bmerge\b")
    return (
        documents.filter(F.col("text").isNotNull() & hit)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source")
    )


def sq1_big_spenders(spark_customer_orders) -> DataFrame:
    """Correlated EXISTS subquery (decorrelated by Catalyst into a
    semi-join). Takes (customer, orders)."""
    customer, orders = spark_customer_orders
    spark = customer.sparkSession
    customer.createOrReplaceTempView("_sq1_customer")
    orders.createOrReplaceTempView("_sq1_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM _sq1_customer
        WHERE EXISTS (
          SELECT 1 FROM _sq1_orders
          WHERE o_custkey = c_custkey AND o_totalprice > 400000.0
        )
        """
    )


def g2_grouping_sets(region: DataFrame, nation: DataFrame, customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS ((region), (nation), ()) — the general form
    rollup/cube specialize."""
    joined = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    spark = orders.sparkSession
    joined.createOrReplaceTempView("_g2_joined")
    return spark.sql(
        """
        SELECT r_name, n_name, CAST(grouping_id(r_name, n_name) AS INT) AS gid,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               COUNT(*) AS order_cnt
        FROM _g2_joined
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
        """
    )


def q10_returned_revenue(customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame) -> DataFrame:
    """TPC-H Q10 shape: customers ranked by revenue lost to returns.
    Fact-fact shuffle on orderkey; nation broadcasts, customer is
    AQE-chosen; top-20 total order."""
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(revenue, "lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q18_large_orders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame, min_qty: float = 150.0) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (HAVING over a fact aggregate), joined back to customer."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_qty"))
        .filter(F.col("_qty") > F.lit(min_qty).cast("decimal(18,4)"))
        .select("l_orderkey", F.col("_qty").cast("double").alias("total_qty"))
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


def l1_latest_order_per_customer(orders: DataFrame) -> DataFrame:
    """Argmax-per-group (latest order per customer) via one window pass —
    the dedup-to-latest pattern (CDC compaction, SCD current-row)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


def sc1_above_avg_orders(orders: DataFrame) -> DataFrame:
    """Correlated scalar-aggregate comparison: orders above their
    customer's own average value. Decorrelates to a join against the
    per-customer aggregate (no per-row subquery execution)."""
    avg_by_cust = orders.groupBy(F.col("o_custkey").alias("_ck")).agg(
        F.avg(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("_avg")
    )
    return (
        orders.join(avg_by_cust, F.col("o_custkey") == F.col("_ck"))
        .filter(F.col("o_totalprice") > F.col("_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q4_priority_late_ship(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: order-priority tally over a quarter, counting only
    orders where EXISTS a lineitem shipped after the order date.

    The correlated EXISTS is a LEFT SEMI join with the correlation folded
    into the join condition — one shuffle on orderkey, the lineitem side
    never materializes per-order state. The quarter predicate prunes the
    orders scan before the join."""
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    late = o.join(
        lineitem,
        (o["o_orderkey"] == lineitem["l_orderkey"]) & (lineitem["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q14_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 shape: promotional-revenue share for one month —
    conditional aggregation over a fact-dim join (strategy AQE-chosen —
    broadcast while part is small); both sums come out of ONE aggregation
    pass; decimal-exact sums divide as doubles at the end."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    month = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    joined = month.join(part, month["l_partkey"] == part["p_partkey"])
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)")))
        .cast("double")
        .alias("promo_rev"),
        F.sum(rev).cast("double").alias("total_rev"),
    )
    return agg.select(
        F.round(F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"), 6).alias("promo_pct"),
        F.round("promo_rev", 4).alias("promo_rev"),
        F.round("total_rev", 4).alias("total_rev"),
    )


def q19_disjunctive_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue under a DISJUNCTION of brand/size/quantity
    branches. Catalyst extracts the common l_partkey=p_partkey conjunct
    so the join stays a single equi-join (AQE-chosen strategy) with the
    OR applied as a post-join filter — not a cross-product per branch."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    branch1 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    return (
        lineitem.join(part, lineitem["l_partkey"] == part["p_partkey"])
        .filter(branch1 | branch2)
        .agg(_dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


def rj1_nearby_error_counts(events: DataFrame, window_s: int = 300) -> DataFrame:
    """Banded RANGE JOIN: for every purchase, how many error events (any
    user) happened within ±window_s seconds.

    Spark has no interval-join operator and a raw |t1-t2|<=w theta-join
    is a cross product. The scalable formulation bins both sides to
    window-sized buckets and EXPLODES the error side into its bucket and
    both neighbors: every qualifying pair now shares a bucket key, so the
    match runs as an equi-join (one shuffle on the bucket id, bounded 3×
    fanout) with the exact range predicate as a cheap post-filter. This is
    the standard banded interval-join rewrite for time-window matching at
    100 TB (each bucket's pairs are local to one task)."""
    secs = F.unix_timestamp(F.col("ts"))
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        secs.alias("p_sec"),
        F.floor(secs / window_s).alias("bucket"),
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(secs.alias("e_sec"), F.floor(secs / window_s).alias("eb"))
        .select("e_sec", F.explode(F.array(F.col("eb") - 1, F.col("eb"), F.col("eb") + 1)).alias("bucket"))
    )
    matched = purchases.join(
        errors,
        (purchases["bucket"] == errors["bucket"])
        & (F.abs(purchases["p_sec"] - errors["e_sec"]) <= window_s),
        "left",
    )
    return (
        matched.groupBy("purchase_event_id")
        .agg(F.count(F.col("e_sec")).alias("n_nearby_errors"))
    )


def q7_nation_trade(
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. The nation lookups broadcast (25 rows); customer/supplier joins
    are AQE's size-based choice; the fact side shuffles once on orderkey.
    Year extraction happens after the joins so the scan predicate stays
    simple."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    supp_n = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    cust_n = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b))
        | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(cust_n), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(_dsum(rev, "volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def w4_trailing_hour_value(events: DataFrame) -> DataFrame:
    """RANGE-frame window: per user, the sum of event values in the
    TRAILING HOUR of event time (range between 3600s preceding and now,
    keyed on the epoch second). The frame is value-based, not row-based —
    the state a streaming engine would keep per key, expressed as one
    window pass (single shuffle on user_id)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp(F.col("ts")))
        .rangeBetween(-3600, 0)
    )
    return events.select(
        "user_id",
        "event_id",
        F.sum(_dec("value", 18, 6)).over(w).cast("double").alias("trailing_hour_value"),
    )


def w5_order_gaps(orders: DataFrame) -> DataFrame:
    """lag/lead/ntile window surface: per customer, days since previous
    order, days to next order, and spend quartile within the customer."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wq = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("int").alias("days_since_prev"),
        F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate")).cast("int").alias("days_to_next"),
        F.ntile(4).over(wq).cast("int").alias("spend_quartile"),
    )


def q8_market_share(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    target_nation: str = "NATION_1",
    target_region: str = "EUROPE",
) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of supplier revenue into a
    region, by order year. Share = conditional-sum / total-sum computed in
    ONE aggregation pass over the joined facts (no second scan); the
    nation-derived lookups broadcast, customer/supplier are AQE-chosen."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    supp_n = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_region = (
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == target_region)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_region), F.col("c_nationkey") == F.col("cn_key"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == target_nation, rev).otherwise(F.lit(0).cast("decimal(18,4)")))
            .cast("double")
            .alias("nation_rev"),
            F.sum(rev).cast("double").alias("total_rev"),
        )
        .select(
            "order_year",
            F.round(F.col("nation_rev") / F.col("total_rev"), 6).alias("mkt_share"),
            F.round("nation_rev", 4).alias("nation_rev"),
            F.round("total_rev", 4).alias("total_rev"),
        )
        .orderBy("order_year")
    )


def g3_cube_status_priority(orders: DataFrame) -> DataFrame:
    """CUBE over (status, priority): all four grouping-set combinations in
    one pass — completes the grouping-sets surface (rollup=g1, explicit
    sets=g2, cube=g3)."""
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(_dec("o_totalprice"), "revenue"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "revenue")
    )


def sk1_salted_brand_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Brand revenue through the SALTED join operator (operators/skew.py):
    result-identical to the plain join — this query routes the salting
    path through the cross-engine oracle gate, proving the skew
    mitigation preserves semantics exactly. (Deterministic salts: retries
    and the oracle reproduce bit-identical results.)"""
    from csv_crm_upload_spark.operators.skew import salted_join

    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    joined = salted_join(
        lineitem.select("l_partkey", "l_extendedprice", "l_discount"),
        part.select("p_partkey", "p_brand").withColumnRenamed("p_partkey", "l_partkey"),
        key="l_partkey",
        n_salts=8,
    )
    return (
        joined.groupBy("p_brand")
        .agg(_dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy("p_brand")
    )


def sk2_two_phase_status_revenue(orders: DataFrame) -> DataFrame:
    """Order revenue by status through the TWO-PHASE (salted) aggregation
    operator — 3 statuses over 15k+ orders is exactly the hot-group shape
    that straggles a naive single-phase agg. Oracle-paired to prove the
    (key,salt)→key decomposition is result-identical to a direct GROUP BY
    (exact decimal partials make it order-insensitive)."""
    from csv_crm_upload_spark.operators.skew import two_phase_agg

    return (
        two_phase_agg(orders, key="o_orderstatus", agg_col="o_totalprice", n_salts=8)
        .select(
            "o_orderstatus",
            F.round("total", 4).alias("revenue"),
            F.col("cnt").alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


def emb_label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding centroids in LONG form (label, dim, value) —
    the class-prototype computation behind nearest-centroid classification
    and IVF coarse training. posexplode → one (label, dim) aggregation
    with map-side combine: the shuffle carries labels × dims rows, never
    raw vectors. Long form (not array columns) keeps the result
    hash-comparable across engines."""
    exploded = embeddings.select("label", F.posexplode("embedding").alias("dim", "v"))
    return (
        exploded.groupBy("label", "dim")
        .agg(
            # + 0.0 normalizes IEEE -0.0 (engine-dependent sign when a
            # cell averages to exactly zero — e.g. an all-zero vector
            # rider dominating a small label)
            (F.round(F.avg(F.col("v").cast("double")), 6) + F.lit(0.0)).alias(
                "centroid_v"
            ),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


def fo1_daily_order_event_coverage(orders: DataFrame, events: DataFrame) -> DataFrame:
    """FULL OUTER join surface: daily order counts vs daily event counts —
    days present on either side survive with nulls marked. Both sides
    pre-aggregate BEFORE the join (the scalable shape: the join runs on
    day-grain rows, not raw facts)."""
    od = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    ev = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return od.join(ev, "day", "full_outer").select(
        "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        (F.col("n_orders").isNull() | F.col("n_events").isNull()).alias("one_sided"),
    )


def q13_customer_order_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: histogram of customers by order count, INCLUDING
    zero-order customers (the left join nobody remembers). Two
    aggregations: per-customer count, then distribution — both map-side
    combining; the join side is the already-aggregated order counts."""
    per_cust = (
        customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q15_top_supplier(supplier: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue in a window
    — the revenue 'view' plus a max-subquery, expressed as one agg + a
    rank window over it (ties all surface, as in the spec)."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    window_rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(_dsum(rev, "total_revenue"))
    )
    # rank() over a global ORDER BY would sort the whole supplier rollup
    # in one task just to pick the max; a 1-row max aggregate broadcast
    # back as a semi-join condition surfaces the same tied winners with
    # no ordered window at all (and it is exactly the oracle's
    # `WHERE total_revenue = (SELECT MAX(...))` shape). Decimal equality
    # is exact, so ties survive unchanged.
    mx = window_rev.agg(F.max("total_revenue").alias("_max_rev"))
    top = window_rev.join(
        F.broadcast(mx), F.col("total_revenue") == F.col("_max_rev")
    ).drop("_max_rev")
    return (
        top.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.round("total_revenue", 4).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


def q17_small_quantity_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders of less than 20% of a part's
    average quantity. The correlated scalar subquery (avg per part)
    becomes a pre-aggregated per-part table joined back — one extra agg
    instead of one subquery per row."""
    per_part_avg = lineitem.groupBy(F.col("l_partkey").alias("avg_pk")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    brand_parts = part.filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    return (
        lineitem.join(brand_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part_avg, F.col("l_partkey") == F.col("avg_pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q21_suppliers_kept_waiting(
    supplier: DataFrame, lineitem: DataFrame, orders: DataFrame, nation: DataFrame,
    target_nation: str = "NATION_1",
) -> DataFrame:
    """TPC-H Q21 shape — the hardest standard query: suppliers in one
    nation who were the ONLY late supplier on a multi-supplier order.
    EXISTS (another supplier on the order) and NOT EXISTS (another LATE
    supplier) become a left-semi and a left-anti join against
    pre-aggregated per-order supplier sets — set algebra instead of
    per-row correlated probes.

    'Late' = l_shipdate > o_orderdate + 30 days (the fixture has no
    commit/receipt dates; the fixed lateness window keeps the
    multi-supplier/exclusive-lateness structure of the original)."""
    li = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    late = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30))

    l1 = late.select("l_orderkey", "l_suppkey").distinct()
    # EXISTS: some OTHER supplier on the same order
    others = li.select("l_orderkey", F.col("l_suppkey").alias("o_supp")).distinct()
    has_other = l1.join(
        others,
        (l1["l_orderkey"] == others["l_orderkey"]) & (l1["l_suppkey"] != others["o_supp"]),
        "left_semi",
    )
    # NOT EXISTS: no OTHER supplier was ALSO late on that order
    other_late = late.select("l_orderkey", F.col("l_suppkey").alias("x_supp")).distinct()
    exclusive = has_other.join(
        other_late,
        (has_other["l_orderkey"] == other_late["l_orderkey"])
        & (has_other["l_suppkey"] != other_late["x_supp"]),
        "left_anti",
    )
    nat = nation.filter(F.col("n_name") == target_nation).select("n_nationkey")
    return (
        exclusive.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
    )


def q22_global_sales_opportunity(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average account balance and
    NO orders, tallied by market segment (the fixture has no phone
    country codes; segment plays the grouping role). Scalar avg subquery
    over positive balances + anti join against orders."""
    pos_avg = customer.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    rich = customer.join(F.broadcast(pos_avg)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    no_orders = rich.join(
        orders.select("o_custkey"), rich["c_custkey"] == F.col("o_custkey"), "left_anti"
    )
    return (
        no_orders.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(_dec("c_acctbal"), "totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


def w6_order_position_stats(orders: DataFrame) -> DataFrame:
    """Distribution-position window functions: percent_rank, cume_dist,
    and nth_value over each customer's order history — completes the
    window-function surface (row_number/rank/lag/lead/ntile/frames are
    covered elsewhere)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_cheapest_order"),
    )


def er1_fuzzy_name_pairs(customer: DataFrame, max_distance: int = 1) -> DataFrame:
    """Entity-resolution surface: near-identical customer names by
    Levenshtein distance, with BLOCKING on (market segment, name-length
    bucket) so candidate blocks are bounded — the standard fuzzy-join
    shape at scale (block → compare → filter).

    The length band is part of the EQUI-JOIN KEY, not a post-join filter:
    the left side keeps its exact length as the bucket and the right side
    explodes into its ±max_distance neighbor buckets (edit distance d can
    change length by at most d), so each qualifying pair meets in exactly
    one bucket and the shuffle only ever co-locates names whose lengths
    can possibly match. Blocking on segment alone would make each block a
    ~(n/segments)² cross product — quadratic in table size; this keeps
    block size proportional to names-per-(segment, length), which is
    stable as the table grows. One shuffle on the compound block key."""
    a = customer.select(
        F.col("c_custkey").alias("cust_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_mktsegment").alias("seg"),
        F.length("c_name").alias("len_bucket"),
    )
    neighbor_buckets = F.array(
        *[F.length("c_name") + F.lit(k) for k in range(-max_distance, max_distance + 1)]
    )
    b = customer.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_mktsegment").alias("seg"),
        F.explode(neighbor_buckets).alias("len_bucket"),
    )
    return (
        a.join(b, ["seg", "len_bucket"])
        .filter(F.col("cust_a") < F.col("cust_b"))
        .withColumn("edit_dist", F.levenshtein(F.col("name_a"), F.col("name_b")))
        .filter(F.col("edit_dist") <= max_distance)
        .select("cust_a", "cust_b", "seg", F.col("edit_dist").cast("int").alias("edit_dist"))
    )


def hist1_price_histogram(orders: DataFrame, bin_width: float = 50000.0) -> DataFrame:
    """Fixed-width value histogram of order prices — the profiling
    primitive behind data-quality dashboards. Map-only binning + one
    aggregation; bins are value-derived so no second pass for bounds."""
    bin_id = F.floor(F.col("o_totalprice") / bin_width).cast("int")
    return (
        orders.groupBy(bin_id.alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
        .withColumn("bin_lo", (F.col("bin_id") * bin_width).cast("double"))
        .orderBy("bin_id")
    )


def stat1_price_quantity_stats(lineitem: DataFrame) -> DataFrame:
    """Bivariate statistics per return flag: Pearson correlation and
    sample covariance of quantity vs extended price — the one-pass
    streaming-moment aggregates (engines compute these with numerically
    stable single-pass updates; rounding absorbs order effects)."""
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            (F.round(F.corr("l_quantity", "l_extendedprice"), 6) + F.lit(0.0)).alias("qty_price_corr"),
            (F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2) + F.lit(0.0)).alias("qty_price_covar"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


def ohlc1_hourly_value(events: DataFrame) -> DataFrame:
    """Hourly OHLC candlesticks per event type — the time-series rollup a
    hypertable/continuous-aggregate system serves (open/high/low/close of
    `value` per hour bucket). Open/close are defined by the deterministic
    event order (ts, event_id) so the result is engine-reproducible even
    under timestamp ties.

    One shuffle + sort on (hour, event_type); open/close come from
    first_value/last_value over the full frame, reduced in the same
    grouped pass (they are partition constants, so min() is exact)."""
    h = F.date_trunc("hour", F.col("ts"))
    wf = Window.partitionBy("h", "event_type").orderBy("ts", "event_id")
    wall = wf.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per_row = events.select(
        h.alias("h"), "event_type", "value", "ts", "event_id"
    ).select(
        "h",
        "event_type",
        "value",
        F.first("value").over(wf).alias("open_v"),
        F.last("value").over(wall).alias("close_v"),
    )
    return (
        per_row.groupBy("h", "event_type")
        .agg(
            F.min("open_v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.min("close_v").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            F.col("h").alias("window_start"),
            "event_type", "open", "high", "low", "close", "n_events",
        )
    )


def ts1_gapfill_hourly(events: DataFrame) -> DataFrame:
    """Gap-filled hourly event counts — time_bucket_gapfill: every hour
    between the observed min and max appears, zero-count hours included
    (the downstream chart/model never has to infer missing buckets).

    The hour spine is generated FROM the bounds row (sequence + explode
    on a 1-row aggregate — no cartesian, no driver loop); the left join
    to the grouped counts is between two tiny keyed sides, so AQE
    broadcasts it. Scale: output cardinality is time-span/hour, not
    row count."""
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = events.agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("window_start")
    )
    counts = events.groupBy(hour.alias("window_start")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return spine.join(counts, "window_start", "left").select(
        "window_start", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events")
    )


def acf1_daily_autocorrelation(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Lag-1..max_lag autocorrelation of the gap-filled DAILY event
    volume — the seasonality detector of the time-series family: a
    spike at lag 7 is a weekly cycle, slow decay is trend, ~0
    everywhere is stationary noise. The readout that decides whether a
    traffic model needs seasonal terms before anyone plots anything.

    r_k = Σ_t (x_t − μ)(x_{t+k} − μ) / Σ_t (x_t − μ)², over the
    ZERO-FILLED day spine (ts1_gapfill's discipline — a missing day is
    a 0-count observation, not an absent row; ACF over a gappy series
    silently shifts every lag otherwise).

    Cross-engine exactness: daily counts are exact longs; μ = total /
    n_days is ONE IEEE double division of exact integers (identical
    both engines); every deviation is exact-long minus that double;
    products round to 12 dp into DECIMAL(38,12) sums (order-free); the
    readout is one 6-dp rounded quotient. A constant series
    (denominator 0) returns zero rows rather than a NaN column; so do
    corpora with no timestamps.

    Scale shape: ONE day-grained combining agg collapses 100 TB to
    |days| rows (calendar-bounded); the spine join, the lag pairing
    (one range-condition join over the tiny spine, lag = datediff), and
    both sums run at that grain. No corpus-sized shuffle after the
    first agg."""
    daily, spine = _daily_spine(events)
    mu = F.col("tot").cast("double") / F.col("n_days").cast("double")
    devs = (
        spine.join(daily, "day", "left")
        .select(
            "day",
            (F.coalesce(F.col("c"), F.lit(0)).cast("double") - mu).alias("dev"),
        )
        # tiny, but consumed by the denominator agg AND both sides of
        # the lag join — pin once
        .localCheckpoint(eager=True)
    )
    den = devs.agg(
        F.sum(F.round(F.col("dev") * F.col("dev"), 12).cast("decimal(38,12)")).alias(
            "den"
        )
    )
    a = devs.select(F.col("day").alias("day_a"), F.col("dev").alias("dev_a"))
    # each later observation pairs with its lag-1..max_lag predecessor
    # via an exploded EQUI key (day_b − lag) — a broadcast hash join,
    # never a nested-loop range join
    b = devs.select(
        F.col("dev").alias("dev_b"),
        F.explode(F.array(*[F.lit(k) for k in range(1, max_lag + 1)])).alias("lag"),
        F.col("day").alias("day_b"),
    ).select("dev_b", "lag", F.date_sub(F.col("day_b"), F.col("lag")).alias("day_a"))
    lagged = a.join(F.broadcast(b), "day_a").select(
        "lag",
        F.round(F.col("dev_a") * F.col("dev_b"), 12)
        .cast("decimal(38,12)")
        .alias("t"),
    )
    return (
        lagged.groupBy("lag")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"), F.sum("t").alias("num"))
        .crossJoin(F.broadcast(den))
        .filter(F.col("den") != 0)
        .select(
            "lag",
            "n_pairs",
            (
                F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6)
                + F.lit(0.0)
            ).alias("acf"),
        )
        .orderBy("lag")
    )


def _daily_spine(events: DataFrame):
    """(daily, spine) shared by the daily time-series family (acf1's
    discipline, factored): `daily` is the checkpointed exact-long count
    per observed day; `spine` is every calendar day between the observed
    bounds carrying (n_days, tot) — a missing day is a 0-count
    observation after the left join, never an absent row.

    Accepts EITHER a raw events frame (`ts` column — one day-grained
    combining agg collapses it) OR a pre-aggregated day-grain frame
    (`day` DATE, `c` LONG — the daily-rollup artifact's probe path,
    analytics/rollup.py): the rollup stores exactly this aggregation,
    so both inputs produce identical downstream semantics.

    Scale shape: ONE day-grained combining agg collapses 100 TB to
    |days| rows (calendar-bounded); everything downstream runs at that
    grain. The checkpoint pins the bounded daily table so the bounds
    agg and every consumer read it instead of re-running the corpus
    scan."""
    if "ts" in events.columns:
        day = F.to_date(F.col("ts")).alias("day")
        daily = (
            events.filter(F.col("ts").isNotNull())
            .groupBy(day)
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .localCheckpoint(eager=True)
        )
    else:
        daily = events.select(
            "day", F.col("c").cast("long").alias("c")
        ).localCheckpoint(eager=True)
    stats = daily.agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        F.sum("c").cast("long").alias("tot"),
    )
    spine = stats.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        (F.datediff(F.col("d1"), F.col("d0")) + F.lit(1)).cast("long").alias("n_days"),
        "tot",
    )
    return daily, spine


def dow1_weekly_profile(events: DataFrame) -> DataFrame:
    """Day-of-week seasonality profile of the zero-filled daily event
    volume — the companion readout to acf1: WHERE the weekly cycle sits
    (weekend peak vs weekday trough), not just whether lag-7 spikes.
    `dow_index` is the classical seasonal index mean_dow / mean_overall
    (1.0 = flat).

    Cross-engine exactness: per-dow day and event counts are exact
    longs over the zero-filled spine; mean_daily is ONE double division
    of exact integers; dow_index is one further IEEE division of those
    two quotients, written identically in the oracle. isodow is
    1=Monday..7=Sunday on both engines (Spark weekday()+1, DuckDB
    isodow()).

    Scale: everything after the shared daily agg runs on the calendar-
    bounded spine (≤7 output rows)."""
    daily, spine = _daily_spine(events)
    filled = spine.join(daily, "day", "left").select(
        (F.weekday(F.col("day")) + F.lit(1)).cast("int").alias("isodow"),
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        "n_days",
        "tot",
    )
    mean_dow = F.col("n_events").cast("double") / F.col("n_dow_days").cast("double")
    mean_all = F.col("tot").cast("double") / F.col("n_days").cast("double")
    return (
        filled.groupBy("isodow", "n_days", "tot")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dow_days"),
            F.sum("c").cast("long").alias("n_events"),
        )
        .filter(F.col("tot") > 0)
        .select(
            "isodow",
            "n_dow_days",
            "n_events",
            (F.round(mean_dow, 6) + F.lit(0.0)).alias("mean_daily"),
            (F.round(mean_dow / mean_all, 6) + F.lit(0.0)).alias("dow_index"),
        )
        .orderBy("isodow")
    )


def tsen1_daily_trend(events: DataFrame) -> DataFrame:
    """Robust trend readout over the zero-filled daily event volume:
    the Theil–Sen slope (median of all pairwise day-to-day slopes —
    breakdown point 29%, immune to the outlier days an OLS line chases)
    plus the Mann–Kendall S statistic (Σ sign(c_j − c_i), the exact-
    integer companion trend test). The standard robust pair for "is
    traffic actually growing" before anyone fits a model.

    Cross-engine exactness: counts and day offsets are exact longs;
    each slope is ONE double division of exact integers (identical
    IEEE result both engines); the median is the nearest-rank value
    (pctl2's rule: rank ceil(n/2) over slope ASC with (day_a, day_b)
    tiebreak — ties in slope don't change the value at a rank);
    mk_s is a pure integer sum.

    Scale shape: the pairwise self-join runs on the CALENDAR-bounded
    spine (n_days rows → n_days² /2 pairs — bounded by time span, not
    corpus size; a 10-year span is ~6.6M pairs). The median rank is a
    running count (range-repartition + offsets), never a
    single-partition global window."""
    daily, spine = _daily_spine(events)
    filled = (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
            "n_days",
        )
        # bounded |days| rows, consumed by BOTH sides of the pair join
        .localCheckpoint(eager=True)
    )
    a = filled.select(F.col("day").alias("day_a"), F.col("c").alias("c_a"))
    b = filled.select(F.col("day").alias("day_b"), F.col("c").alias("c_b"), "n_days")
    pairs = (
        a.join(b, F.col("day_a") < F.col("day_b"))
        .select(
            "day_a",
            "day_b",
            "n_days",
            (
                (F.col("c_b") - F.col("c_a")).cast("double")
                / F.datediff(F.col("day_b"), F.col("day_a")).cast("double")
            ).alias("slope"),
            F.signum((F.col("c_b") - F.col("c_a")).cast("double"))
            .cast("long")
            .alias("sgn"),
        )
    )
    ranked, totals = running(
        pairs, ["slope", "day_a", "day_b"], {"_rn": ("count", None)}
    )
    n_pairs = totals["_rn"]
    if n_pairs == 0:
        return ranked.select(
            F.col("n_days"),
            F.lit(0).cast("long").alias("n_pairs"),
            F.lit(0).cast("long").alias("mk_s"),
            F.lit(0.0).alias("sen_slope"),
        ).limit(0)
    med_rank = -(-n_pairs // 2)  # ceil(n/2): pctl2's nearest-rank rule
    med = ranked.filter(F.col("_rn") == med_rank).select(
        "n_days", (F.round(F.col("slope"), 6) + F.lit(0.0)).alias("sen_slope")
    )
    mk = ranked.agg(F.sum("sgn").cast("long").alias("mk_s"))
    return med.crossJoin(F.broadcast(mk)).select(
        "n_days",
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        "mk_s",
        "sen_slope",
    )


def cpd1_mean_shift(events: DataFrame) -> DataFrame:
    """CUSUM change-point detection on the zero-filled daily event
    volume: S_t = Σ_{i≤t}(x_i − μ); the split with the largest |S_t| is
    the most likely single mean-shift point (Page 1954 / Pettitt's
    pointer), reported with the exact before/after means so the
    magnitude of the level change is read straight off the row.

    Cross-engine exactness: prefix sums of counts and day indexes are
    exact longs (a running sum — no single-partition window);
    μ is ONE double division of exact integers; each deviation
    S_t = cum_c − t·μ is computed identically both engines and rounded
    to 9 dp BEFORE the argmax comparison; the best split breaks |S|
    ties on the earliest day. Before/after means are double divisions
    of exact longs. A span of <2 days (or no timestamps) returns zero
    rows — there is no interior split to score.

    Scale shape: the prefix pass runs over the calendar-bounded spine;
    the argmax is one bounded agg + one broadcast join back."""
    daily, spine = _daily_spine(events)
    filled = spine.join(daily, "day", "left").select(
        "day",
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        F.lit(1).cast("long").alias("one"),
        "n_days",
        "tot",
    )
    pre, totals = running(
        filled, ["day"], {"cum_c": ("sum", "c"), "cum_n": ("sum", "one")}
    )
    n_days, tot = totals["cum_n"], totals["cum_c"]
    if n_days < 2:
        return pre.select(
            F.col("n_days"),
            F.col("day").alias("best_day"),
            F.lit(0.0).alias("cusum_stat"),
            F.lit(0.0).alias("mean_before"),
            F.lit(0.0).alias("mean_after"),
            F.lit(0.0).alias("shift"),
        ).limit(0)
    mu = F.lit(tot).cast("double") / F.lit(n_days).cast("double")
    # interior splits only: cum_n = n_days has an empty "after" side
    # (and its S_n is FP noise around 0 anyway)
    devs = pre.filter(F.col("cum_n") < F.lit(n_days)).select(
        "day",
        "cum_c",
        "cum_n",
        F.round(F.col("cum_c").cast("double") - F.col("cum_n").cast("double") * mu, 9)
        .alias("s"),
    )
    best = (
        devs.crossJoin(
            F.broadcast(devs.agg(F.max(F.abs(F.col("s"))).alias("m")))
        )
        .filter(F.abs(F.col("s")) == F.col("m"))
        .groupBy("m")
        .agg(
            F.min("day").alias("best_day"),
            F.min_by("cum_c", "day").alias("cum_c"),
            F.min_by("cum_n", "day").alias("cum_n"),
        )
    )
    before = F.col("cum_c").cast("double") / F.col("cum_n").cast("double")
    after = (F.lit(tot) - F.col("cum_c")).cast("double") / (
        F.lit(n_days) - F.col("cum_n")
    ).cast("double")
    return best.select(
        F.lit(n_days).cast("long").alias("n_days"),
        "best_day",
        (F.round(F.col("m"), 6) + F.lit(0.0)).alias("cusum_stat"),
        (F.round(before, 6) + F.lit(0.0)).alias("mean_before"),
        (F.round(after, 6) + F.lit(0.0)).alias("mean_after"),
        (F.round(after - before, 6) + F.lit(0.0)).alias("shift"),
    )


def _stl_detrended(events: DataFrame) -> DataFrame:
    """The ONE classical-decomposition core stl1 and anom1 share
    (review r11: two inline copies of the determinism-critical chain
    would drift): zero-filled daily counts on the calendar spine,
    centered 7-day moving-average trend over interior days (exploded
    EQUI offsets — acf1's discipline, never a window range join),
    detrended z = c − trend, per-weekday seasonal mean s (9-dp decimal
    sums), remainder r = z − s. Returns the checkpointed interior-day
    frame (day, c, n_days, trend, s, isodow, z, r) — bounded by the
    calendar, consumed by multiple readout aggs in both callers. The
    oracle twin is the shared _STL_PREFIX CTE chain in
    __spark_entry__.oracle_sql."""
    daily, spine = _daily_spine(events)
    filled = (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
            "n_days",
        )
        # bounded |days| rows; consumed by both sides of the MA join
        .localCheckpoint(eager=True)
    )
    # centered 7-day MA via exploded EQUI offsets: day_t gathers
    # day_t+o for o in [-3, 3]
    member = filled.select(
        F.col("c").alias("c_nbr"),
        F.explode(F.array(*[F.lit(o) for o in range(-3, 4)])).alias("o"),
        F.col("day").alias("day_nbr"),
    ).select("c_nbr", F.date_sub(F.col("day_nbr"), F.col("o")).alias("day"))
    trend = (
        filled.join(F.broadcast(member), "day")
        .groupBy("day", "c", "n_days")
        .agg(
            F.count(F.lit(1)).alias("n_win"),
            F.sum("c_nbr").cast("long").alias("win_sum"),
        )
        .filter(F.col("n_win") == 7)  # interior days only
        .select(
            "day",
            "c",
            "n_days",
            (F.col("win_sum").cast("double") / F.lit(7.0)).alias("trend"),
        )
    )
    z = trend.select(
        "day",
        "c",
        "n_days",
        "trend",
        (F.weekday(F.col("day")) + F.lit(1)).cast("int").alias("isodow"),
        (F.col("c").cast("double") - F.col("trend")).alias("z"),
    ).localCheckpoint(eager=True)  # bounded interior rows, 2 consumers
    sea = z.groupBy("isodow").agg(
        (
            F.sum(F.round(F.col("z"), 9).cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("s")
    )
    return (
        z.join(F.broadcast(sea), "isodow")
        .select(
            "day",
            "c",
            "n_days",
            "trend",
            "s",
            "isodow",
            "z",
            (F.col("z") - F.col("s")).alias("r"),
        )
        .localCheckpoint(eager=True)  # bounded; multiple readout aggs
    )


def stl1_seasonal_strength(events: DataFrame) -> DataFrame:
    """Classical additive decomposition of the zero-filled daily event
    volume with Hyndman's strength-of-component readouts (FPP3 §4.5):
    trend = centered 7-day moving average (interior days only — the
    first/last 3 days have no full window), detrended z = c − trend,
    seasonal s(dow) = per-weekday mean of z, remainder r = z − s(dow);
    seasonal_strength = max(0, 1 − Var(r)/Var(z)) and trend_strength =
    max(0, 1 − Var(r)/Var(c − s)) — the two numbers that say whether
    acf1's lag-7 spike and tsen1's slope are worth modeling.

    Cross-engine exactness: the 7-day window sum is an exact long
    (EQUI-joined lag pairing over the spine — acf1's exploded-offset
    discipline, never a window range join); trend is ONE double
    division by 7; z and every downstream term are identical IEEE
    compositions; per-day variance terms round to 12 dp into
    DECIMAL(38,12) sums; population variance Σx²/n − (Σx/n)² uses one
    double division per moment. Degenerate guards: fewer than 7 spine
    days → no interior days → empty; a constant series (Var(z) = 0
    or Var(c−s) = 0) → empty, never a 0/0 row.

    Scale shape: everything after the shared daily agg runs on the
    calendar-bounded spine; the MA pairing is a broadcast equi-join
    (7 offsets × |days| rows); the two variance readouts are bounded
    aggs; s(dow) is a ≤7-row broadcast back onto the spine."""
    terms = _stl_detrended(events).select(
        "n_days",
        F.col("z"),
        "r",
        (F.col("c").cast("double") - F.col("s")).alias("ds"),
    )

    def _var(c):
        n = F.count(F.lit(1)).cast("double")
        sq = F.sum(F.round(c * c, 12).cast("decimal(38,12)")).cast("double")
        sm = F.sum(F.round(c, 12).cast("decimal(38,12)")).cast("double")
        return sq / n - (sm / n) * (sm / n)

    out = terms.groupBy("n_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_interior"),
        _var(F.col("z")).alias("var_z"),
        _var(F.col("r")).alias("var_r"),
        _var(F.col("ds")).alias("var_ds"),
    )
    # per-component zero guards (NOT a row drop): a PURE weekly cycle
    # has var_ds = 0 (deseasonalized series is flat → trend strength 0)
    # and a PURE linear ramp has var_z = 0 (the centered MA absorbs a
    # linear trend exactly → seasonal strength 0); each denominator
    # guards its own strength so both degenerate shapes still report
    def _strength(denom):
        return F.when(
            F.col(denom) > 0,
            F.greatest(F.lit(0.0), F.lit(1.0) - F.col("var_r") / F.col(denom)),
        ).otherwise(F.lit(0.0))

    return out.filter(F.col("n_interior") >= 2).select(
        "n_days",
        "n_interior",
        (F.round(_strength("var_z"), 6) + F.lit(0.0)).alias("seasonal_strength"),
        (F.round(_strength("var_ds"), 6) + F.lit(0.0)).alias("trend_strength"),
    )


def hurst1_long_memory(events: DataFrame) -> DataFrame:
    """Rescaled-range (R/S) Hurst exponent of the zero-filled daily
    event volume (Hurst 1951; Mandelbrot & Wallis 1969) — the
    long-memory readout that separates trending traffic (H > 0.5) from
    mean-reverting load (H < 0.5) and white noise (H ≈ 0.5); the
    companion acf1 can't give, since slow ACF decay only hints at what
    the R/S slope measures.

    Procedure: for each dyadic window size w ∈ {4, 8, 16, 32, 64} with at
    least two full windows in the span, split the spine into
    consecutive full windows, compute per-window R = range of the
    cumulative mean-deviation and S = population σ, average R/S per
    size (S = 0 windows carry no signal and are excluded), and fit the
    OLS slope of log2(mean R/S) against log2(w) — that slope is H.

    Cross-engine exactness: counts are exact longs; μ_w is one double
    division; the cumulative deviation is carried as an EXACT INTEGER
    numerator — cd_k = Σ_{i≤k} c_i − k·μ_w = (w·cum_c − k·sum_w)/w, so
    the running-sum window only ever folds LONGS (w·cum_c − k·sum_w)
    and R = (max − min of that numerator)/w is ONE double division
    (r10 advice: a double-valued window fold's association is not
    contractual across engines — DuckDB may segment-tree it — so the
    fold must be exact); σ² terms round to 12 dp into DECIMAL sums;
    per-size means are 9-dp decimal sums with one division; log2
    outputs round to 9 dp before the (≤4-point) OLS moment sums; the
    slope is one double expression. Guards: fewer than two qualifying
    sizes (span < 16 days or a constant series killing every window)
    → empty frame.

    Scale shape: everything runs on the calendar-bounded spine; window
    partitions are (size, window_id) — w-bounded and parallel; the OLS
    is a ≤4-row reduction."""
    daily, spine = _daily_spine(events)
    filled = (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
            "n_days",
        )
        .localCheckpoint(eager=True)
    )
    # day offset t without a global window: datediff against the spine
    # minimum, which is a 1-row broadcast
    d0 = filled.agg(F.min("day").alias("d0"))
    base = filled.crossJoin(F.broadcast(d0)).select(
        "c",
        "n_days",
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"),
        "day",
    )
    w_sizes = [4, 8, 16, 32, 64]
    member = base.select(
        "c",
        "n_days",
        "t",
        "day",
        F.explode(F.array(*[F.lit(w) for w in w_sizes])).alias("w"),
    ).filter(
        # full windows only, and only sizes with >= 2 full windows
        (F.floor(F.col("t") / F.col("w")) + 1) * F.col("w") <= F.col("n_days")
    ).filter(F.col("n_days") >= F.col("w") * 2)
    win = member.select(
        "c", "w", "day", F.floor(F.col("t") / F.col("w")).cast("long").alias("win")
    )
    stats = win.groupBy("w", "win").agg(F.sum("c").cast("long").alias("sum_w"))
    # d (for σ only) is a per-row double expression — deterministic, no
    # fold; the cumulative deviation numerator is pure long arithmetic:
    # num_k = w·cum_c_k − k·sum_w (≡ w·cd_k), so the window sum folds
    # exact integers and association can't matter
    dev = win.join(stats, ["w", "win"]).select(
        "w",
        "win",
        "day",
        "c",
        "sum_w",
        (
            F.col("c").cast("double")
            - F.col("sum_w").cast("double") / F.col("w").cast("double")
        ).alias("d"),
    )
    wf = Window.partitionBy("w", "win").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ww = Window.partitionBy("w", "win").orderBy("day")
    cum = dev.withColumn(
        "num",
        F.col("w") * F.sum("c").over(wf)
        - F.row_number().over(ww).cast("long") * F.col("sum_w"),
    )
    rs = (
        cum.groupBy("w", "win")
        .agg(
            (
                (F.max("num") - F.min("num")).cast("double")
                / F.col("w").cast("double")
            ).alias("r"),
            F.sqrt(
                F.sum(F.round(F.col("d") * F.col("d"), 12).cast("decimal(38,12)"))
                .cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("s"),
        )
        .filter(F.col("s") > 0)
        .select("w", (F.col("r") / F.col("s")).alias("rs"))
    )
    per_size = rs.groupBy("w").agg(
        (
            F.sum(F.round(F.col("rs"), 9).cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_rs")
    )
    pts = per_size.select(
        F.log2(F.col("w").cast("double")).alias("x"),
        F.round(F.log2(F.col("mean_rs")), 9).alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("x"), 9).cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum(F.round(F.col("y"), 9).cast("decimal(38,12)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxx"),
    )
    n_days_df = filled.groupBy("n_days").agg(F.count(F.lit(1)).alias("_rows"))
    slope = (
        F.col("n").cast("double") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("n").cast("double") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return (
        mom.filter(F.col("n") >= 2)
        .crossJoin(F.broadcast(n_days_df.select("n_days")))
        .select(
            "n_days",
            F.col("n").alias("n_sizes"),
            (F.round(slope, 6) + F.lit(0.0)).alias("hurst"),
        )
    )


def mb1_part_affinity(lineitem: DataFrame, top_k: int = 100) -> DataFrame:
    """Market-basket association rules over order baskets (Agrawal &
    Srikant 1994's support/confidence plus lift): which parts are
    co-ordered beyond chance — the affinity readout behind "frequently
    bought together" and assortment planning.

    Semantics: a basket is an order's DISTINCT part set (a part twice
    in one order counts once); for an unordered pair {a < b}:
    support = n_both/n_baskets, confidence(a→b) = n_both/n_a,
    lift = n_both·n_baskets/(n_a·n_b). Top `top_k` pairs by
    (n_both desc, part_a, part_b) — count-first ordering is exact
    integer, so the cut is deterministic cross-engine.

    Cross-engine exactness: every count is an exact long; the three
    ratios are single double divisions of identical integers, rounded
    to 6 dp (no post-division composition).

    Scale shape: the pair explosion is per-basket quadratic but basket
    size is bounded (TPC-H: ≤7 lines/order; a retail basket: dozens) —
    the classic a-priori observation that pairs-within-basket is
    O(rows·basket), never corpus². Plan: one distinct on (order, part)
    (map-side combining), a self-equi-join on orderkey (co-partitioned
    — ONE shuffle feeds both sides), two bounded dim-sized aggs joined
    back on partkey, and a global top-k (TakeOrderedAndProject, never a
    full sort)."""
    basket = lineitem.select("l_orderkey", "l_partkey").distinct()
    # COUNT(DISTINCT) semantics: NULL order keys are not baskets (they
    # cannot join into pairs either) — mirrors the oracle exactly
    n_baskets = (
        basket.filter(F.col("l_orderkey").isNotNull())
        .select("l_orderkey")
        .distinct()
        .count()
    )
    if n_baskets == 0:
        return lineitem.sparkSession.createDataFrame(
            [],
            "part_a long, part_b long, n_both long, n_a long, n_b long, "
            "n_baskets long, support double, confidence double, lift double",
        )
    a = basket.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = basket.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    item = basket.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    nb = F.lit(n_baskets).cast("long")
    out = (
        pairs.join(item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")), "part_a")
        .join(item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            nb.alias("n_baskets"),
            (F.round(F.col("n_both").cast("double") / nb.cast("double"), 6) + F.lit(0.0)).alias("support"),
            (
                F.round(F.col("n_both").cast("double") / F.col("n_a").cast("double"), 6)
                + F.lit(0.0)
            ).alias("confidence"),
            (
                F.round(
                    F.col("n_both").cast("double")
                    * nb.cast("double")
                    / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                    6,
                )
                + F.lit(0.0)
            ).alias("lift"),
        )
    )
    return out.orderBy(F.col("n_both").desc(), "part_a", "part_b").limit(top_k)


def burst1_interarrival_burstiness(events: DataFrame) -> DataFrame:
    """Inter-arrival burstiness per event type (Goh & Barabási 2008):
    B = (σ−μ)/(σ+μ) over the gaps between consecutive events —
    B → −1 for a regular clock, ≈ 0 for a Poisson stream, → 1 for
    heavy-tailed bursts; with the coefficient of variation σ/μ
    alongside. The traffic-shape readout capacity planning wants that
    the daily rollup's volume curves cannot give.

    Cross-engine exactness: gaps are exact integer seconds
    (unix-timestamp differences); Σg sums as long, Σg² as
    DECIMAL(38,0) (g² overflows a long for multi-century gaps — the
    cal2 lesson applied up front); μ, σ², σ and the two readouts are
    one double composition of those exact integers, rounded to 6 dp.
    Groups need ≥ 2 gaps and σ+μ > 0 (a single-gap or all-equal-ts
    group has no dispersion to report).

    Scale shape: event_type is LOW-cardinality, so consecutive pairing
    rides a grouped running count (group-prefixed range partitioning —
    never one task per type) and an equi-join of rn ↔ rn+1 on
    (type, rn); the moment agg is map-side combining."""
    ev = events.filter(F.col("ts").isNotNull()).select(
        "event_type", "ts", "event_id"
    )
    ranked, _ = running(ev, ["ts", "event_id"], {"rn": ("count", None)}, ["event_type"])
    cur = ranked.select(
        "event_type", F.col("rn").alias("rn"), F.unix_timestamp("ts").alias("t1")
    )
    nxt = ranked.select(
        F.col("event_type").alias("et2"),
        (F.col("rn") - 1).alias("rn2"),
        F.unix_timestamp("ts").alias("t2"),
    )
    # NULL-SAFE type equality: an untyped (NULL event_type) stream is a
    # group like any other — GROUP BY and window PARTITION BY both treat
    # NULL as one group in both engines, so the pairing join must too
    # (a plain equi-join would silently drop the NULL stream)
    gaps = cur.join(
        nxt,
        F.col("event_type").eqNullSafe(F.col("et2")) & (F.col("rn") == F.col("rn2")),
    ).select("event_type", (F.col("t2") - F.col("t1")).cast("long").alias("g"))
    mom = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("sg"),
        F.sum((F.col("g") * F.col("g")).cast("decimal(38,0)")).alias("sgg"),
    )
    n = F.col("n_gaps").cast("double")
    mu = F.col("sg").cast("double") / n
    var = F.col("sgg").cast("double") / n - mu * mu
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        mom.filter(F.col("n_gaps") >= 2)
        .select(
            "event_type",
            "n_gaps",
            (F.round(mu, 6) + F.lit(0.0)).alias("mean_gap_s"),
            sigma.alias("_sigma"),
            mu.alias("_mu"),
        )
        .filter(F.col("_sigma") + F.col("_mu") > 0)
        .select(
            "event_type",
            "n_gaps",
            "mean_gap_s",
            (F.round(F.col("_sigma") / F.col("_mu"), 6) + F.lit(0.0)).alias("cv"),
            (
                F.round(
                    (F.col("_sigma") - F.col("_mu")) / (F.col("_sigma") + F.col("_mu")),
                    6,
                )
                + F.lit(0.0)
            ).alias("burstiness"),
        )
        .orderBy("event_type")
    )


def anom1_seasonal_anomalies(events: DataFrame) -> DataFrame:
    """Seasonally-adjusted anomaly days: the stl1 decomposition's
    remainder scored against its own dispersion — a day is anomalous
    when its residual (after removing the 7-day moving-average trend
    and the day-of-week profile) exceeds 2 remainder-sigmas. The
    incident-detection readout on top of the time-series family: cpd1
    finds the one structural break, THIS finds the individually-odd
    days around an otherwise-stable profile.

    Cross-engine exactness: the trend/seasonal/remainder chain is
    stl1's verbatim (exact long window sums, one division by 7, 9-dp
    decimal dow means); Var(r) uses stl1's 12-dp decimal moment sums;
    the anomaly decision compares r² > 4·Var(r) — both operands are
    the SAME double composition in both engines, so the flag cannot
    diverge; displayed residual/z round to 6 dp after the decision.

    Scale shape: everything past the shared daily agg runs on the
    calendar-bounded spine (the shared _stl_detrended core: broadcast
    MA equi-join, ≤7-row dow broadcast, then a 1-row variance
    broadcast here)."""
    terms = _stl_detrended(events).select("day", "c", "trend", "s", "r")
    v = terms.agg(
        (
            F.sum(F.round(F.col("r") * F.col("r"), 12).cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")
            - (
                F.sum(F.round(F.col("r"), 12).cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            )
            * (
                F.sum(F.round(F.col("r"), 12).cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            )
        ).alias("var_r"),
    )
    return (
        terms.crossJoin(F.broadcast(v))
        .filter(
            (F.col("var_r") > 0)
            & (F.col("r") * F.col("r") > F.lit(4.0) * F.col("var_r"))
        )
        .select(
            "day",
            "c",
            (F.round(F.col("trend") + F.col("s"), 6) + F.lit(0.0)).alias("expected"),
            (F.round(F.col("r"), 6) + F.lit(0.0)).alias("residual"),
            (F.round(F.col("r") / F.sqrt(F.col("var_r")), 6) + F.lit(0.0)).alias("z_score"),
        )
        .orderBy("day")
    )


def surv1_conversion_survival(events: DataFrame) -> DataFrame:
    """Kaplan–Meier product-limit estimator (Kaplan & Meier 1958) of
    the view→purchase conversion time, with right-censoring: subjects
    are users with ≥1 view; the event is their first purchase at or
    after the first view; users who never convert are CENSORED at
    their last observed activity — the survival curve S(t) = P(still
    unconverted after t days) that lag1's quartiles (converted users
    only) silently bias.

    Cross-engine exactness: durations are calendar-day integers; the
    risk set n(t) = total − (started earlier) is exact integer prefix
    arithmetic; each event day's log term ln(1 − d/n) is one double ln
    of an exact-integer ratio, rounded to integer NANO-units, so the
    cumulative product Π(1 − d/n) = exp(Σ ln-nanos / 1e9) folds exact
    longs (the hurst1 association rule) — with an explicit zero flag
    for a day where d = n (S drops to exactly 0; ln(0) is not a
    number). Subjects whose first view has no timestamp are excluded
    up front (a NULL duration would order differently across engines).

    Scale shape: three user-keyed aggs (one shuffle each), then
    everything runs at the duration-day grain (calendar-bounded):
    both cumulative passes are running sums (range partitioning —
    never a single-partition window)."""
    views = (
        events.filter((F.col("event_type") == "view") & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(F.min("ts").alias("fv"))
    )
    purch = (
        events.filter(F.col("event_type") == "purchase")
        .join(views, "user_id")
        .filter(F.col("ts") >= F.col("fv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    last = (
        events.join(views.select("user_id"), "user_id")
        .groupBy("user_id")
        .agg(F.max("ts").alias("le"))
    )
    subj = (
        views.join(purch, "user_id", "left")
        .join(last, "user_id")
        .select(
            F.datediff(
                F.to_date(F.coalesce(F.col("fp"), F.col("le"))), F.to_date(F.col("fv"))
            )
            .cast("long")
            .alias("t_days"),
            F.when(F.col("fp").isNotNull(), 1).otherwise(0).alias("obs"),
        )
    )
    counts = subj.groupBy("t_days").agg(
        F.sum("obs").cast("long").alias("n_ev"),
        F.sum(F.lit(1) - F.col("obs")).cast("long").alias("n_cens"),
    )
    pre, totals = running(
        counts, ["t_days"], {"cum_ev": ("sum", "n_ev"), "cum_cens": ("sum", "n_cens")}
    )
    n_total = totals["cum_ev"] + totals["cum_cens"]
    if n_total == 0:
        return events.sparkSession.createDataFrame(
            [],
            "t_days long, n_at_risk long, n_events long, n_censored long, "
            "survival double",
        )
    risk = (
        F.lit(n_total)
        - (F.col("cum_ev") + F.col("cum_cens") - F.col("n_ev") - F.col("n_cens"))
    ).cast("long")
    evd = pre.filter(F.col("n_ev") > 0).select(
        "t_days",
        "n_ev",
        "n_cens",
        risk.alias("n_at_risk"),
    )
    ln_nano = F.when(F.col("n_ev") == F.col("n_at_risk"), F.lit(0).cast("long")).otherwise(
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("n_ev").cast("double") / F.col("n_at_risk").cast("double")
            )
            * F.lit(1000000000.0),
            0,
        ).cast("long")
    )
    zf = F.when(F.col("n_ev") == F.col("n_at_risk"), 1).otherwise(0).cast("long")
    evd2 = evd.select(
        "t_days", "n_ev", "n_cens", "n_at_risk", ln_nano.alias("ln_nano"), zf.alias("zf")
    )
    km, _ = running(
        evd2, ["t_days"], {"cum_ln": ("sum", "ln_nano"), "cum_z": ("sum", "zf")}
    )
    surv = (
        F.when(F.col("cum_z") > 0, F.lit(0.0)).otherwise(
            F.round(F.exp(F.col("cum_ln").cast("double") / F.lit(1000000000.0)), 6)
        )
        + F.lit(0.0)
    )
    return km.select(
        "t_days",
        "n_at_risk",
        F.col("n_ev").alias("n_events"),
        F.col("n_cens").alias("n_censored"),
        surv.alias("survival"),
    ).orderBy("t_days")


def ben1_benford_audit(orders: DataFrame) -> DataFrame:
    """Benford's-law audit of the leading digit of order values — the
    classical fabricated-data / synthetic-data smell test (Benford
    1938; Nigrini's forensic-accounting battery): organically-grown
    monetary amounts follow P(d) = log10(1 + 1/d); a synthesizer or a
    truncated pipeline shows up as a flat or spiked digit histogram.

    Cross-engine exactness: money converts to exact integer CENTS
    first (the house money rule); the leading digit is the FIRST
    CHARACTER of the integer's decimal string — integer-to-string is
    canonical on both engines, so no log10/pow float path touches the
    digit extraction. All nine digits are densified (chi21's rule: an
    absent digit is a 0-count row, not a missing one). Shares and the
    Benford expectation are pointwise doubles rounded to 6 dp; `dev`
    is composed from the already-rounded shares so both engines
    subtract identical values.

    Scale: one combining digit agg over the scan (9 groups), then
    spine arithmetic."""
    cents = F.round(F.col("o_totalprice") * F.lit(100), 0).cast("long")
    digits = (
        orders.select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(F.substring(F.col("cents").cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spark = orders.sparkSession
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    dense = (
        spine.join(digits, "digit", "left")
        .select("digit", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_orders"))
        .crossJoin(
            F.broadcast(digits.agg(F.sum("n").cast("long").alias("total")))
        )
        .filter(F.col("total") > 0)
    )
    obs = F.round(F.col("n_orders").cast("double") / F.col("total").cast("double"), 6)
    exp = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")), 6)
    return dense.select(
        "digit",
        "n_orders",
        (obs + F.lit(0.0)).alias("obs_share"),
        (exp + F.lit(0.0)).alias("exp_share"),
        (F.round(obs - exp, 6) + F.lit(0.0)).alias("dev"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# Derived-partsupp TPC-H completion: Q2 / Q9 / Q11 / Q16 / Q20
# ---------------------------------------------------------------------------

def derived_partsupp(part: DataFrame, supplier: DataFrame) -> DataFrame:
    """The driver testdata ships no `partsupp` table, so the five TPC-H
    queries that need one (Q2/Q9/Q11/Q16/Q20) derive it DETERMINISTICALLY
    from part × supplier, mirroring dbgen's stride assignment (4 suppliers
    per part at stride n_supp/4 — TPC-H spec §4.2.3). The DuckDB oracle
    builds the identical table with identical integer arithmetic, so every
    query downstream hash-compares exactly.

    ps_supplycost is carried as INTEGER CENTS (bigint) end to end — money
    stays in exact integer arithmetic in both engines and converts to
    dollars only at the output edge.

    Plan shape: map-side 4× row generation over the part scan plus a
    broadcast of the 1-row supplier count — no shuffle. At 100 TB the
    table is never materialized; it fuses into whichever join consumes it.
    """
    n_supp = F.broadcast(
        supplier.agg(F.count(F.lit(1)).cast("long").alias("n_supp"))
    )
    ps0 = (
        part.crossJoin(n_supp)
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.col("n_supp"),
            F.explode(F.array(*[F.lit(i).cast("long") for i in range(4)])).alias("i"),
        )
        .select(
            "ps_partkey",
            (
                (F.col("ps_partkey") + F.col("i") * F.floor(F.col("n_supp") / 4).cast("long"))
                % F.col("n_supp")
            ).alias("ps_suppkey"),
        )
    )
    return ps0.select(
        "ps_partkey",
        "ps_suppkey",
        (F.lit(1).cast("long") + (F.col("ps_partkey") * 37 + F.col("ps_suppkey") * 71) % 9999).alias(
            "ps_availqty"
        ),
        (
            F.lit(100).cast("long")
            * (F.lit(1) + (F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 7) % 900)
            + F.col("ps_partkey") % 100
        ).alias("ps_supplycost_cents"),
    )


def q2_min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q2 shape: for every ECONOMY part, the ASIA supplier(s)
    offering the minimum supply cost (correlated-min re-join).

    Plan: region/nation broadcast (fixed cardinality); supplier join left
    to AQE. The correlated `cost = MIN(cost) OVER part` is the classic
    agg-then-rejoin: one partial-agg groupBy on ps_partkey, one re-join on
    (partkey, cents) — both shuffle on ps_partkey, so AQE plans them into
    the same exchange. Integer-cents equality makes the min re-join exact
    (no float-compare trap)."""
    eligible = (
        derived_partsupp(part, supplier)
        .join(supplier, F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(
            part.filter(F.col("p_type") == "ECONOMY").select("p_partkey"),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .select("ps_partkey", "ps_supplycost_cents", "s_acctbal", "s_name", "n_name")
    )
    min_cost = eligible.groupBy(F.col("ps_partkey").alias("mc_partkey")).agg(
        F.min("ps_supplycost_cents").alias("mc_cents")
    )
    return (
        eligible.join(
            min_cost,
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost_cents") == F.col("mc_cents")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            F.round(F.col("ps_supplycost_cents") / 100.0, 2).alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q9_product_type_profit(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue − supply cost) by supplier nation
    and order year for one part family ('%bolt%').

    Plan: the part-name filter prunes partsupp BEFORE the fact join; the
    lineitem⋈partsupp join is on the composite (partkey, suppkey) — the
    natural co-partitioning key at scale; nation broadcast. Money: revenue
    is lifted into CENTS (×100, exact decimal) so revenue−cost is a SINGLE
    exact decimal sum, rounded once at the output edge (mirrors q1's
    sum_charge discipline)."""
    ps = (
        derived_partsupp(part, supplier)
        .join(
            part.filter(F.col("p_name").like("%bolt%")).select("p_partkey"),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .select("ps_partkey", "ps_suppkey", "ps_supplycost_cents")
    )
    rev_cents = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    ).cast("decimal(28,8)") * F.lit(100).cast("decimal(3,0)")
    cost_cents = (
        F.col("ps_supplycost_cents").cast("decimal(18,2)") * _dec("l_quantity")
    ).cast("decimal(28,8)")
    profit_cents = rev_cents.cast("decimal(37,8)") - cost_cents.cast("decimal(37,8)")
    return (
        lineitem.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit_cents).cast("double"), 4).alias("sum_profit_cents"))
        .orderBy("nation", "o_year")
    )


def q11_important_stock(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value held by ASIA suppliers,
    keeping parts whose value exceeds 1/10000 of the total.

    Plan: one groupBy shuffle on ps_partkey with map-side partial sums;
    the grand total is a 1-row broadcast; the threshold compare is PURE
    BIGINT (value×10000 > total) — no float fraction, exact in both
    engines. Products fit comfortably in int64 (value ≤ ~1e13)."""
    asia_supp = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    per_part = (
        derived_partsupp(part, supplier)
        .join(asia_supp, F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(F.col("ps_supplycost_cents") * F.col("ps_availqty"))
            .cast("long")
            .alias("value_cents")
        )
    )
    total = F.broadcast(per_part.agg(F.sum("value_cents").cast("long").alias("total_cents")))
    return (
        per_part.crossJoin(total)
        .filter(F.col("value_cents") * 10000 > F.col("total_cents"))
        .select("ps_partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), "ps_partkey")
    )


def q16_parts_supplier_relationship(part: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers offer each
    (brand, type, size) combination, excluding one brand, a size set, and
    a supplier denylist (anti join).

    Plan: the part-side filters prune before the join; the denylist is a
    broadcast anti join (it is a filtered scan of supplier, small by
    selectivity); COUNT(DISTINCT suppkey) expands map-side to (grp, supp)
    pairs then distinct-counts — one shuffle on the group key."""
    sizes = [1, 4, 7, 11, 14, 23, 36, 49]
    parts = part.filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(sizes)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    denylist = supplier.filter(F.col("s_acctbal") < 100.0).select("s_suppkey")
    return (
        derived_partsupp(part, supplier)
        .join(parts, F.col("ps_partkey") == F.col("p_partkey"))
        .join(denylist, F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def q20_potential_promotion(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q20 shape: EUROPE suppliers holding excess stock (availqty >
    half of what they shipped in 1997) of any 'red%' part.

    Plan: the shipped-quantity agg groups on the same composite
    (partkey, suppkey) the partsupp join uses — one co-partitioned
    shuffle; the availqty > qty/2 compare is exact decimal
    (2×availqty > qty avoids division); region/nation broadcast. The
    distinct supplier set is at most |supplier|, so AQE picks the final
    join strategy."""
    red_parts = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    shipped = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(red_parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
    )
    excess = (
        derived_partsupp(part, supplier)
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty").cast("decimal(18,4)") * 2 > F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        supplier.join(excess, F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


def norm1_zscore_value(events: DataFrame) -> DataFrame:
    """Per-group z-score normalization (feature scaling) of event values:
    z = (x − μ) / σ within each event_type — the standardization step a
    feature pipeline applies before training.

    Determinism discipline: μ and σ derive from EXACT decimal sums
    (Σx and Σx² in decimal, cast to double once), then one explicitly
    ordered double formula — so both engines evaluate bit-identical
    arithmetic instead of their own streaming-moment implementations.
    Plan: one map-side-combining groupBy over few groups, broadcast back
    over the scan — two narrow stages, no wide shuffle of the fact."""
    vals = events.filter(F.col("value").isNotNull())
    vdec = F.col("value").cast("decimal(18,4)")
    g = vals.groupBy("event_type").agg(
        F.sum(vdec).cast("double").alias("s"),
        F.sum(vdec * vdec).cast("double").alias("ssq"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    var_num = F.col("ssq") - F.col("s") * F.col("s") / F.col("n")
    return (
        vals.join(F.broadcast(g), "event_type")
        .filter((F.col("n") > 1) & (var_num > 0))
        .select(
            "event_id",
            "event_type",
            (
                F.round(
                    (F.col("value").cast("double") - F.col("s") / F.col("n"))
                    / F.sqrt(var_num / (F.col("n") - 1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("z_value"),
        )
    )


def out1_iqr_outliers(events: DataFrame) -> DataFrame:
    """Tukey-fence outlier detection per event type: rows outside
    [q1 − 1.5·IQR, q3 + 1.5·IQR] — the data-cleaning pass a feature
    pipeline runs before normalization.

    Quartiles are EXACT order statistics (type-1: the ceil(q·n)-th
    smallest with a total order), not interpolated percentiles — engines
    disagree on interpolation rules, but the k-th element of a totally
    ordered set is engine-independent. event_type has ~5 distinct values,
    so a partitionBy window would push ~20% of all events through one
    task; ranks come from a grouped `ordered.running` count instead
    (group-prefixed range partitioning, per-cell offsets — no
    fact-sized single task anywhere). Then a |types|-row conditional agg
    for the fences (broadcast back) and a map-only filter."""
    vals = events.filter(F.col("value").isNotNull())
    ranked, _ = running(
        vals.select("event_id", "event_type", "value"),
        ["value", "event_id"],
        {"rn": ("count", None)},
        ["event_type"],
    )
    k1 = F.ceil(F.col("rn_total") * 0.25).cast("long")
    k3 = F.ceil(F.col("rn_total") * 0.75).cast("long")
    fences = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == k1, F.col("value"))).alias("q1"),
        F.max(F.when(F.col("rn") == k3, F.col("value"))).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        ranked.join(F.broadcast(fences), "event_type")
        .filter(
            (F.col("value") < F.col("q1") - 1.5 * iqr)
            | (F.col("value") > F.col("q3") + 1.5 * iqr)
        )
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


def coh1_weekly_retention(events: DataFrame) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    distinct in each subsequent week offset — the product-analytics
    triangle every events warehouse serves.

    Two aggregations: min-ts per user (map-side combining), then a
    distinct count per (cohort_week, week_offset) after a join back on
    user_id — the join key is the natural co-partitioning key, so at
    scale both sides shuffle once on user_id and the rest is local.
    Week arithmetic is integer days/7 on week-truncated timestamps —
    exact in both engines."""
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    joined = events.join(firsts, "user_id").select(
        "user_id",
        "cohort_week",
        (
            F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
        ).cast("int").alias("week_offset"),
    )
    return (
        joined.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def hll1_mergeable_daily_uniques(events: DataFrame) -> DataFrame:
    """Mergeable cardinality sketches — the incremental-rollup pattern at
    100 TB: per-day HLL sketches are built ONCE (map-side combining
    binary sketch state), then any rollup (weekly, monthly, all-time)
    UNIONS the stored sketches instead of rescanning raw events. This is
    what makes "distinct users this quarter" a metadata-sized query.

    Here: per-day sketch → per-day estimate, plus the union-of-all-days
    estimate as an `all_days` row. No SQL oracle BY NATURE (sketch
    binaries are engine-specific); the pytest pins the estimates against
    exact distinct counts within HLL error bounds."""
    daily = events.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_day = daily.select(
        F.col("day").cast("string").alias("day"),
        F.hll_sketch_estimate("sk").cast("long").alias("est_unique_users"),
    )
    total = daily.agg(
        F.lit("all_days").alias("day"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est_unique_users"),
    )
    return per_day.unionByName(total.select("day", "est_unique_users")).orderBy("day")


def cum1_cumulative_unique_users(events: DataFrame) -> DataFrame:
    """Cumulative distinct users by day — the growth curve. A naive
    per-day COUNT(DISTINCT user ≤ day) rescans history per day; the
    scalable identity is: distinct-to-date = Σ first-appearances, so one
    min-per-user agg + one tiny per-day count + a running sum over days.
    At 100 TB the only big shuffle is the user_id agg; the cumulative
    window runs over |days| rows."""
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    daily_new = firsts.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.select(
        "day",
        "n_new_users",
        F.sum("n_new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day")


def lag1_conversion_lag_quartiles(events: DataFrame) -> DataFrame:
    """Funnel timing: per user, seconds from first 'view' to the first
    'purchase' at-or-after it; output the exact quartiles of that lag
    distribution — the time-to-convert metric behind funnel dashboards.

    Quartiles are exact type-1 order statistics (same discipline as
    out1_iqr_outliers: interpolation rules differ across engines, the
    k-th element of a total order does not). Lags are integer seconds
    (unix_timestamp difference ≡ DuckDB date_diff('second')). Plan: two
    filtered min-aggs shuffling on user_id, then rank over the (small)
    converted-user set."""
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    first_purchase = (
        events.filter(F.col("event_type") == "purchase")
        .join(views, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lags = first_purchase.select(
        "user_id",
        (
            F.unix_timestamp("first_purchase") - F.unix_timestamp("first_view")
        ).cast("long").alias("lag_seconds"),
    )
    # global row_number via a running count (the converted-
    # user set is fact-sized at scale — a bare Window.orderBy would sort
    # it in one task); the total count n falls out of the same pass as a
    # Python int, so each quartile pick is a literal-rank filter.
    ranked, totals = running(
        lags.select("lag_seconds", "user_id"),
        ["lag_seconds", "user_id"],
        {"rn": ("count", None)},
    )
    n = totals["rn"]
    import math

    qs = [("p25", 0.25), ("p50", 0.50), ("p75", 0.75)]
    picks = [
        ranked.filter(F.col("rn") == math.ceil(n * frac)).select(
            F.lit(label).alias("quartile"),
            F.col("lag_seconds"),
            F.lit(n).cast("long").alias("n_converted"),
        )
        for label, frac in qs
    ]
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.orderBy("quartile")


def anon1_k_anonymity(customer: DataFrame, k: int = 5) -> DataFrame:
    """K-anonymity audit over quasi-identifiers — the privacy check a
    dataset release runs: any (nation, segment, balance-band) combination
    shared by FEWER than k individuals is a re-identification risk and
    must be generalized or suppressed before release.

    One groupBy on the quasi-identifier tuple (map-side combining),
    HAVING count < k — scan-shaped; the output is the violation list,
    at most |combinations| rows. The balance band generalizes the
    continuous column (floor to 1000s), the standard first step of
    k-anonymization."""
    band = (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("long")
    return (
        customer.groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            band.alias("balance_band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .filter(F.col("group_size") < k)
        .orderBy("nation", "segment", "balance_band")
    )


def wow1_weekly_growth(events: DataFrame) -> DataFrame:
    """Week-over-week growth of event volume: weekly counts, previous
    week via lag, percent change — the canonical trend transform.
    Integer counts; the percent change is one double division + round(2)
    (identical IEEE both engines). The window runs over |weeks| rows."""
    weekly = events.groupBy(F.date_trunc("week", F.col("ts")).alias("week")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    w = Window.orderBy("week")
    prev = F.lag("n_events").over(w)
    return weekly.select(
        "week",
        "n_events",
        prev.alias("prev_week"),
        (F.round((F.col("n_events") - prev) / prev * 100, 2) + F.lit(0.0)).alias("pct_change"),
    ).orderBy("week")


def co1_event_type_cooccurrence(events: DataFrame) -> DataFrame:
    """Co-occurrence matrix: for every pair of event types, how many
    users did both — the association-mining primitive (cross-sell /
    funnel-adjacency analysis).

    The distinct (user, type) projection bounds the self-join: each user
    contributes at most C(|types|,2) pairs, so the join output is
    O(users · types²) with tiny types — never O(events²). One shuffle on
    user_id, map-side-combining count."""
    ut = events.select("user_id", "event_type").distinct()
    return (
        ut.alias("a")
        .join(ut.alias("b"), "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("type_a", "type_b")
    )


def corr1_spearman_orders(orders: DataFrame) -> DataFrame:
    """Spearman rank correlation between a customer's order COUNT and
    total SPEND — "do frequent buyers spend more?" asked robustly (rank
    correlation ignores the heavy price tail that wrecks Pearson).

    Cross-engine exactness: ranks are integers (row_number over a total
    order with the custkey tiebreaker), so Σd² is an INTEGER — the only
    float is the final textbook formula rho = 1 − 6Σd²/(n(n²−1)), one
    identically-ordered IEEE expression rounded to 6 dp in both engines.
    Ranks are running counts (ordered.running), not a single-partition
    window; everything upstream is one groupBy shuffle on o_custkey."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
    )
    ranked, _ = running(per_cust, ["n_orders", "o_custkey"], {"rx": ("count", None)})
    ranked, _ = running(ranked, ["spend", "o_custkey"], {"ry": ("count", None)})
    d = F.col("rx") - F.col("ry")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(d * d).cast("long").alias("sum_d2"),
    )
    nd = F.col("n_customers").cast("double")
    sd = F.col("sum_d2").cast("double")
    rho = F.lit(1.0) - (F.lit(6.0) * sd) / (nd * (nd * nd - F.lit(1.0)))
    # n ≥ 2 guard: rank correlation of one customer is 0/0 — Spark NaN
    # vs DuckDB NULL; drop the undefined row identically in both engines
    return agg.filter(F.col("n_customers") >= 2).select(
        "n_customers", "sum_d2", (F.round(rho, 6) + F.lit(0.0)).alias("rho")
    )


def unpiv1_status_counts(orders: DataFrame) -> DataFrame:
    """UNPIVOT surface: one wide conditional-count row melted to
    (metric, value) long form — the wide→long reshape every BI export
    needs. The wide row is a single map-side-combining scan; the unpivot
    itself is a zero-shuffle metadata rewrite of a 1-row relation."""
    wide = orders.agg(
        *[
            F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{s.lower()}")
            for s in ("F", "O", "P")
        ]
    )
    return wide.unpivot([], ["n_f", "n_o", "n_p"], "metric", "n_orders").orderBy(
        "metric"
    )


def gini1_spend_concentration(orders: DataFrame) -> DataFrame:
    """Gini coefficient of customer spend — "what share of revenue do the
    top customers hold?" as one number (0 = equal, →1 = concentrated).
    The whale-detection metric behind every marketplace health dashboard.

    G = (2·Σ(i·xᵢ) − (n+1)·Σxᵢ) / (n·Σxᵢ) over spend sorted ascending
    with rank i. Ranks are a running count (no single-partition
    window); Σxᵢ and Σ(i·xᵢ) are EXACT decimal sums (rank·spend stays
    within decimal(38) — 18-digit rank cap times 18,2 spend), so the
    only float is the final formula, rounded to 6 dp identically in both
    engines."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    ranked, _ = running(per_cust, ["spend", "o_custkey"], {"rn": ("count", None)})
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("spend").alias("s0"),
        F.sum(F.col("rn").cast("decimal(18,0)") * F.col("spend")).alias("s1"),
    )
    nd = F.col("n_customers").cast("double")
    s0 = F.col("s0").cast("double")
    s1 = F.col("s1").cast("double")
    gini = (F.lit(2.0) * s1 - (nd + F.lit(1.0)) * s0) / (nd * s0)
    return agg.select(
        "n_customers",
        F.round(s0, 2).alias("total_spend"),
        F.round(gini, 6).alias("gini"),
    )


def m1_event_transitions(events: DataFrame) -> DataFrame:
    """Markov transition counts: for each user's event sequence (ordered
    by ts with the event_id tiebreak), count (previous → next) event-type
    pairs — the navigation/journey matrix behind "what do users do after
    a view?". One KEYED window (partitionBy user_id — state scales with
    users, never single-partition) + one map-side-combining count."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


def ent1_transition_entropy(events: DataFrame) -> DataFrame:
    """Per-state conditional entropy of the user-journey Markov chain
    (Shannon 1948 over m1's transition counts): for each previous
    event type, H(next | prev) in bits plus its normalized form
    H / log2(|next alphabet|) — the predictability readout: a state
    with near-zero entropy funnels users deterministically; near-1
    normalized entropy means the next step is anyone's guess.

    Cross-engine exactness: transition counts are exact longs; each
    −p·log2(p) term is one double composition of an exact integer
    ratio rounded to 9 dp into DECIMAL sums (order-free); the readout
    divides/rounds once. A prev state with ONE distinct successor has
    log2(1) = 0 in the denominator — normalized entropy is defined 0
    there (the state is perfectly predictable), never 0/0.

    Scale shape: m1's keyed window + combining agg collapse the corpus
    to the |types|² transition matrix; everything here runs at that
    bounded grain."""
    trans = m1_event_transitions(events)
    tot = trans.groupBy("prev_type").agg(
        F.sum("n_transitions").cast("long").alias("n_from"),
        F.count(F.lit(1)).cast("long").alias("n_next"),
    )
    p = F.col("n_transitions").cast("double") / F.col("n_from").cast("double")
    terms = trans.join(tot, "prev_type").select(
        "prev_type",
        "n_from",
        "n_next",
        F.round(-p * F.log2(p), 9).cast("decimal(38,12)").alias("term"),
    )
    h = F.col("h_raw").cast("double")
    return (
        terms.groupBy("prev_type", "n_from", "n_next")
        .agg(F.sum("term").alias("h_raw"))
        .select(
            "prev_type",
            "n_from",
            F.col("n_next").alias("n_distinct_next"),
            (F.round(h, 6) + F.lit(0.0)).alias("entropy_bits"),
            (
                F.when(F.col("n_next") > 1, F.round(h / F.log2(F.col("n_next").cast("double")), 6))
                .otherwise(F.lit(0.0))
                + F.lit(0.0)
            ).alias("norm_entropy"),
        )
        .orderBy("prev_type")
    )


def wau1_rolling_weekly_active(events: DataFrame) -> DataFrame:
    """Rolling 7-day active users per calendar day — THE engagement
    curve (WAU at day grain). A sliding DISTINCT is not a sum of daily
    distincts; the scalable exact form dedups to (user, day) pairs
    once, then each pair votes for the 7 window-END days it keeps
    active ([day, day+6] — an exploded EQUI join, acf1's offset
    discipline, never a range self-join), and one count-distinct per
    end day finishes it. Days inside the observed span with no active
    window are zero-filled off the calendar spine.

    Cross-engine exactness: everything is exact integer counting on
    calendar dates (count_distinct ignores NULL user ids in both
    engines).

    Scale shape: the (user, day) dedup is the one corpus-sized shuffle
    (map-side combining); the vote explode is a fixed 7× of the
    DEDUPED pairs; the per-day distinct agg shuffles (day, user) keys;
    the spine join is calendar-bounded."""
    daily, spine = _daily_spine(events)
    ud = (
        events.filter(F.col("ts").isNotNull())
        .select("user_id", F.to_date(F.col("ts")).alias("day"))
        .distinct()
    )
    votes = ud.select(
        "user_id",
        F.explode(F.array(*[F.lit(o) for o in range(7)])).alias("o"),
        "day",
    ).select("user_id", F.date_add(F.col("day"), F.col("o")).alias("day"))
    wau = votes.groupBy("day").agg(
        F.count_distinct("user_id").cast("long").alias("wau")
    )
    return (
        spine.join(wau, "day", "left")
        .select("day", F.coalesce(F.col("wau"), F.lit(0)).cast("long").alias("wau"))
        .orderBy("day")
    )


def ret1_rolling_retention(events: DataFrame) -> DataFrame:
    """Forward 7-day rolling retention: of the users active on day d,
    the share seen again within [d+1, d+7] — the growth metric next to
    wau1's volume curve (coh1 answers this for signup cohorts at week
    grain; THIS answers it for every activity day). Users without an
    id are excluded up front (both counts must share one population —
    the COUNT(DISTINCT) convention).

    Cross-engine exactness: pure integer counting on calendar dates;
    the rate is one double division rounded to 6 dp. Only days with
    ≥1 active user emit (retention of an empty population is
    undefined, not 0).

    Scale shape: ONE (user, day) dedup shuffle; return visits vote
    into the 7 PRIOR days via exploded equi offsets (wau1's
    discipline — never a range self-join), and the retained count is
    a (day, user)-keyed distinct agg; the final join runs at day
    grain... bounded by the calendar, not the corpus."""
    ud = (
        events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.to_date(F.col("ts")).alias("day"))
        .distinct()
    )
    future = ud.select(
        "user_id",
        F.explode(F.array(*[F.lit(o) for o in range(1, 8)])).alias("o"),
        F.col("day").alias("visit_day"),
    ).select("user_id", F.date_sub(F.col("visit_day"), F.col("o")).alias("day"))
    retained = (
        ud.join(future, ["user_id", "day"])
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("n_retained"))
    )
    active = ud.groupBy("day").agg(
        F.count_distinct("user_id").cast("long").alias("n_active")
    )
    return (
        active.join(retained, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce(F.col("n_retained"), F.lit(0)).cast("long").alias("n_retained"),
            (
                F.round(
                    F.coalesce(F.col("n_retained"), F.lit(0)).cast("double")
                    / F.col("n_active").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("retention"),
        )
        .orderBy("day")
    )


def asof1_purchase_view_asof(events: DataFrame) -> DataFrame:
    """AS-OF join — for every purchase, the most recent prior 'view' by
    the same user (attribution: "which impression led to this sale").
    The operator Spark lacks natively, composed the scalable way: tag
    both streams, sort ONCE per user, and carry the latest left-side row
    forward with last(ignore nulls) — one KEYED window over the union
    instead of a per-row lookup join (which would be a range join that
    explodes, or row-at-a-time Python). Both engines express the same
    window, so the op stays oracle-paired despite being "custom".

    Ordering contract (total, engine-exact): (ts, event_id) — a view in
    the same microsecond as a purchase counts as prior iff its event_id
    is smaller. Gap uses the repo's unix-seconds convention (lag1).
    Purchases with no prior view surface with NULLs (LEFT as-of)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("v_id"),
        F.when(F.col("event_type") == "view", F.col("ts")).alias("v_ts"),
    )
    carried = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last("v_id", ignorenulls=True).over(w).alias("asof_view_id"),
        F.last("v_ts", ignorenulls=True).over(w).alias("asof_view_ts"),
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "asof_view_id",
            (F.unix_timestamp("ts") - F.unix_timestamp("asof_view_ts"))
            .cast("long")
            .alias("view_to_purchase_s"),
        )
        .orderBy("purchase_id")
    )


def sess1_user_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization — split each user's event stream at inactivity
    gaps > `gap_minutes` (the standard web-analytics session cut) and
    emit one row per session with its size, bounds, and duration.

    The classic two-window composition: lag(ts) marks session starts
    (gap strictly greater than the cutoff, in the repo's exact
    unix-seconds convention), a running sum of start markers numbers
    sessions within the user, then one groupBy rolls sessions up. Both
    windows and the final agg hash-partition on user_id — state scales
    with users, never a global sort."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(
        gap_s.isNull() | (gap_s > gap_minutes * 60), F.lit(1)
    ).otherwise(F.lit(0))
    numbered = events.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_idx"),
    )
    return (
        numbered.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            F.col("session_idx").cast("long").alias("session_idx"),
            "n_events",
            "session_start",
            "session_end",
            (F.unix_timestamp("session_end") - F.unix_timestamp("session_start"))
            .cast("long")
            .alias("duration_s"),
        )
        .orderBy("user_id", "session_idx")
    )


def fun1_stage_funnel(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel view → click → signup → purchase: a
    user reaches stage k only via a stage-k event AT OR AFTER their
    first stage-(k-1) reach — the sequential-funnel semantics dashboards
    mean (a purchase before any view does NOT count).

    Shape: one filtered min-agg per stage, each joined to the previous
    stage's reach time (4 shuffles on user_id total, all map-side
    combining); the final count-per-stage is a tiny agg. No window over
    the whole stream, no per-user collect."""
    stages = ["view", "click", "signup", "purchase"]
    reach = (
        events.filter(F.col("event_type") == stages[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("reached_ts"))
    )
    def stage_count(df, idx, stage):
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(idx).alias("stage_idx"), F.lit(stage).alias("stage"), "n_users"
        )

    counts = [stage_count(reach, 1, stages[0])]
    for i, stage in enumerate(stages[1:], start=2):
        reach = (
            events.filter(F.col("event_type") == stage)
            .join(reach.select("user_id", F.col("reached_ts").alias("prev_ts")), "user_id")
            .filter(F.col("ts") >= F.col("prev_ts"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("reached_ts"))
        )
        counts.append(stage_count(reach, i, stage))
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.orderBy("stage_idx")


def decay1_time_decayed_user_value(events: DataFrame, half_life_days: float = 7.0) -> DataFrame:
    """Recency-weighted user value: Σ value · 2^(-age/half_life), age
    measured back from the corpus max timestamp — the batch-scalable
    form of exponential decay scoring (recommendation recency, churn
    risk, curriculum sampling weights).

    Unlike a sequential EWMA, the decay weight
    here is a pure function of each row's timestamp, so the operator is
    ONE map-only weight expression + one groupBy — no order dependence,
    no window state; the 1-row max-ts aggregate broadcasts. Weighted sum
    rounds to 4 before the top-level order (cross-engine determinism).
    """
    anchor = events.agg(F.max("ts").alias("t_max"))
    # integer-microsecond age (exact: the data carries microsecond
    # precision; timestampdiff handles TIMESTAMP and TIMESTAMP_NTZ alike,
    # no epoch/timezone dependence)
    age_days = F.expr("timestampdiff(MICROSECOND, ts, t_max)").cast("double") / F.lit(
        86400.0 * 1e6
    )
    weight = F.pow(F.lit(2.0), -age_days / F.lit(half_life_days))
    return (
        events.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum((F.col("value") * weight).cast("decimal(28,12)")).cast("double"), 4
            ).alias("decayed_value"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


def win1_winsorized_prices(orders: DataFrame, lo: float = 0.05, hi: float = 0.95) -> DataFrame:
    """Winsorization: clip order values to exact [p05, p95] order
    statistics — the outlier-taming transform a feature pipeline applies
    before scaling (the clipping counterpart of out1's removal).

    Same exact-quantile convention as out1: type-1 order statistics
    (ceil(q·n)-th smallest under a total order) — engine-independent,
    no interpolation. Plan: the two cut points come from a running
    count (range-repartition + per-partition offsets — no
    single-task global sort; n is already known from the offset counts),
    a 1-row aggregate that broadcasts, then a map-only greatest/least
    clip riding the scan. The clip stage (the part that touches every
    row) is map-only either way."""
    import math

    ranked, totals = running(
        orders.select("o_orderkey", "o_totalprice"),
        ["o_totalprice", "o_orderkey"],
        {"rn": ("count", None)},
    )
    n = totals["rn"]
    klo, khi = math.ceil(n * lo), math.ceil(n * hi)
    cuts = ranked.filter(F.col("rn").isin(klo, khi)).agg(
        F.max(F.when(F.col("rn") == klo, F.col("o_totalprice"))).alias("p_lo"),
        F.max(F.when(F.col("rn") == khi, F.col("o_totalprice"))).alias("p_hi"),
    )
    return (
        orders.crossJoin(F.broadcast(cuts))
        .select(
            "o_orderkey",
            "o_totalprice",
            F.greatest(F.col("p_lo"), F.least(F.col("p_hi"), F.col("o_totalprice"))).alias(
                "winsorized"
            ),
        )
        .orderBy("o_orderkey")
    )


def path1_event_trigrams(events: DataFrame, k: int = 20) -> DataFrame:
    """Top-k 3-step behavioral paths — the path-analysis readout of a
    product funnel (which event sequences dominate): consecutive
    event-type trigrams per user under the (ts, event_id) total order,
    counted corpus-wide. One window per user + one combining count agg;
    the top-k is deterministic via the (count DESC, path) total order.
    m1_event_transitions is the 2-step Markov edge view of the same
    machinery."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e2 = F.lead("event_type", 1).over(w)
    e3 = F.lead("event_type", 2).over(w)
    return (
        events.select(F.col("event_type").alias("e1"), e2.alias("e2"), e3.alias("e3"))
        # e1 filtered too: Spark's concat_ws SKIPS nulls while the
        # oracle's || propagates them — a NULL event_type would
        # otherwise yield a malformed 2-part path here vs a dropped row
        # there. Filtering all three legs keeps the engines identical.
        .filter(
            F.col("e1").isNotNull()
            & F.col("e2").isNotNull()
            & F.col("e3").isNotNull()
        )
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "path")
        .limit(k)
    )


def rfm1_customer_segments(orders: DataFrame, q: int = 4) -> DataFrame:
    """RFM segmentation — the classic customer scoring grid: per
    customer, Recency (days since their last order relative to the
    corpus's latest), Frequency (order count), Monetary (total spend,
    exact decimal), each NTILE'd into q quartiles over a total order,
    then one row per (r, f, m) segment with its population and average
    spend.

    Each NTILE runs as ordered.ntile (range-repartition +
    per-partition offset rank + closed-form bucket assignment), never a
    single-partition global sort — three keyed sorts of the
    customer-grained rollup, each spread over the cluster, then the
    segment GRID (q^3 rows) is all that ships. Recency ties (same-day
    customers) break by o_custkey in the NTILE order; frequency/monetary
    orders are DESC with the same tiebreaker — all three total orders
    (and hence every bucket edge) are deterministic in both engines."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    anchor = per_cust.agg(F.max("last_order").alias("anchor"))
    scored = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff(F.col("anchor"), F.col("last_order")).alias("recency_days"),
        "frequency",
        "monetary",
    )
    # DESC orders expressed as negated keys so the range partitioning
    # and the in-partition rank share one ascending direction
    scored = scored.withColumn("_neg_f", -F.col("frequency")).withColumn(
        "_neg_m", F.col("monetary") * F.lit(-1)
    )
    seg = ntile(scored, ["recency_days", "o_custkey"], q, "r_score")
    seg = ntile(seg, ["_neg_f", "o_custkey"], q, "f_score")
    seg = ntile(seg, ["_neg_m", "o_custkey"], q, "m_score")
    seg = seg.select("o_custkey", "monetary", "r_score", "f_score", "m_score")
    # avg in integer CENTS: floor(cents/n + 0.5)/100 sidesteps Spark's
    # round-via-shortest-decimal divergence at half-cent boundaries
    # (exact while segment totals stay under 2^53 cents)
    avg_cents = F.floor(
        (F.sum("monetary") * F.lit(100)).cast("double") / F.count(F.lit(1)) + F.lit(0.5)
    )
    return (
        seg.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            (avg_cents / F.lit(100.0)).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def skw2_salted_join_revenue(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Per-nation order totals through operators.skew.salted_join — the
    manual hot-key join fallback exercised on a real query so its
    result-set equivalence to the plain equi-join is oracle-pinned (the
    salt must only refine partitioning, never change semantics).

    Shape: orders (the big side — at 100 TB the one with the hot key)
    salts each row deterministically into 16 sub-keys; the customer
    projection replicates once per salt, so the join shuffles on
    (custkey, salt) and a pathological customer spreads over 16 tasks.
    The DuckDB oracle is the PLAIN join + group-by — identical results
    by construction. All-decimal money sums cast back to double."""
    from csv_crm_upload_spark.operators.skew import salted_join

    dim = customer.select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_nationkey").alias("nationkey")
    )
    joined = salted_join(
        orders.select("o_custkey", "o_totalprice"), dim, "o_custkey", n_salts=16
    )
    return (
        joined.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(_dec("o_totalprice", 18, 2)).cast("double").alias("total_revenue"),
        )
        .orderBy("nationkey")
    )


def ri1_referential_integrity(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Cross-table referential-integrity audit — the constraint
    validation a warehouse runs after every load: for each foreign-key
    relationship, how many child rows exist and how many are ORPHANS
    (no matching parent). All-integer outputs; each relationship is one
    LEFT ANTI join that Spark executes as a broadcast or shuffled hash
    anti join on the key — no row data moves, only keys.

    At 100 TB: anti joins on the fact tables shuffle once per
    relationship on the FK; parent key sets are dimension-sized
    (broadcast) except orders→customer, which co-partitions. The union
    of five tiny (1-row) aggregates is driver-free."""
    rels = [
        ("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey"),
        ("lineitem.l_orderkey->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
        ("lineitem.l_partkey->part", lineitem, "l_partkey", part, "p_partkey"),
        ("lineitem.l_suppkey->supplier", lineitem, "l_suppkey", supplier, "s_suppkey"),
        ("customer.c_nationkey->nation", customer, "c_nationkey", nation, "n_nationkey"),
    ]
    # each DISTINCT child is counted once (a parquet count(*) reads only
    # footers, but lineitem appears in three relationships — one count,
    # not three) and the scalar rides each relationship row as a literal
    child_rows: dict[int, int] = {}
    for _name, child, _fk, _parent, _pk in rels:
        if id(child) not in child_rows:
            child_rows[id(child)] = child.count()
    out = None
    for name, child, fk, parent, pk in rels:
        orphans = child.select(F.col(fk).alias("k")).join(
            parent.select(F.col(pk).alias("k")).distinct(), "k", "left_anti"
        )
        row = orphans.agg(
            F.lit(name).alias("relationship"),
            F.lit(child_rows[id(child)]).cast("bigint").alias("n_child_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_orphans"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relationship")


def _cdf_grid(events: DataFrame, type_a: str, type_b: str) -> tuple:
    """The pooled distinct-value grid of two event types' non-NULL
    `value`s: per value the counts (na, nb) and the running counts
    (ca, cb), i.e. both empirical CDFs scaled by their totals, plus the
    totals (ta, tb). One (value)-keyed combining agg + one running sum
    (range partitioning, never a single-task ordered window); the
    totals fall out of the same pass, so they ride into the caller's
    plan as LITERALS. The frame keeps running's `_pid`."""
    g = (
        events.filter(
            F.col("event_type").isin(type_a, type_b) & F.col("value").isNotNull()
        )
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == type_a, 1).otherwise(0))
            .cast("long")
            .alias("na"),
            F.sum(F.when(F.col("event_type") == type_b, 1).otherwise(0))
            .cast("long")
            .alias("nb"),
        )
    )
    c, totals = running(g, ["value"], {"ca": ("sum", "na"), "cb": ("sum", "nb")})
    return c, totals["ca"], totals["cb"]


def ks1_value_drift(
    events: DataFrame, type_a: str = "view", type_b: str = "purchase"
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the `value`
    distributions of two event types — the NUMERIC drift alarm next to
    drift1's token-KL and js1's source divergence: D = max |F_a - F_b|
    over the pooled value grid, the distribution-free test a pipeline
    runs when a source's numeric feature silently changes shape.

    Scale shape: `_cdf_grid` — one (value)-keyed combining agg and ONE
    running-sum pass give both empirical CDFs, with the totals as plan
    LITERALS — no second corpus scan, no broadcast join. D needs NO
    rounding: the cumulative counts
    are exact longs, so F_a/F_b/|diff|/max are the same IEEE doubles in
    both engines. A side with zero observations returns an EMPTY frame
    (KS is undefined), identically cross-engine."""
    c, ta, tb = _cdf_grid(events, type_a, type_b)
    spark = events.sparkSession
    if ta == 0 or tb == 0:
        return spark.createDataFrame([], "n_a long, n_b long, ks_d double")
    d = F.abs(
        F.col("ca").cast("double") / F.lit(float(ta))
        - F.col("cb").cast("double") / F.lit(float(tb))
    )
    return (
        c.agg(F.max(d).alias("ks_d"))
        .select(
            F.lit(ta).cast("long").alias("n_a"),
            F.lit(tb).cast("long").alias("n_b"),
            "ks_d",
        )
    )


def cvm1_value_drift(
    events: DataFrame, type_a: str = "view", type_b: str = "purchase"
) -> DataFrame:
    """Cramér–von Mises-style numeric drift: the POOLED-WEIGHTED mean
    squared CDF gap Σ_i (n_i/N)·(F_a(v_i) − F_b(v_i))² over the pooled
    value grid (n_i = pooled multiplicity at v_i, N = pooled total) —
    the L2 member of the drift family: ks1 is the sup norm (one bad
    quantile dominates), w1d1 the L1 transport cost (value-scale
    aware), this the variance-like middle that weights gaps by how much
    pooled mass sits on them. Normalized to [0, 1]; 0 iff the empirical
    CDFs agree on every pooled point.

    Same single-pass shape as ks1 (`_cdf_grid` — no lead() even
    needed); each term is a
    pointwise IEEE function of exact longs and the N literal
    (bit-identical cross-engine), the sum is order-free nano-unit
    BIGINTs — bounded by 1e9·Σ(n_i/N) = 1e9, so the BIGINT can never
    overflow at ANY corpus size (the w1d1/adc discipline, made
    scale-proof by weighting inside the term). Zero-observation side →
    EMPTY frame, identically cross-engine."""
    c, ta, tb = _cdf_grid(events, type_a, type_b)
    spark = events.sparkSession
    if ta == 0 or tb == 0:
        return spark.createDataFrame([], "n_a long, n_b long, cvm2 double")
    n_pool = float(ta + tb)
    gap = F.col("ca").cast("double") / F.lit(float(ta)) - F.col("cb").cast(
        "double"
    ) / F.lit(float(tb))
    term = (
        (F.col("na") + F.col("nb")).cast("double") / F.lit(n_pool)
    ) * gap * gap * F.lit(1000000000.0)
    unit = F.round(term, 0).cast("long")
    return (
        c.select(unit.alias("unit"))
        .agg(
            F.round(
                F.coalesce(F.sum("unit"), F.lit(0)).cast("double")
                / F.lit(1000000000.0),
                6,
            ).alias("cvm2")
        )
        .select(
            F.lit(ta).cast("long").alias("n_a"),
            F.lit(tb).cast("long").alias("n_b"),
            "cvm2",
        )
    )


def psi1_population_stability(
    events: DataFrame,
    type_a: str = "view",
    type_b: str = "purchase",
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index bins — the scorecard-monitoring drift
    metric (the one risk/ML-ops dashboards actually page on) joining the
    family: ks1 = sup norm, w1d1 = L1 transport, cvm1 = L2, PSI = the
    BINNED symmetric KL Σ_bins (p_a − p_b)·ln(p_a/p_b) over the
    REFERENCE side's decile bins. Returns the per-bin audit table
    (bin, counts, proportions, psi_term), ordered by bin — the drift
    dashboard view; the scalar PSI is SUM(psi_term) (>0.25 = act).

    Bin edges are EXACT nearest-rank deciles of the reference
    distribution (pctl2's pure-integer rank discipline — (q·n+99)//100
    thresholds over ONE running-sum pass, never a buffered
    global percentile), riding into the binning expression as literals.
    Binning is pure comparison counting (bin = #edges < value), so both
    engines bin identically. Zero-count bins are handled by the standard
    epsilon clamp (p → max(p, eps), applied on BOTH sides' proportions
    with the same literal): ln stays finite and the term keeps its
    ≥ 0 sign. Each term is a POINTWISE 9-dp-rounded double of exact
    integer-ratio proportions (the drift1/js1 log discipline; no
    cross-row sum happens here, so no decimal carrier is needed) with
    the signed-zero normalizer. Either side empty → EMPTY frame (PSI
    undefined), identically cross-engine.

    Scale shape: one (value)-grid combining agg + one prefix-sums pass
    for the edges (reference side only), then ONE map-side-combining
    groupBy over the scan for the bin counts; |n_bins| output rows."""
    va = events.filter(
        (F.col("event_type") == type_a) & F.col("value").isNotNull()
    ).select("value")
    c, n_a = value_counts(va, "value")
    spark = events.sparkSession
    empty = (
        "bin int, n_a long, n_b long, p_a double, p_b double, psi_term double"
    )
    if n_a == 0:
        return spark.createDataFrame([], empty)
    qs = [100 * i // n_bins for i in range(1, n_bins)]  # 10, 20, ..., 90
    edges_row = c.agg(
        *[
            F.min(
                F.when(F.col("cum") >= F.lit((q * n_a + 99) // 100), F.col("value"))
            ).alias(f"e{q}")
            for q in qs
        ]
    ).first()
    edges = [edges_row[f"e{q}"] for q in qs]
    both = events.filter(
        F.col("event_type").isin(type_a, type_b) & F.col("value").isNotNull()
    )
    # bin = number of reference edges strictly below the value — a pure
    # comparison count both engines evaluate identically on doubles
    bin_expr = sum(
        (F.col("value") > F.lit(float(e))).cast("int") for e in edges
    ).alias("bin")
    counts = both.select(
        bin_expr,
        F.when(F.col("event_type") == type_a, 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == type_b, 1).otherwise(0).alias("ib"),
    ).groupBy("bin").agg(
        F.sum("ia").cast("long").alias("n_a"),
        F.sum("ib").cast("long").alias("n_b"),
    )
    n_b_total = both.filter(F.col("event_type") == type_b).count()
    if n_b_total == 0:
        return spark.createDataFrame([], empty)
    # densify: every bin 0..n_bins-1 appears even when one side (or the
    # pooled corpus) left it empty — the dashboard reads absence as 0
    bins = spark.createDataFrame([(i,) for i in range(n_bins)], "bin int")
    filled = (
        bins.join(counts, "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        )
    )
    p_a = F.col("n_a").cast("double") / F.lit(float(n_a))
    p_b = F.col("n_b").cast("double") / F.lit(float(n_b_total))
    pa_c = F.greatest(p_a, F.lit(float(eps)))
    pb_c = F.greatest(p_b, F.lit(float(eps)))
    term = F.round((pa_c - pb_c) * F.log(pa_c / pb_c), 9) + F.lit(0.0)
    return filled.select(
        "bin", "n_a", "n_b",
        p_a.alias("p_a"), p_b.alias("p_b"), term.alias("psi_term"),
    ).orderBy("bin")


def w1d1_value_drift(
    events: DataFrame, type_a: str = "view", type_b: str = "purchase"
) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance between the `value`
    distributions of two event types — ks1's integral-norm cousin:
    where KS reports the WORST CDF gap, W1 = ∫|F_a − F_b| dx reports
    the TOTAL transport cost, the drift score that keeps responding as
    a shifted distribution drifts further (KS saturates at 1).

    Exact in 1-D from the SAME grid as ks1 (`_cdf_grid`: both CDFs and
    the totals as plan literals). The integral is the step-function sum
    Σ_i |F_a(v_i) − F_b(v_i)|·(v_{i+1} − v_i); the lead(value) runs
    INSIDE each range partition and the global last row of every
    partition takes the NEXT partition's min value from a bounded
    per-partition collect riding as a map literal — no single-task
    window. Determinism: per-gap terms are pointwise IEEE functions of
    exact longs and the shared grid (bit-identical cross-engine); the
    SUM is made order-free by the nano-unit BIGINT discipline
    (round(term·1e9) — exact, so DuckDB's unordered SUM agrees), then
    one 6-dp round. A side with zero observations returns an EMPTY
    frame (W1 undefined), identically cross-engine."""
    c, ta, tb = _cdf_grid(events, type_a, type_b)
    spark = events.sparkSession
    if ta == 0 or tb == 0:
        return spark.createDataFrame([], "n_a long, n_b long, w1 double")
    # boundary patch: each present partition's last grid value neighbors
    # the NEXT PRESENT partition's first — a bounded per-partition collect,
    # shipped as a map. Chained over the sorted present pids (not p+1):
    # RangePartitioner may leave a mid-chain partition empty, and a
    # p+1 lookup would silently drop that gap term and understate W1.
    mins = {
        r["_pid"]: r["_mn"]
        for r in c.groupBy("_pid").agg(F.min("value").alias("_mn")).collect()
    }
    ps = sorted(mins)
    next_start = dict(zip(ps, (mins[q] for q in ps[1:])))
    if next_start:
        nxt_map = F.create_map(
            *[F.lit(v_) for p in sorted(next_start) for v_ in (p, next_start[p])]
        )
        boundary_next = nxt_map[F.col("_pid")]
    else:
        boundary_next = F.lit(None).cast("double")
    lead_v = F.lead("value").over(Window.partitionBy("_pid").orderBy("value"))
    v_next = F.coalesce(lead_v, boundary_next)
    gap_term = (
        F.abs(
            F.col("ca").cast("double") / F.lit(float(ta))
            - F.col("cb").cast("double") / F.lit(float(tb))
        )
        * (v_next - F.col("value"))
        * F.lit(1000000000.0)
    )
    unit = F.when(v_next.isNotNull(), F.round(gap_term, 0).cast("long")).otherwise(
        F.lit(0).cast("long")
    )
    terms = c.select(unit.alias("unit"))  # window evaluated pre-aggregate
    return terms.agg(
        F.round(
            F.coalesce(F.sum("unit"), F.lit(0)).cast("double") / F.lit(1000000000.0), 6
        ).alias("w1")
    ).select(
        F.lit(ta).cast("long").alias("n_a"),
        F.lit(tb).cast("long").alias("n_b"),
        "w1",
    )


def anon2_l_diversity(customer: DataFrame, l: int = 3) -> DataFrame:
    """L-diversity audit — k-anonymity's stronger sibling (Machanavajjhala
    et al. 2007): a quasi-identifier group is re-identifiable even at
    size >= k when its SENSITIVE attribute is homogeneous (everyone in
    the group shares one segment), so each (nation, balance-band) group
    must contain at least l DISTINCT sensitive values. Output: the
    violating groups with their size and diversity — the release
    blocker list anon1's size check misses.

    One groupBy with an exact count_distinct (the sensitive domain is
    bounded — segments, diagnoses, categories — so the distinct state
    per group is small); map-side combining, scan-shaped, at most
    |groups| output rows. NULL sensitive values don't count toward
    diversity (both engines' COUNT(DISTINCT) semantics)."""
    band = (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("long")
    return (
        customer.groupBy(
            F.col("c_nationkey").alias("nation"), band.alias("balance_band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.count_distinct(F.col("c_mktsegment")).cast("long").alias("n_sensitive"),
        )
        .filter(F.col("n_sensitive") < l)
        .orderBy("nation", "balance_band")
    )


def pctl2_exact_value_percentiles(events: DataFrame) -> DataFrame:
    """EXACT global percentiles of event value at 100 TB scale —
    nearest-rank semantics over the full distribution, computed WITHOUT
    ever holding a group's values in one place: pctl_order_value's
    `percentile()` buffers every value of a group in a single aggregation
    state (fine per-status, fatal for a global percentile of a 100 TB
    column), while this shape is one distinct-value combining agg + ONE
    running-sum pass + a map-only threshold probe.

    Thresholds are PURE-INTEGER nearest-rank ranks ((q·N + 99) // 100 —
    no float q·N whose last-ulp could flip ceil at exact multiples), and
    they ride into the plan as literals from the prefix pass's free
    totals. The percentile itself is MIN(value WHERE cum >= rank) — no
    interpolation, no rounding, so the doubles match bit-for-bit
    cross-engine. An all-NULL column returns an EMPTY frame (percentiles
    of nothing are undefined), identically in both engines."""
    v = events.filter(F.col("value").isNotNull()).select("value")
    c, n = value_counts(v, "value")
    spark = events.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [], "n_values long, p25 double, p50 double, p90 double, p99 double"
        )
    picks = [
        F.min(F.when(F.col("cum") >= F.lit((q * n + 99) // 100), F.col("value"))).alias(
            f"p{q}"
        )
        for q in (25, 50, 90, 99)
    ]
    return c.agg(*picks).select(
        F.lit(n).cast("long").alias("n_values"),
        F.col("p25").alias("p25"),
        F.col("p50").alias("p50"),
        F.col("p90").alias("p90"),
        F.col("p99").alias("p99"),
    )


def fun1_ordered_funnel(
    events: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """Ordered conversion funnel — the product-analytics classic the
    journey family (e1 sessions, ent1 transitions, surv1 survival,
    ret1 retention) was missing: of the users who ever did step 1, how
    many went on to step 2 STRICTLY AFTER their first step-1 moment,
    then step 3 strictly after that, and so on. Semantics are the
    min-time cascade — t_k(user) = MIN(ts of step-k events with
    ts > t_{k-1}(user)) — which the SQL oracle states directly as k
    chained MIN subqueries.

    Scale shape: ONE user-keyed shuffle. Each user's events fold
    time-sorted through a 2-field accumulator (stage reached, stage
    timestamp) via F.aggregate — advancing on the FIRST qualifying
    step event in time order IS the min-time cascade (the first
    step-k event after t_{k-1} is the MIN such event), so the k−1
    frontier joins a naive cascade needs collapse into array work
    inside one combining agg. Per-user state is that user's own
    events (the e1-sessionize bound); step counts then reduce in one
    1-row agg and fan out to k rows plan-side. At 100 TB: one
    exchange of the filtered stream, no repeated scans, no window
    over the whole stream.

    Cross-engine exactness: pure timestamp comparisons and integer
    COUNTs; conversion is one double division of exact longs, rounded
    to 6 dp. NULL-ts and NULL-user events are excluded up front (every
    step must measure the same population); ties (a step-k event at
    EXACTLY t_{k-1}) do not qualify — strictly-greater in the fold and
    in the oracle. Tie-breaking inside sort_array cannot matter: an
    equal-ts event can never qualify for the NEXT stage, and for the
    same stage every equal-ts candidate yields the same t_k."""
    ev = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
        & F.col("event_type").isin(*steps)
    ).select("user_id", "event_type", "ts")
    seq = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("seq")
    )
    step_arr = F.array(*[F.lit(st) for st in steps])
    init = F.struct(
        F.lit(0).alias("stage"), F.lit(None).cast("timestamp").alias("t")
    )
    fold = F.aggregate(
        F.col("seq"),
        init,
        lambda acc, e: F.when(
            (acc["stage"] < F.lit(len(steps)))
            & (e["event_type"] == F.element_at(step_arr, acc["stage"] + 1))
            & ((acc["stage"] == 0) | (e["ts"] > acc["t"])),
            F.struct((acc["stage"] + 1).alias("stage"), e["ts"].alias("t")),
        ).otherwise(acc),
    )
    staged = seq.select(fold["stage"].alias("stage"))
    # coalesce: an empty stream must yield step counts of 0 (the
    # oracle's COUNT over an empty frontier), not NULL sums
    counts = staged.agg(
        *[
            F.coalesce(F.sum((F.col("stage") >= F.lit(i)).cast("long")), F.lit(0))
            .cast("long")
            .alias(f"n{i}")
            for i in range(1, len(steps) + 1)
        ]
    )
    rows = counts.select(
        F.posexplode(
            F.array(*[F.col(f"n{i}") for i in range(1, len(steps) + 1)])
        ).alias("idx", "n_users"),
        F.col("n1").alias("n_entered"),
    )
    conv = F.round(
        F.col("n_users").cast("double")
        / F.greatest(F.col("n_entered"), F.lit(1)).cast("double"),
        6,
    ) + F.lit(0.0)
    return rows.select(
        (F.col("idx") + 1).cast("int").alias("step"),
        F.element_at(step_arr, F.col("idx") + 1).alias("event_type"),
        F.col("n_users"),
        conv.alias("conversion"),
    ).orderBy("step")


def mad1_value_mad(events: DataFrame) -> DataFrame:
    """EXACT global median absolute deviation of event value — the
    robust dispersion number an outlier-heavy 100 TB column needs
    (iqr1's quartile spread reads the middle half; MAD reads distance
    from the center and feeds the 1.4826·MAD robust-sigma rule every
    anomaly threshold uses): m = exact nearest-rank median, then the
    exact nearest-rank median of |x − m|.

    Scale shape: the pctl2 discipline twice — one distinct-value
    combining agg + one running-sum pass per stage, a
    map-only |x − m| in between; the only driver state is the two
    scalars the next stage folds back in as literals. Never a
    single-partition sort, never a buffered percentile() state.

    Cross-engine exactness: pure-integer nearest-rank thresholds
    ((50·N + 99) // 100), MIN-above-rank picks (no interpolation), and
    |x − m| is one IEEE subtraction of identical doubles — bit-equal
    in both engines. The robust sigma is the single rounded product.
    An all-NULL column returns an EMPTY frame, identically."""
    v = events.filter(F.col("value").isNotNull()).select("value")
    c, n = value_counts(v, "value")
    spark = events.sparkSession
    empty = "n_values long, median double, mad double, sigma_robust double"
    if n == 0:
        return spark.createDataFrame([], empty)
    rank = (50 * n + 99) // 100
    m = c.agg(
        F.min(F.when(F.col("cum") >= F.lit(rank), F.col("value")))
    ).collect()[0][0]
    # the deviation grid re-groups the CHECKPOINTED distinct-value grid
    # (value, cnt) instead of re-scanning the raw column (guide §1.2: one
    # unavoidable corpus pass, everything after at the distinct grain):
    # |v − m| is identical per distinct value, so summing the grid's
    # counts under abs(value − m) is exactly the per-row regroup.
    g2 = (
        c.select(F.abs(F.col("value") - F.lit(float(m))).alias("dev"), "cnt")
        .groupBy("dev")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    c2, _ = running(g2, ["dev"], {"cum": ("sum", "cnt")})
    mad = F.min(F.when(F.col("cum") >= F.lit(rank), F.col("dev")))
    return c2.agg(mad.alias("mad")).select(
        F.lit(n).cast("long").alias("n_values"),
        F.lit(float(m)).alias("median"),
        F.col("mad"),
        (F.round(F.col("mad") * F.lit(1.4826), 6) + F.lit(0.0)).alias("sigma_robust"),
    )


def theil1_spend_inequality(orders: DataFrame) -> DataFrame:
    """Theil T index of customer spend (Theil 1967) — gini1's
    decomposable sibling: T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ), 0 at perfect
    equality, ln(n) at total concentration. Ordering-free (no ranks),
    so at 100 TB it is ONE customer-keyed combining agg + one 1-row
    total + one term reduction — strictly cheaper than Gini's
    distributed rank, which is why dashboards that track inequality
    per-slice use Theil (it sums across slices; Gini does not).

    Cross-engine exactness: spends are exact DECIMAL(18,2) sums; the
    ratio r = n·x/X is one double expression of exact decimals, each
    customer's r·ln(r) term is rounded to 9 dp into an exact BIGINT
    nano sum (order-free — the drift1/ent1 log discipline), and the
    index is the single rounded division at the end."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    tot = per_cust.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("spend").alias("total_spend"),
    )
    r = (
        F.col("n_customers").cast("double")
        * (F.col("spend").cast("double") / F.col("total_spend").cast("double"))
    )
    term_nanos = F.round(r * F.log(r) * F.lit(1e9), 0).cast("long")
    agg = (
        per_cust.crossJoin(F.broadcast(tot))
        .filter(F.col("spend") > 0)
        .agg(
            F.max("n_customers").cast("long").alias("n_customers"),
            F.max("total_spend").alias("ts"),
            F.coalesce(F.sum(term_nanos), F.lit(0)).cast("long").alias("nanos"),
        )
    )
    theil = (
        F.col("nanos").cast("double")
        / F.lit(1e9)
        / F.col("n_customers").cast("double")
    )
    return agg.filter(F.col("n_customers") > 0).select(
        "n_customers",
        F.round(F.col("ts"), 2).cast("double").alias("total_spend"),
        (F.round(theil, 6) + F.lit(0.0)).alias("theil_t"),
    )


def spr1_spearman_rank_corr(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Tie-corrected Spearman rank correlation between a customer's
    account balance and their orders' prices — "do rich-balance
    customers place big orders?" as one monotone-association number
    (Spearman 1904), robust to the heavy price tails Pearson chases.
    The eval family's missing rank-space primitive (rbo1 compares two
    RANKINGS; this correlates two VALUE columns via ranks).

    Scale shape: two rank2x passes (distinct-value grain), a join of
    those ≤|distinct|-row rank tables back onto the pair stream (AQE
    broadcasts when the value grid is small, sort-merges otherwise —
    no hint, since a continuous column's distinct count can approach
    n), ONE combining agg of five integer sums. No pairwise work, no
    window over the stream.

    Cross-engine exactness: with doubled average ranks every
    sufficient statistic (Σu, Σv, Σuv, Σu², Σv², n) is an exact
    DECIMAL(38,0); rho = Pearson on ranks is one double expression of
    those exact sums, rounded to 6 dp (the doubling cancels). NULL on
    zero rank variance (a constant column has no rank order)."""
    pairs = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .filter(F.col("o_totalprice").isNotNull() & F.col("c_acctbal").isNotNull())
        .select(
            F.col("o_totalprice").alias("x"), F.col("c_acctbal").alias("y")
        )
    )
    rx = rank2x(pairs, "x").select("x", F.col("r2").alias("u"))
    ry = rank2x(pairs, "y").select("y", F.col("r2").alias("v"))
    ranked = pairs.join(rx, "x").join(ry, "y")
    d38 = "decimal(38,0)"
    u, v = F.col("u").cast(d38), F.col("v").cast(d38)
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(u).cast(d38).alias("su"),
        F.sum(v).cast(d38).alias("sv"),
        F.sum(u * v).cast(d38).alias("suv"),
        F.sum(u * u).cast(d38).alias("suu"),
        F.sum(v * v).cast(d38).alias("svv"),
    )
    n = F.col("n").cast(d38)
    cov = (n * F.col("suv") - F.col("su") * F.col("sv")).cast("double")
    varu = (n * F.col("suu") - F.col("su") * F.col("su")).cast("double")
    varv = (n * F.col("svv") - F.col("sv") * F.col("sv")).cast("double")
    rho = F.when(
        (varu > 0) & (varv > 0),
        F.round(cov / F.sqrt(varu * varv), 6) + F.lit(0.0),
    )
    return agg.filter(F.col("n") > 0).select(
        F.col("n").alias("n_pairs"), rho.alias("spearman_rho")
    )


def ptt1_pettitt_change_point(events: DataFrame) -> DataFrame:
    """Pettitt's nonparametric change-point test (Pettitt 1979) on the
    zero-filled daily event volume: U_t = 2·W_t − t·(n+1) where W_t is
    the rank sum of the first t days (average ranks for ties), and the
    change point is the day maximizing |U_t| — the RANK-based
    complement to cpd1's mean-shift split (immune to the outlier days
    that drag a mean), with the standard approximate significance
    p ≈ 2·exp(−6K²/(n³+n²)).

    Scale shape: everything after the one day-grained combining agg
    runs on the calendar-bounded spine — a rank2x pass over ≤|days|
    counts, one running pass for W_t and the day index t, and a
    TakeOrdered(1) for the
    argmax. Never a day² join (unlike tsen1's pair median, Pettitt is
    linear in days by the rank-sum identity).

    Cross-engine exactness: doubled ranks make W2_t and U2_t = 2·U_t
    exact longs; K and the argmax day are integer comparisons (|U2|
    DESC, day ASC tiebreak — first maximizer both engines); only the
    p-value is a double expression of exact integers, rounded 6 dp."""
    daily, spine = _daily_spine(events)
    filled = (
        spine.join(daily, "day", "left")
        .select("day", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"))
    )
    r = rank2x(filled, "c")  # 2·avg-rank per distinct count value
    ranked = filled.join(F.broadcast(r), "c").select("day", "r2")
    t_idx, totals = running(
        ranked, ["day"], {"w2": ("sum", "r2"), "t": ("count", None)}
    )
    n_days = totals["t"]
    if n_days < 2:
        return events.sparkSession.createDataFrame(
            [], "n_days long, change_day date, k_stat long, p_approx double"
        )
    u2 = (F.col("w2") - F.col("t").cast("long") * F.lit(n_days + 1)).cast("long")
    candidates = t_idx.filter(F.col("t") < n_days).select(
        "day", u2.alias("u2"), F.abs(u2).alias("abs_u2")
    )
    top = candidates.orderBy(F.col("abs_u2").desc(), F.col("day").asc()).limit(1)
    # w2 = 2·W_t makes u2 = w2 − t·(n+1) EQUAL U_t = 2·W_t − t·(n+1)
    # directly (the doubling is already inside the identity), so K is
    # |u2| with no rescale
    k = F.col("abs_u2").cast("long")
    nd = float(n_days)
    p = F.round(
        F.lit(2.0)
        * F.exp(
            F.lit(-6.0) * (k.cast("double") * k.cast("double"))
            / F.lit(nd * nd * nd + nd * nd)
        ),
        6,
    ) + F.lit(0.0)
    return top.select(
        F.lit(n_days).cast("long").alias("n_days"),
        F.col("day").alias("change_day"),
        k.alias("k_stat"),
        F.least(p, F.lit(1.0)).alias("p_approx"),
    )


def anova1_priority_anova(orders: DataFrame) -> DataFrame:
    """One-way ANOVA F-test of order value across order priorities —
    the parametric complement of kw1's rank test (Fisher 1925): does
    the MEAN order value differ by priority, measured as the ratio of
    between-group to within-group variance? A pipeline runs this to
    decide whether a categorical facet is worth stratifying on before
    sampling (ney1 allocates BY variance; anova1 asks whether the
    strata differ at all).

    Scale shape: ONE priority-keyed combining agg collapses the corpus
    to ≤|priorities| sufficient-statistic rows (n_j, Σx, Σx² — all
    map-side partial); the global row is a re-combine of that bounded
    table; every downstream expression runs at the ≤|priorities| grain.
    No window, no second corpus pass.

    Cross-engine exactness: sums ride exact integer cents in
    DECIMAL(38,0); the per-group between-variance term (n_j/n)·(m_j−m)²
    is ONE fixed double expression of those exact stats, rounded to
    MICRO-units and summed as LONGS (order-free — the theil1 nano
    discipline, sized for dollar² magnitudes); SST/n is a single
    1-row double expression. F and eta² are rounded to 6 dp; NULL when
    the within-variance hits zero (identical group means)."""
    d38 = "decimal(38,0)"
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    base = orders.filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderpriority").isNotNull()
    ).select(F.col("o_orderpriority").alias("grp"), cents.alias("x"))
    # the ONE corpus pass — checkpointed (≤|priorities| rows) so the
    # three consumers (glob, summed, joined) never re-scan the corpus
    per = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("nj"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("sj"),
        F.sum((F.col("x").cast(d38)) * (F.col("x").cast(d38))).cast(d38).alias("ssj"),
    ).localCheckpoint(eager=True)
    glob = per.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sj").cast(d38).alias("s"),
        F.sum("ssj").cast(d38).alias("ssq"),
    )
    # dollars keep every double under ~1e12 so micro-unit longs never
    # approach 2^63 (fuzz cents <= 2e7; sf tables <= 6e7)
    nd, njd = F.col("n").cast("double"), F.col("nj").cast("double")
    m = F.col("s").cast("double") / (nd * F.lit(100.0))
    mj = F.col("sj").cast("double") / (njd * F.lit(100.0))
    term = (njd / nd) * (mj - m) * (mj - m)
    ssb_micro = F.round(term * F.lit(1e6), 0).cast("long")
    summed = (
        per.crossJoin(F.broadcast(glob))
        .agg(F.sum(ssb_micro).cast("long").alias("ssb_micro"))
    )
    joined = summed.crossJoin(F.broadcast(glob)).filter(
        (F.col("k") >= 2) & (F.col("n") > F.col("k"))
    )
    ssb_n = F.col("ssb_micro").cast("double") / F.lit(1e6)
    sst_n = F.col("ssq").cast("double") / (nd * F.lit(1e4)) - (
        F.col("s").cast("double") / (nd * F.lit(100.0))
    ) * (F.col("s").cast("double") / (nd * F.lit(100.0)))
    ssw_n = sst_n - ssb_n
    kd = F.col("k").cast("double")
    f_stat = F.when(
        ssw_n > 0,
        F.round(((nd - kd) / (kd - F.lit(1.0))) * ssb_n / ssw_n, 6) + F.lit(0.0),
    )
    eta = F.when(sst_n > 0, F.round(ssb_n / sst_n, 6) + F.lit(0.0))
    return joined.select(
        F.col("n").alias("n_orders"),
        F.col("k").alias("k_groups"),
        f_stat.alias("f_stat"),
        eta.alias("eta_sq"),
    )


def kw1_kruskal_wallis(documents: DataFrame) -> DataFrame:
    """Kruskal-Wallis H test of document length across sources
    (Kruskal & Wallis 1952) — the K-group generalization of the rank
    tests the repo already runs pairwise (spr1 correlates two value
    columns; kw1 asks whether K length DISTRIBUTIONS share a location),
    tie-corrected because length grids tie heavily. The rank-based
    complement of anova1: immune to the heavy document-length tails
    that drag a mean.

    Scale shape: spr1's discipline — one rank2x pass builds the 2x-rank
    table
    (≤|distinct lengths| rows), a join back onto the (source, length)
    stream, then ONE source-keyed agg of exact integer rank sums; the
    tie-correction term re-combines the bounded value-grain table. No
    window over the corpus, no pairwise work.

    Cross-engine exactness: doubled average ranks keep every rank an
    exact LONG; per-source rank sums ride DECIMAL(38,0); the per-group
    H term 3·R2_j²/(n_j·n·(n+1)) is one fixed double expression of
    exact stats, rounded to MICRO-units and summed as LONGS
    (order-free); Σ(t³−t) is exact DECIMAL. H and the tie-adjusted
    H/C round to 6 dp; NULL adjustment when every value ties (C=0)."""
    d38 = "decimal(38,0)"
    base = documents.filter(
        F.col("n_chars").isNotNull() & F.col("source").isNotNull()
    ).select("source", F.col("n_chars").cast("long").alias("x"))
    # the tie-correction re-reads the SAME checkpointed value-grain
    # table the rank pass pinned — the tie sum costs no second corpus agg
    r = rank2x(base, "x")
    ranked = base.join(r.select("x", "r2"), "x")
    per = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("nj"),
        F.sum(F.col("r2").cast(d38)).cast(d38).alias("r2j"),
    ).localCheckpoint(eager=True)
    ties = r.agg(
        F.sum(
            F.col("cnt").cast(d38) * F.col("cnt").cast(d38) * F.col("cnt").cast(d38)
            - F.col("cnt").cast(d38)
        )
        .cast(d38)
        .alias("tie3")
    )
    glob = per.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    nd, njd = F.col("n").cast("double"), F.col("nj").cast("double")
    r2d = F.col("r2j").cast("double")
    # H = 12/(n(n+1)) * sum_j R_j^2/n_j - 3(n+1) with R_j = R2_j/2
    #   = sum_j 3*R2_j^2/(n_j*n*(n+1)) - 3(n+1)
    term = F.lit(3.0) * r2d * r2d / (njd * nd * (nd + F.lit(1.0)))
    h_micro = F.round(term * F.lit(1e6), 0).cast("long")
    summed = (
        per.crossJoin(F.broadcast(glob))
        .agg(F.sum(h_micro).cast("long").alias("h_micro"))
    )
    joined = (
        summed.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(ties))
        .filter((F.col("k") >= 2) & (F.col("n") > F.col("k")))
    )
    h = F.col("h_micro").cast("double") / F.lit(1e6) - F.lit(3.0) * (
        nd + F.lit(1.0)
    )
    corr = F.lit(1.0) - F.col("tie3").cast("double") / (nd * nd * nd - nd)
    h_adj = F.when(corr > 0, F.round(h / corr, 6) + F.lit(0.0))
    return joined.select(
        F.col("n").alias("n_docs"),
        F.col("k").alias("k_sources"),
        (F.col("k") - F.lit(1)).cast("long").alias("df"),
        (F.round(h, 6) + F.lit(0.0)).alias("h_stat"),
        h_adj.alias("h_adj"),
    )


def ktau1_kendall_tau(orders: DataFrame) -> DataFrame:
    """Kendall tau-b concordance between the daily ORDER COUNT and the
    daily ORDER VALUE on the observed-day grain (Kendall 1938) — "do
    busier days also move more money?" as a pure sign statistic:
    spr1's Spearman weights the SIZE of rank gaps, tau counts only
    pair ORDERINGS, so one wild day cannot drag the association. The
    tie-corrected tau-b form, because integer daily counts tie often.

    Scale shape: ONE day-grained combining agg collapses the corpus to
    |days| (calendar-bounded) rows, pinned by a localCheckpoint; the
    pair stream is the tsen1-precedent bounded day-pair join (|days|²
    pairs of a calendar-bounded side — never corpus²); classification
    collapses in ONE five-counter integer reduction.

    Cross-engine exactness: x is an exact count, y exact summed cents;
    pair classes are integer sign tests; all five counters are exact
    LONGS; tau-b and the normal-approximation z are single rounded
    double expressions of those longs (day-grain products stay under
    2^53). NULL tau when either tie denominator hits zero."""
    daily = (
        orders.filter(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .groupBy(F.to_date(F.col("o_orderdate")).alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    n_row = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = daily.select(
        F.col("day").alias("day_a"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("day").alias("day_b"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    dx = F.signum((F.col("xb") - F.col("xa")).cast("double")).cast("long")
    dy = F.signum((F.col("yb") - F.col("ya")).cast("double")).cast("long")
    pairs = a.join(b, F.col("day_a") < F.col("day_b")).select(
        dx.alias("dx"), dy.alias("dy")
    )
    agg = pairs.agg(
        F.sum(((F.col("dx") * F.col("dy")) == 1).cast("long"))
        .cast("long")
        .alias("conc"),
        F.sum(((F.col("dx") * F.col("dy")) == -1).cast("long"))
        .cast("long")
        .alias("disc"),
        F.sum((F.col("dx") == 0).cast("long")).cast("long").alias("tx"),
        F.sum((F.col("dy") == 0).cast("long")).cast("long").alias("ty"),
    )
    joined = agg.crossJoin(F.broadcast(n_row)).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    n0 = nd * (nd - F.lit(1.0)) / F.lit(2.0)
    cd = (F.coalesce(F.col("conc"), F.lit(0)) - F.coalesce(F.col("disc"), F.lit(0))).cast(
        "double"
    )
    den_x = n0 - F.coalesce(F.col("tx"), F.lit(0)).cast("double")
    den_y = n0 - F.coalesce(F.col("ty"), F.lit(0)).cast("double")
    tau = F.when(
        (den_x > 0) & (den_y > 0),
        F.round(cd / F.sqrt(den_x * den_y), 6) + F.lit(0.0),
    )
    z = F.when(
        nd > 2,
        F.round(
            F.lit(3.0)
            * cd
            / F.sqrt(nd * (nd - F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(5.0)) / F.lit(2.0)),
            6,
        )
        + F.lit(0.0),
    )
    return joined.select(
        F.col("n").alias("n_days"),
        F.coalesce(F.col("conc"), F.lit(0)).cast("long").alias("concordant"),
        F.coalesce(F.col("disc"), F.lit(0)).cast("long").alias("discordant"),
        tau.alias("tau_b"),
        z.alias("z_approx"),
    )


def cusum1_cusum_drift(events: DataFrame) -> DataFrame:
    """Page's CUSUM drift detector (Page 1954) on the zero-filled daily
    event volume, via the running-extremum identity: with the drifted
    prefix R_t = Σ_{i≤t}(x_i − μ) (and R_0 = 0), the one-sided CUSUM
    recursions S⁺_t = max(0, S⁺_{t−1} + x_t − μ) and S⁻ collapse to
    S⁺_t = R_t − min_{0≤j≤t} R_j and S⁻_t = max_{0≤j≤t} R_j − R_t —
    so the SEQUENTIAL detector (ptt1/cpd1 locate one retrospective
    change; CUSUM is what a monitor runs per batch) becomes two
    prefix passes, no recursion and no day² work.

    Scale shape: one day-grained combining agg, then everything runs
    on the calendar-bounded spine — ONE running-sum pass (counts + day
    index together) and ONE running min/max pass; the two argmax probes
    are TakeOrdered(1).

    Cross-engine exactness: scaling by n clears μ = T/n into integers
    — R'_t = n·P_t − t·T is an exact LONG, running extrema of exact
    longs are exact, so BOTH peak days and raw peak magnitudes are
    integer comparisons (ties → earliest day, both engines); only the
    event-unit peaks (S/n) and the σ-normalized magnitudes are rounded
    double expressions of exact stats (σ from DECIMAL Σc²)."""
    daily, spine = _daily_spine(events)
    filled = spine.join(daily, "day", "left").select(
        "day",
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        F.lit(1).alias("one"),
    )
    pre, totals = running(filled, ["day"], {"p": ("sum", "c"), "t": ("count", None)})
    n, tot = totals["t"], totals["p"]
    if n < 2:
        return events.sparkSession.createDataFrame(
            [],
            "n_days long, total_events long, pos_day date, cusum_pos double, "
            "pos_sigma_units double, neg_day date, cusum_neg double, "
            "neg_sigma_units double",
        )
    r = pre.select(
        "day",
        (
            F.lit(n) * F.col("p") - F.col("t") * F.lit(tot)
        )
        .cast("long")
        .alias("r"),
    )
    ext, _ = running(r, ["day"], {"mn": ("min", "r"), "mx": ("max", "r")})
    s = ext.select(
        "day",
        (F.col("r") - F.least(F.col("mn"), F.lit(0))).cast("long").alias("sp"),
        (F.greatest(F.col("mx"), F.lit(0)) - F.col("r")).cast("long").alias("sn"),
    ).localCheckpoint(eager=True)
    top_p = (
        s.orderBy(F.col("sp").desc(), F.col("day").asc())
        .limit(1)
        .select(F.col("day").alias("pos_day"), F.col("sp").alias("sp"))
    )
    top_n = (
        s.orderBy(F.col("sn").desc(), F.col("day").asc())
        .limit(1)
        .select(F.col("day").alias("neg_day"), F.col("sn").alias("sn"))
    )
    d38 = "decimal(38,0)"
    sig = filled.agg(
        F.sum((F.col("c").cast(d38)) * (F.col("c").cast(d38)))
        .cast(d38)
        .alias("ssq")
    )
    nd = float(n)
    mu = float(tot) / nd
    var = F.col("ssq").cast("double") / F.lit(nd) - F.lit(mu * mu)
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    cp = F.col("sp").cast("double") / F.lit(nd)
    cn = F.col("sn").cast("double") / F.lit(nd)
    return (
        top_p.crossJoin(top_n)
        .crossJoin(F.broadcast(sig))
        .select(
            F.lit(n).cast("long").alias("n_days"),
            F.lit(tot).cast("long").alias("total_events"),
            "pos_day",
            (F.round(cp, 6) + F.lit(0.0)).alias("cusum_pos"),
            F.when(sigma > 0, F.round(cp / sigma, 6) + F.lit(0.0)).alias(
                "pos_sigma_units"
            ),
            "neg_day",
            (F.round(cn, 6) + F.lit(0.0)).alias("cusum_neg"),
            F.when(sigma > 0, F.round(cn / sigma, 6) + F.lit(0.0)).alias(
                "neg_sigma_units"
            ),
        )
    )


def zord1_zorder_layout(lineitem: DataFrame, n_files: int = 64) -> DataFrame:
    """Z-order data-layout quality audit — OPTIMIZE ... ZORDER BY's
    effectiveness measured instead of asserted (Morton 1966 curves;
    the Delta Lake / Databricks layout practice): quantile-bin
    l_quantity and l_extendedprice to 4 bits each via ANSI NTILE,
    interleave the bits into a Morton key, split the table into
    `n_files` equal files under three candidate clusterings (z-order,
    sort-by-quantity, sort-by-price), and report each file's AVERAGE
    NORMALIZED min/max span per column — exactly the statistic a
    format's file-skipping consults, so `avg_span` IS the expected
    fraction of files a uniform point predicate fails to prune.
    Single-column sorts win their own column and forfeit the other;
    the z-order rows quantify the two-column compromise. The layouts
    are built in-plan here; no writer in the package clusters files by
    z-order.

    Scale shape: ordered.ntile passes only (range repartition +
    per-partition windows + bounded driver offsets — never a
    single-task global sort); per-file min/max is one ≤n_files-row
    combining agg per layout; span averages run at the n_files grain.

    Cross-engine exactness: NTILE is pure integer arithmetic on the
    distributed rank (bit-identical to the ANSI window by the
    grouped_ntile_expr contract); the Morton key is 8 integer
    bit-terms; spans ride micro-unit LONG sums; only the final
    averages are rounded doubles."""
    base = lineitem.filter(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    ).select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lno"),
    )
    b1 = ntile(base, ["x", "okey", "lno"], 16, "bx")
    b2 = ntile(b1, ["y", "okey", "lno"], 16, "by")
    bxm, bym = F.col("bx") - F.lit(1), F.col("by") - F.lit(1)
    z = F.lit(0)
    for i in range(4):
        z = z + F.shiftleft(
            F.shiftright(bxm, i).bitwiseAND(F.lit(1)), 2 * i
        ) + F.shiftleft(F.shiftright(bym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    zt = b2.withColumn("z", z.cast("long")).localCheckpoint(eager=True)
    g = zt.agg(
        F.min("x").alias("gx0"),
        F.max("x").alias("gx1"),
        F.min("y").alias("gy0"),
        F.max("y").alias("gy1"),
    )

    def _layout(name: str, order_cols: list) -> DataFrame:
        f = ntile(zt, order_cols, n_files, "fid")
        per = f.groupBy("fid").agg(
            F.min("x").alias("mnx"),
            F.max("x").alias("mxx"),
            F.min("y").alias("mny"),
            F.max("y").alias("mxy"),
        )
        span_x = F.when(
            F.col("gx1") > F.col("gx0"),
            F.round(
                (F.col("mxx") - F.col("mnx")).cast("double")
                / (F.col("gx1") - F.col("gx0")).cast("double")
                * F.lit(1e6),
                0,
            ).cast("long"),
        ).otherwise(F.lit(0))
        span_y = F.when(
            F.col("gy1") > F.col("gy0"),
            F.round(
                (F.col("mxy") - F.col("mny")).cast("double")
                / (F.col("gy1") - F.col("gy0")).cast("double")
                * F.lit(1e6),
                0,
            ).cast("long"),
        ).otherwise(F.lit(0))
        agg = per.crossJoin(F.broadcast(g)).agg(
            F.count(F.lit(1)).cast("long").alias("nf"),
            F.sum(span_x).cast("long").alias("sx"),
            F.sum(span_y).cast("long").alias("sy"),
        )
        return agg.select(
            F.lit(name).alias("layout"),
            F.col("nf").alias("n_files"),
            (
                F.round(
                    F.col("sx").cast("double")
                    / F.col("nf").cast("double")
                    / F.lit(1e6),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_span_qty"),
            (
                F.round(
                    F.col("sy").cast("double")
                    / F.col("nf").cast("double")
                    / F.lit(1e6),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_span_price"),
        )

    out = (
        _layout("by_price", ["y", "x", "okey", "lno"])
        .unionByName(_layout("by_qty", ["x", "y", "okey", "lno"]))
        .unionByName(_layout("zorder", ["z", "x", "y", "okey", "lno"]))
    )
    return out.orderBy("layout")


def dw1_durbin_watson(events: DataFrame) -> DataFrame:
    """Durbin-Watson first-order autocorrelation statistic
    (Durbin & Watson 1950) of the zero-filled daily event volume's
    mean residuals — the one-number lag-1 readout next to acf1's full
    curve: DW = Σ(e_t − e_{t−1})² / Σe_t² ≈ 2(1−ρ₁), so DW≈2 is
    independence, →0 positive trend/stickiness, →4 oscillation. The
    monitoring stack's cheapest "is today like yesterday" alarm.

    Scale shape: acf1's discipline — one day-grained combining agg,
    then the lag-1 pairing is a date_sub EQUI join over the
    calendar-bounded spine (broadcast, never a nested-loop range
    join); both sums run at the |days| grain.

    Cross-engine exactness: the mean CANCELS in the numerator —
    e_t − e_{t−1} = c_t − c_{t−1} — so every squared difference is an
    exact LONG and the numerator an exact DECIMAL(38,0); the
    denominator Σe² = Σc² − n·μ² is one double expression of exact
    stats. DW and ρ₁ = 1 − DW/2 round to 6 dp; zero-variance series
    (den 0) yield no row."""
    daily, spine = _daily_spine(events)
    filled = (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
            "n_days",
            "tot",
        )
        .localCheckpoint(eager=True)
    )
    d38 = "decimal(38,0)"
    stats = filled.agg(
        F.max("n_days").cast("long").alias("n"),
        F.max("tot").cast("long").alias("t"),
        F.sum((F.col("c").cast(d38)) * (F.col("c").cast(d38)))
        .cast(d38)
        .alias("ssq"),
    )
    a = filled.select(F.col("day").alias("day_a"), F.col("c").alias("c_a"))
    b = filled.select(
        F.col("c").alias("c_b"), F.date_sub(F.col("day"), 1).alias("day_a")
    )
    diffs = a.join(F.broadcast(b), "day_a").select(
        ((F.col("c_b") - F.col("c_a")) * (F.col("c_b") - F.col("c_a")))
        .cast(d38)
        .alias("d2")
    )
    num = diffs.agg(F.sum("d2").cast(d38).alias("num"))
    joined = num.crossJoin(F.broadcast(stats)).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    mu = F.col("t").cast("double") / nd
    den = F.col("ssq").cast("double") - nd * mu * mu
    dw = F.col("num").cast("double") / den
    return joined.filter(den > 0).select(
        F.col("n").alias("n_days"),
        (F.round(dw, 6) + F.lit(0.0)).alias("dw_stat"),
        (F.round(F.lit(1.0) - dw / F.lit(2.0), 6) + F.lit(0.0)).alias(
            "rho1_approx"
        ),
    )


def runs1_runs_test(events: DataFrame) -> DataFrame:
    """Wald-Wolfowitz runs test (Wald & Wolfowitz 1940) for randomness
    of the daily event volume about its MEDIAN: days at the exact
    median are dropped (the standard treatment), the rest become an
    above/below sign sequence, and the run count R is compared with
    its null mean 2·n₁·n₂/(n₁+n₂) + 1 — too FEW runs is trend or
    regime-stickiness (each regime is one long run), too MANY is
    oscillation. The distribution-free cousin of dw1: no variance, no
    residuals, just signs — the pair covers both alarm styles.

    Scale shape: one day-grained combining agg, a value-grain prefix
    pass for the exact nearest-rank median (pctl2 discipline), then a
    distributed rank over the ≤|days| surviving sign sequence and a
    rank+1 EQUI self-join counts sign changes. Everything after the
    first agg runs at the calendar-bounded grain.

    Cross-engine exactness: the median is an integer count picked by
    integer cumulative-rank comparison; n₁, n₂ and R are exact LONGS;
    only the closed-form z is a rounded double expression of those
    integers (NULL when σ_R = 0, i.e. either side is empty)."""
    daily, spine = _daily_spine(events)
    filled = (
        spine.join(daily, "day", "left")
        .select("day", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    cgrid, n_all = value_counts(filled, "c")
    if n_all < 2:
        return events.sparkSession.createDataFrame(
            [],
            "n_days_used long, n_above long, n_below long, n_runs long, "
            "z_approx double",
        )
    target = (n_all + 1) // 2  # nearest-rank lower median position
    med_row = (
        cgrid.filter(F.col("cum") >= F.lit(target))
        .orderBy(F.col("c").asc())
        .limit(1)
        .select(F.col("c").alias("med"))
    )
    signed = (
        filled.crossJoin(F.broadcast(med_row))
        .filter(F.col("c") != F.col("med"))
        .select("day", (F.col("c") > F.col("med")).cast("int").alias("s"))
    )
    ranked, totals = running(signed, ["day"], {"rn": ("count", None)})
    n_used = totals["rn"]
    if n_used == 0:
        return events.sparkSession.createDataFrame(
            [],
            "n_days_used long, n_above long, n_below long, n_runs long, "
            "z_approx double",
        )
    a = ranked.select(F.col("rn").alias("rn_a"), F.col("s").alias("s_a"))
    b = ranked.select((F.col("rn") - 1).alias("rn_a"), F.col("s").alias("s_b"))
    changes = (
        a.join(b, "rn_a")
        .agg(
            F.sum((F.col("s_a") != F.col("s_b")).cast("long"))
            .cast("long")
            .alias("chg")
        )
    )
    counts = ranked.agg(
        F.sum("s").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).cast("long").alias("n2"),
    )
    joined = changes.crossJoin(F.broadcast(counts))
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    nd = n1d + n2d
    runs = (F.coalesce(F.col("chg"), F.lit(0)) + F.lit(1)).cast("long")
    mu_r = F.lit(2.0) * n1d * n2d / nd + F.lit(1.0)
    var_r = (
        F.lit(2.0)
        * n1d
        * n2d
        * (F.lit(2.0) * n1d * n2d - n1d - n2d)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    # the n1>0 & n2>0 pre-guard keeps var_r's expression off the 0/0
    # path entirely (Spark NaN vs DuckDB NULL is a known divergence
    # class — never let either engine evaluate it)
    z = F.when(
        (F.col("n1") > 0) & (F.col("n2") > 0) & (var_r > 0),
        F.round((runs.cast("double") - mu_r) / F.sqrt(var_r), 6) + F.lit(0.0),
    )
    return joined.select(
        (F.col("n1") + F.col("n2")).cast("long").alias("n_days_used"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        runs.alias("n_runs"),
        z.alias("z_approx"),
    )


def mk1_mann_kendall(events: DataFrame) -> DataFrame:
    """Mann-Kendall trend test (Mann 1945; Kendall 1975) on the
    zero-filled daily event volume — the SIGNIFICANCE-grade companion
    to tsen1's Theil-Sen slope (the pairing hydrology standardized):
    S = Σ_{i<j} sign(c_j − c_i) over day pairs, tie-corrected variance,
    and the ±1 continuity-corrected z. tsen1 answers "how steep",
    mk1 answers "is there a monotone trend at all" without assuming
    any distribution for the daily counts.

    Scale shape: one day-grained combining agg, the tsen1-precedent
    bounded day-pair join (|days|², calendar-bounded), ONE integer
    reduction for S; the tie term re-combines the ≤|distinct| value
    grid. No corpus-scale work after the first agg.

    Cross-engine exactness: S and the tie sum Σt(t−1)(2t+5) are exact
    LONG/DECIMAL; Var(S) = (n(n−1)(2n+5) − ties)/18 and the
    continuity-corrected z are single rounded double expressions;
    z = 0 exactly when S = 0 (its own branch, no 0/σ division
    asymmetry); NULL z when Var(S) ≤ 0 (all days tied)."""
    daily, spine = _daily_spine(events)
    filled = (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
            "n_days",
        )
        .localCheckpoint(eager=True)
    )
    d38 = "decimal(38,0)"
    n_row = filled.agg(F.max("n_days").cast("long").alias("n"))
    a = filled.select(F.col("day").alias("day_a"), F.col("c").alias("c_a"))
    b = filled.select(F.col("day").alias("day_b"), F.col("c").alias("c_b"))
    s_agg = (
        a.join(b, F.col("day_a") < F.col("day_b"))
        .agg(
            F.sum(
                F.signum((F.col("c_b") - F.col("c_a")).cast("double")).cast("long")
            )
            .cast("long")
            .alias("s")
        )
    )
    ties = (
        filled.groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(
                F.col("t").cast(d38)
                * (F.col("t").cast(d38) - F.lit(1).cast(d38))
                * (F.lit(2).cast(d38) * F.col("t").cast(d38) + F.lit(5).cast(d38))
            )
            .cast(d38)
            .alias("tie_term")
        )
    )
    j = (
        s_agg.crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(ties))
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    var_s = (
        nd * (nd - F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(5.0))
        - F.col("tie_term").cast("double")
    ) / F.lit(18.0)
    s = F.coalesce(F.col("s"), F.lit(0)).cast("long")
    sd = s.cast("double")
    z = F.when(s == 0, F.lit(0.0)).when(
        var_s > 0,
        F.round(
            (sd - F.signum(sd)) / F.sqrt(var_s),
            6,
        )
        + F.lit(0.0),
    )
    direction = F.when(s > 0, F.lit("increasing")).when(
        s < 0, F.lit("decreasing")
    ).otherwise(F.lit("none"))
    return j.select(
        F.col("n").alias("n_days"),
        s.alias("s_stat"),
        z.alias("z_mk"),
        direction.alias("direction"),
    )


def lev1_brown_forsythe(documents: DataFrame) -> DataFrame:
    """Brown-Forsythe test (Brown & Forsythe 1974 — Levene's test on
    MEDIAN deviations, the robust form) for homogeneity of document-
    length VARIANCE across sources: anova1/kw1/welch1 compare
    locations; lev1 asks whether sources differ in SPREAD — the
    assumption check behind pooling, and a drift signal of its own (a
    source whose variance explodes changed its composition even if
    the mean held).

    Scale shape: one (source, length)-grain combining agg; per-source
    exact nearest-rank medians come from a window over THAT bounded
    grid (value-grain, never the corpus); the deviation stream is the
    corpus stream joined to the ≤grid medians, collapsed by ONE
    source-keyed sufficient-stats agg; the F expression reuses
    anova1's micro-unit term discipline.

    Cross-engine exactness: medians are integer counts picked by
    integer cumulative-rank comparison; |x − med| is an exact LONG;
    the ANOVA-on-deviations sums ride DECIMAL(38,0) with micro-unit
    LONG between-group terms; F is one rounded double expression."""
    d38 = "decimal(38,0)"
    base = documents.filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    ).select("source", F.col("n_chars").cast("long").alias("x"))
    gv = (
        base.groupBy("source", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    wsum = Window.partitionBy("source").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wtot = Window.partitionBy("source")
    cum = gv.withColumn("cum", F.sum("cnt").over(wsum).cast("long")).withColumn(
        "ntot", F.sum("cnt").over(wtot).cast("long")
    )
    med = (
        cum.filter(F.col("cum") * F.lit(2) >= F.col("ntot") + F.lit(1))
        .groupBy("source")
        .agg(F.min("x").cast("long").alias("med"))
    )
    devs = base.join(med, "source").select(
        "source", F.abs(F.col("x") - F.col("med")).cast("long").alias("z")
    )
    per = (
        devs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nj"),
            F.sum(F.col("z").cast(d38)).cast(d38).alias("sj"),
            F.sum((F.col("z").cast(d38)) * (F.col("z").cast(d38)))
            .cast(d38)
            .alias("ssj"),
        )
        .localCheckpoint(eager=True)
    )
    glob = per.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sj").cast(d38).alias("s"),
        F.sum("ssj").cast(d38).alias("ssq"),
    )
    nd, njd = F.col("n").cast("double"), F.col("nj").cast("double")
    m = F.col("s").cast("double") / nd
    mj = F.col("sj").cast("double") / njd
    term = (njd / nd) * (mj - m) * (mj - m)
    ssb_micro = F.round(term * F.lit(1e6), 0).cast("long")
    summed = per.crossJoin(F.broadcast(glob)).agg(
        F.sum(ssb_micro).cast("long").alias("ssb_micro")
    )
    joined = summed.crossJoin(F.broadcast(glob)).filter(
        (F.col("k") >= 2) & (F.col("n") > F.col("k"))
    )
    ssb_n = F.col("ssb_micro").cast("double") / F.lit(1e6)
    sst_n = F.col("ssq").cast("double") / nd - m * m
    ssw_n = sst_n - ssb_n
    kd = F.col("k").cast("double")
    f_bf = F.when(
        ssw_n > 0,
        F.round(((nd - kd) / (kd - F.lit(1.0))) * ssb_n / ssw_n, 6) + F.lit(0.0),
    )
    return joined.select(
        F.col("n").alias("n_docs"),
        F.col("k").alias("k_sources"),
        f_bf.alias("f_bf"),
    )


def evt1_gumbel_return_levels(events: DataFrame) -> DataFrame:
    """Extreme-value capacity planning: fit a Gumbel distribution to
    the WEEKLY MAXIMA of daily event volume by the method of moments
    (Gumbel 1958; the block-maxima EVT route) and report 26- and
    52-week return levels — "the daily peak you should provision for"
    read off x_T = μ̂ − β̂·ln(−ln(1 − 1/T)), with β̂ = s·√6/π and
    μ̂ = m̄ − γβ̂ (γ the Euler-Mascheroni constant). The time-series
    family's tail story: acf1/dow1/stl1 model the TYPICAL day, evt1
    bounds the worst one.

    Scale shape: one day-grained combining agg, a week-keyed max over
    the calendar-bounded spine (ISO Monday weeks both engines), one
    sufficient-stats reduction over ≤|weeks| rows.

    Cross-engine exactness: weekly maxima are exact longs; Σm and Σm²
    ride DECIMAL(38,0); mean, sample variance, β̂, μ̂ and both return
    levels are ONE fixed double tree over those exact stats and shared
    literals (γ spelled to 16 digits, π from each engine's pi — the
    same IEEE double), rounded to 6 dp. NULL levels when the maxima
    have zero variance."""
    daily, spine = _daily_spine(events)
    filled = spine.join(daily, "day", "left").select(
        "day", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    weekly = (
        filled.groupBy(
            F.date_trunc("week", F.col("day")).cast("date").alias("week")
        )
        .agg(F.max("c").cast("long").alias("m"))
    )
    d38 = "decimal(38,0)"
    stats = weekly.agg(
        F.count(F.lit(1)).cast("long").alias("nw"),
        F.sum(F.col("m").cast(d38)).cast(d38).alias("sm"),
        F.sum((F.col("m").cast(d38)) * (F.col("m").cast(d38)))
        .cast(d38)
        .alias("smm"),
    ).filter(F.col("nw") >= 2)
    import math

    gamma = 0.5772156649015329
    nwd = F.col("nw").cast("double")
    mean = F.col("sm").cast("double") / nwd
    var = (F.col("smm").cast("double") - nwd * mean * mean) / (nwd - F.lit(1.0))
    beta = F.sqrt(var) * F.lit(math.sqrt(6.0)) / F.lit(math.pi)
    mu = mean - F.lit(gamma) * beta

    def level(t: float):
        return mu - beta * F.lit(math.log(-math.log(1.0 - 1.0 / t)))

    ok = var > 0
    return stats.select(
        F.col("nw").alias("n_weeks"),
        (F.round(mean, 6) + F.lit(0.0)).alias("mean_weekly_max"),
        F.when(ok, F.round(mu, 6) + F.lit(0.0)).alias("gumbel_mu"),
        F.when(ok, F.round(beta, 6) + F.lit(0.0)).alias("gumbel_beta"),
        F.when(ok, F.round(level(26.0), 6) + F.lit(0.0)).alias("ret_26w"),
        F.when(ok, F.round(level(52.0), 6) + F.lit(0.0)).alias("ret_52w"),
    )


def prop1_weekend_conversion(events: DataFrame) -> DataFrame:
    """Two-proportion z-test of purchase conversion, weekend vs
    weekday (the A/B-reading primitive: pooled-variance z per standard
    practice), with WILSON 95% intervals per segment (Wilson 1927 —
    the interval that behaves at small n and extreme rates, which is
    why every experimentation platform uses it over the Wald
    interval). One row: both segments' rates + intervals + the z.

    Scale shape: ONE two-cell combining agg (weekend flag × purchase
    flag collapse map-side); every expression below runs on the 1-row
    pivot.

    Cross-engine exactness: the weekend predicate is ISO-day
    arithmetic spelled natively per engine but semantically identical
    (Sat/Sun); all four counters exact longs; rates, Wilson bounds
    (z = 1.96 shared literal) and the pooled z are single rounded
    double expressions. NULL z when either segment is empty or the
    pooled rate is degenerate (0 or 1)."""
    base = events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    # Spark dayofweek: 1=Sun..7=Sat -> weekend is {1, 7}
    we = F.dayofweek(F.col("ts")).isin([1, 7])
    agg = base.agg(
        F.sum(we.cast("long")).cast("long").alias("n_we"),
        F.sum((we & (F.col("event_type") == "purchase")).cast("long"))
        .cast("long")
        .alias("x_we"),
        F.sum((~we).cast("long")).cast("long").alias("n_wd"),
        F.sum(((~we) & (F.col("event_type") == "purchase")).cast("long"))
        .cast("long")
        .alias("x_wd"),
    )

    zc = 1.96

    def wilson(x, n):
        p = x.cast("double") / n.cast("double")
        nd = n.cast("double")
        z2 = F.lit(zc * zc)
        center = p + z2 / (F.lit(2.0) * nd)
        margin = F.lit(zc) * F.sqrt(
            p * (F.lit(1.0) - p) / nd + z2 / (F.lit(4.0) * nd * nd)
        )
        denom = F.lit(1.0) + z2 / nd
        return (
            F.round((center - margin) / denom, 6) + F.lit(0.0),
            F.round((center + margin) / denom, 6) + F.lit(0.0),
        )

    n_we, x_we = F.col("n_we"), F.col("x_we")
    n_wd, x_wd = F.col("n_wd"), F.col("x_wd")
    ok = (n_we > 0) & (n_wd > 0)
    p_we = x_we.cast("double") / n_we.cast("double")
    p_wd = x_wd.cast("double") / n_wd.cast("double")
    pool = (x_we + x_wd).cast("double") / (n_we + n_wd).cast("double")
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / n_we.cast("double")
            + F.lit(1.0) / n_wd.cast("double")
        )
    )
    z = F.when(
        ok & (pool > 0) & (pool < 1),
        F.round((p_we - p_wd) / se, 6) + F.lit(0.0),
    )
    lo_we, hi_we = wilson(x_we, n_we)
    lo_wd, hi_wd = wilson(x_wd, n_wd)
    return agg.filter(ok).select(
        n_we.alias("n_weekend"),
        x_we.alias("conv_weekend"),
        (F.round(p_we, 6) + F.lit(0.0)).alias("rate_weekend"),
        lo_we.alias("wilson_lo_weekend"),
        hi_we.alias("wilson_hi_weekend"),
        n_wd.alias("n_weekday"),
        x_wd.alias("conv_weekday"),
        (F.round(p_wd, 6) + F.lit(0.0)).alias("rate_weekday"),
        lo_wd.alias("wilson_lo_weekday"),
        hi_wd.alias("wilson_hi_weekday"),
        z.alias("z_two_prop"),
    )


def hub1_huber_robust_mean(orders: DataFrame, iters: int = 3) -> DataFrame:
    """Huber M-estimate of the mean order value (Huber 1964) by
    exactly `iters` IRLS steps from the exact median, with the tuning
    constant c = 1.345·σ̂ (95% Gaussian efficiency) and σ̂ = 1.4826·MAD
    — THE robust location estimate: win1 trims at fixed percentiles,
    the Huber mean instead downweights smoothly, so a 1%-outlier burst
    moves it by O(c) rather than O(outlier). Reported per step so the
    convergence is visible.

    Scale shape: mad1's two value-grain prefix passes pin the exact
    median/MAD as literals; each IRLS step is ONE corpus
    sufficient-stats agg whose weighted sums ride micro/nano-unit
    LONG terms in DECIMAL(38,0) (order-free) — the classic
    sufficient-statistics trick makes a 3-step M-estimator cost 3
    map-side-combining passes, no sort, no driver data beyond the
    per-step scalars (the prefix-totals-as-literals precedent).

    Cross-engine exactness: median and MAD are exact integer cents;
    every weight is a branch-safe expression (|dev| ≤ c → 1 else
    c/|dev| — the else branch implies |dev| > 0, so a zero-MAD corpus
    never divides by zero on either engine); each step's μ is the
    SAME double expression of exact decimal sums whether collected
    (Spark, construction-time) or computed in-query (oracle CTEs)."""
    spark = orders.sparkSession
    v = orders.filter(F.col("o_totalprice").isNotNull()).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    cgrid, n = value_counts(v, "cents")
    empty = (
        "n_orders long, median double, sigma_robust double, c_huber double, "
        "mu0 double, mu1 double, mu2 double, mu3 double"
    )
    if n == 0:
        return spark.createDataFrame([], empty)
    rank = (50 * n + 99) // 100
    m0 = cgrid.agg(
        F.min(F.when(F.col("cum") >= F.lit(rank), F.col("cents")))
    ).collect()[0][0]
    # the MAD grid AND the IRLS passes below run at the distinct-cents
    # grain of the checkpointed prefix grid (value, cnt) — one corpus scan
    # total (the mad1 regroup trick): |cents − m0| is constant per
    # distinct value, so summing grid counts is exactly the raw regroup.
    g2 = (
        cgrid.select(F.abs(F.col("cents") - F.lit(int(m0))).alias("dev"), "cnt")
        .groupBy("dev")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    c2, _ = running(g2, ["dev"], {"cum": ("sum", "cnt")})
    mad = c2.agg(
        F.min(F.when(F.col("cum") >= F.lit(rank), F.col("dev")))
    ).collect()[0][0]
    sigma = 1.4826 * float(mad) / 100.0
    c_h = 1.345 * sigma
    d38 = "decimal(38,0)"
    mus = [float(m0) / 100.0]
    for _ in range(iters):
        mu = mus[-1]
        x = F.col("cents").cast("double") / F.lit(100.0)
        dev = x - F.lit(mu)
        w = F.when(F.abs(dev) <= F.lit(c_h), F.lit(1.0)).otherwise(
            F.lit(c_h) / F.abs(dev)
        )
        # per-row term ≡ per-distinct-value term × count (w and x are
        # functions of cents alone, and every row of one value rounds
        # to the SAME integer term), so the corpus agg collapses to a
        # grid agg: Σ_rows round(t) = Σ_values cnt · round(t). Exact.
        row = cgrid.agg(
            F.sum(
                F.col("cnt").cast(d38)
                * F.round(w * x * F.lit(1e6), 0).cast(d38)
            ).cast(d38).alias("swx"),
            F.sum(
                F.col("cnt").cast(d38) * F.round(w * F.lit(1e9), 0).cast(d38)
            ).cast(d38).alias("sw"),
        ).collect()[0]
        mus.append(
            (float(row["swx"]) / 1e6) / (float(row["sw"]) / 1e9)
        )
    # raw doubles into the frame, HALF_UP rounding in the ENGINE (the
    # oracle rounds in DuckDB; Python's round() is half-even and would
    # be a third rounding mode on the parity path)
    raw = spark.createDataFrame(
        [(n, float(m0) / 100.0, sigma, c_h, mus[0], mus[1], mus[2], mus[3])],
        "n_orders long, median double, sigma_robust double, c_huber double, "
        "mu0 double, mu1 double, mu2 double, mu3 double",
    )
    return raw.select(
        "n_orders",
        *[
            (F.round(F.col(c), 6) + F.lit(0.0)).alias(c)
            for c in [
                "median", "sigma_robust", "c_huber",
                "mu0", "mu1", "mu2", "mu3",
            ]
        ],
    )


def sprt1_conversion_sprt(
    events: DataFrame,
    p0: float = 0.02,
    p1: float = 0.04,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald's sequential probability ratio test (Wald 1945) on the
    daily purchase-conversion stream: cumulative log-likelihood ratio
    of H1: p = p1 vs H0: p = p0 over day-ordered Bernoulli batches,
    stopping at the FIRST day the path crosses ln((1−β)/α) (accept
    H1) or ln(β/(1−α)) (accept H0) — the sequential decision the
    fixed-horizon tests (prop1) cannot make: SPRT needs ~half the
    samples on average and reads out WHICH DAY the evidence sufficed.
    The experimentation-stack companion to cusum1 (CUSUM detects
    drift with no hypothesis pair; SPRT decides between two).

    Scale shape: one day-grained combining agg; the LLR path is ONE
    running-sum pass (per-day terms pre-rounded to NANO
    longs, so the cumulative path is exact integers); the crossing
    probe is a bounded filter + earliest-day TakeOrdered; thresholds
    ride as INTEGER nano literals — the crossing comparison is a pure
    long comparison on both engines.

    Cross-engine exactness: per-day terms are one double expression
    of exact counts and shared log literals, nano-rounded BEFORE the
    cumulative sum (no float accumulation anywhere); the decision and
    day are integer/date comparisons; only the final LLR readout is a
    rounded double."""
    import math

    l1 = math.log(p1 / p0)
    l2 = math.log((1.0 - p1) / (1.0 - p0))
    a_nano = round(math.log((1.0 - beta) / alpha) * 1e9)
    b_nano = round(math.log(beta / (1.0 - alpha)) * 1e9)
    spark = events.sparkSession
    daily = (
        events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(F.to_date(F.col("ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("long"))
            .cast("long")
            .alias("x"),
        )
    )
    term = F.round(
        (
            F.col("x").cast("double") * F.lit(l1)
            + (F.col("n") - F.col("x")).cast("double") * F.lit(l2)
        )
        * F.lit(1e9),
        0,
    ).cast("long")
    t = daily.select("day", "n", "x", term.alias("t_nano"))
    pre, totals = running(
        t,
        ["day"],
        {"llr_nano": ("sum", "t_nano"), "cum_n": ("sum", "n"), "cum_x": ("sum", "x")},
    )
    empty = (
        "n_days long, total_events long, total_conversions long, "
        "final_llr double, decision string, decided_day date"
    )
    n_total, x_total = totals["cum_n"], totals["cum_x"]
    if n_total == 0:
        return spark.createDataFrame([], empty)
    n_days = pre.count()
    crossing = (
        pre.filter(
            (F.col("llr_nano") >= F.lit(a_nano))
            | (F.col("llr_nano") <= F.lit(b_nano))
        )
        .orderBy(F.col("day").asc())
        .limit(1)
        .select(
            "day",
            F.when(F.col("llr_nano") >= F.lit(a_nano), F.lit("accept_h1"))
            .otherwise(F.lit("accept_h0"))
            .alias("decision"),
        )
        .collect()
    )
    decision = crossing[0]["decision"] if crossing else "continue"
    decided_day = crossing[0]["day"] if crossing else None
    raw = spark.createDataFrame(
        [
            (
                int(n_days),
                int(n_total),
                int(x_total),
                totals["llr_nano"] / 1e9,
                decision,
                decided_day,
            )
        ],
        empty,
    )
    return raw.select(
        "n_days",
        "total_events",
        "total_conversions",
        (F.round(F.col("final_llr"), 6) + F.lit(0.0)).alias("final_llr"),
        "decision",
        "decided_day",
    )


def hill1_tail_index(orders: DataFrame, k: int = 100) -> DataFrame:
    """Hill estimator of the order-value tail index (Hill 1975):
    α̂ = 1 / mean(ln(x_(i)/x_(k))) over the top-k order statistics —
    THE heavy-tail diagnostic: α < 2 means infinite variance (sample
    means of value are unstable no matter the corpus size), α < 1
    means even the mean diverges. The companion evt1 needs: Gumbel
    block-maxima assume a light tail; hill1 is the check that the
    assumption holds. k = 100 keeps the estimator in its classic
    bias/variance sweet spot and the driver state trivially bounded.

    Scale shape: ONE TakeOrderedAndProject collects the top-k rows
    (no global sort — the limit rides the scan), pinned by a
    checkpoint; threshold and log-terms both read the 100-row pin.

    Cross-engine exactness: the top-k set is picked on an exact
    integer total order (cents DESC, o_orderkey ASC); each log term
    ln(x_i/x_k) is one double expression nano-rounded into exact LONG
    sums; α̂ is one rounded double. NULL α when fewer than 2 distinct
    exceedances carry information (all top-k equal)."""
    top = (
        orders.filter(F.col("o_totalprice").isNotNull())
        .select(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
            "o_orderkey",
        )
        .orderBy(F.col("cents").desc(), F.col("o_orderkey").asc())
        .limit(k)
        .localCheckpoint(eager=True)
    )
    thr = top.agg(
        F.min("cents").cast("long").alias("xk"),
        F.count(F.lit(1)).cast("long").alias("n_top"),
    )
    j = top.crossJoin(F.broadcast(thr)).filter(F.col("cents") > F.col("xk"))
    term_nano = F.round(
        F.log(F.col("cents").cast("double") / F.col("xk").cast("double"))
        * F.lit(1e9),
        0,
    ).cast("long")
    agg = j.agg(
        F.sum(term_nano).cast("long").alias("s_nano"),
        F.count(F.lit(1)).cast("long").alias("n_exc"),
    )
    out = agg.crossJoin(F.broadcast(thr)).filter(F.col("n_top") > 0)
    mean_t = (
        F.col("s_nano").cast("double")
        / F.col("n_exc").cast("double")
        / F.lit(1e9)
    )
    alpha = F.when(
        (F.col("n_exc") >= 2) & (F.col("s_nano") > 0),
        F.round(F.lit(1.0) / mean_t, 6) + F.lit(0.0),
    )
    return out.select(
        F.col("n_top").alias("k_used"),
        (F.col("xk").cast("double") / F.lit(100.0)).alias("x_k_dollars"),
        F.coalesce(F.col("n_exc"), F.lit(0)).cast("long").alias("n_exceed"),
        alpha.alias("hill_alpha"),
        F.when(
            (F.col("n_exc") >= 2) & (F.col("s_nano") > 0),
            (F.lit(1.0) / mean_t < F.lit(2.0)),
        ).alias("infinite_variance"),
    )


def tail1_tail_dependence(orders: DataFrame, customer: DataFrame, q: int = 95) -> DataFrame:
    """Empirical upper-tail dependence between order value and the
    customer's account balance: λ_U(q) = P(X > x_q | Y > y_q) at the
    exact nearest-rank q-th percentiles (Sibuya 1960 tail-dependence;
    the empirical copula diagnostic) — spr1/ktau1 measure WHOLE-range
    association, λ_U asks whether the EXTREMES co-occur ("do the
    biggest orders come from the richest balances?"), the question
    risk/capacity planning actually has: joint extremes, not average
    rank agreement.

    Scale shape: one pair join collapses to the (x, y) stream, pinned;
    both thresholds come from value-grain prefix passes whose totals
    ride in as literals (pctl2 discipline); the readout is ONE
    four-counter integer reduction.

    Cross-engine exactness: thresholds are exact integer cents picked
    by integer cumulative-rank comparison; all counters exact longs;
    the three conditional probabilities are single rounded doubles."""
    pairs = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .filter(
            F.col("o_totalprice").isNotNull() & F.col("c_acctbal").isNotNull()
        )
        .select(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("x"),
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    spark = orders.sparkSession

    def _thr(col: str) -> int | None:
        cgrid, n = value_counts(pairs, col)
        if n == 0:
            return None
        rank = (q * n + 99) // 100
        return cgrid.agg(
            F.min(F.when(F.col("cum") >= F.lit(rank), F.col(col)))
        ).collect()[0][0]

    xq = _thr("x")
    if xq is None:
        return spark.createDataFrame(
            [],
            "n_pairs long, x_q double, y_q double, n_x_exceed long, "
            "n_y_exceed long, n_joint long, lambda_u double, "
            "p_y_given_x double, p_joint double",
        )
    yq = _thr("y")
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("x") > F.lit(int(xq))).cast("long")).cast("long").alias("nx"),
        F.sum((F.col("y") > F.lit(int(yq))).cast("long")).cast("long").alias("ny"),
        F.sum(
            ((F.col("x") > F.lit(int(xq))) & (F.col("y") > F.lit(int(yq)))).cast(
                "long"
            )
        )
        .cast("long")
        .alias("nj"),
    )
    lam = F.when(
        F.col("ny") > 0,
        F.round(F.col("nj").cast("double") / F.col("ny").cast("double"), 6)
        + F.lit(0.0),
    )
    pxy = F.when(
        F.col("nx") > 0,
        F.round(F.col("nj").cast("double") / F.col("nx").cast("double"), 6)
        + F.lit(0.0),
    )
    return agg.select(
        F.col("n").alias("n_pairs"),
        F.lit(float(xq) / 100.0).alias("x_q"),
        F.lit(float(yq) / 100.0).alias("y_q"),
        F.col("nx").alias("n_x_exceed"),
        F.col("ny").alias("n_y_exceed"),
        F.col("nj").alias("n_joint"),
        lam.alias("lambda_u"),
        pxy.alias("p_y_given_x"),
        (
            F.round(
                F.col("nj").cast("double") / F.col("n").cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("p_joint"),
    )
