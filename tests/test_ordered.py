"""`analytics.ordered.running` ≡ the single-partition `Window` it
replaces: ranks, NTILE, prefix sums and prefix min/max, with and without
groups, on NULL groups, NULL values, empty input and inputs too small to
fill every range partition. Plus the guard that it stays the package's
only range repartition."""

from __future__ import annotations

import pathlib
import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.ordered import grouped_ntile_expr, ntile, running

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "csv_crm_upload_spark"


def _by(df, key, cols):
    return {r[key]: tuple(r[c] for c in cols) for r in df.collect()}


def test_ntile_matches_window_ntile(spark):
    """ntile ≡ ANSI ntile for ragged n (n % q != 0), n < q, and exact
    multiples — the closed-form bucket formula against Spark's own
    windowed ntile as the reference."""
    for n, q in ((37, 4), (3, 8), (40, 4), (1, 1)):
        df = spark.range(n).select(
            (F.col("id") * 7 % n).alias("k"), F.col("id").alias("uid")
        )
        windowed = df.withColumn("t", F.ntile(q).over(Window.orderBy("k", "uid")))
        want = _by(windowed, "uid", ["t"])
        got = _by(ntile(df, ["k", "uid"], q, "t"), "uid", ["t"])
        assert got == want, f"n={n} q={q}"


def test_grouped_rank_matches_window(spark):
    """A grouped running count ≡ row_number() OVER (PARTITION BY g ORDER
    BY ...), including the per-group total, for skewed group sizes, a
    single-member group and a NULL group; grouped_ntile_expr ≡ windowed
    ntile on the same ranks; empty input plans and returns empty."""
    # group c is single-member; ids >= 199 get a NULL group — NULL is
    # its own partition in Window.partitionBy AND the SQL oracle, so
    # the distributed form must rank (not drop) those rows
    df = spark.range(201).select(
        F.when(F.col("id") < 120, F.lit("a"))
        .when(F.col("id") < 198, F.lit("b"))
        .when(F.col("id") < 199, F.lit("c"))
        .otherwise(F.lit(None).cast("string"))
        .alias("g"),
        (F.col("id") * 13 % 200).alias("v"),
        F.col("id").alias("uid"),
    )
    w = Window.partitionBy("g").orderBy("v", "uid")
    want = _by(
        df.select(
            "uid",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
            F.ntile(4).over(w).alias("t"),
        ),
        "uid",
        ["rn", "n", "t"],
    )
    ranked, totals = running(df, ["v", "uid"], {"rn": ("count", None)}, ["g"])
    got = _by(
        ranked.withColumn("t", grouped_ntile_expr("rn", "rn_total", 4)),
        "uid",
        ["rn", "rn_total", "t"],
    )
    assert got == want
    assert totals == {
        ("a",): {"rn": 120},
        ("b",): {"rn": 78},
        ("c",): {"rn": 1},
        (None,): {"rn": 2},
    }
    empty, totals = running(
        df.filter(F.lit(False)), ["v", "uid"], {"rn": ("count", None)}, ["g"]
    )
    assert empty.count() == 0 and totals == {}


def test_rank_and_ntile_handle_empty_input(spark):
    """Empty frames must plan and return empty (a zero-arg create_map()
    would otherwise fail analysis on the offset lookup)."""
    empty = spark.range(0).select(F.col("id").alias("k"), F.col("id").alias("uid"))
    ranked, totals = running(empty, ["k", "uid"], {"r": ("count", None)})
    assert ranked.count() == 0 and totals == {"r": 0}
    assert ntile(empty, ["k", "uid"], 4, "t").count() == 0


def test_prefix_sums_match_window_and_totals(spark):
    """Running sums ≡ the single-partition window cumsum for any total
    order, the totals are the grand sums, and empty input does not
    abort (zero-arg create_map)."""
    df = spark.createDataFrame(
        [(v, v % 3, (v * 7) % 5) for v in range(97)], ["k", "a", "b"]
    )
    got, totals = running(df, ["k"], {"ca": ("sum", "a"), "cb": ("sum", "b")})
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "k", F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
    )
    assert _by(got, "k", ["ca", "cb"]) == _by(want, "k", ["ca", "cb"])
    assert totals == {
        "ca": sum(v % 3 for v in range(97)),
        "cb": sum((v * 7) % 5 for v in range(97)),
    }
    empty = spark.createDataFrame([], "k long, a long, b long")
    out, tot = running(empty, ["k"], {"ca": ("sum", "a"), "cb": ("sum", "b")})
    assert out.count() == 0 and tot == {"ca": 0, "cb": 0}


def test_running_aggregates_match_window_with_null_groups_and_values(spark):
    """count/sum/min/max together, grouped (NULL group included) and
    ungrouped, ≡ the ROWS UNBOUNDED PRECEDING window — NULL values are
    skipped as the SQL aggregates skip them, so a running sum over a
    leading NULL reads the earlier cells' sum."""
    rng = random.Random(3)
    rows = [
        (
            rng.choice(["a", "b", "c", None]),
            rng.randint(0, 40),
            i,
            rng.choice([None, rng.randint(-50, 50)]),
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, v long, uid long, x long")
    aggs = {
        "rn": ("count", None),
        "sx": ("sum", "x"),
        "mn": ("min", "x"),
        "mx": ("max", "x"),
    }
    cols = list(aggs)
    for groups in ([], ["g"]):
        w = (
            Window.partitionBy(*groups)
            .orderBy("v", "uid")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        want = _by(
            df.select(
                "uid",
                F.count(F.lit(1)).over(w).alias("rn"),
                F.sum("x").over(w).alias("sx"),
                F.min("x").over(w).alias("mn"),
                F.max("x").over(w).alias("mx"),
            ),
            "uid",
            cols,
        )
        got, totals = running(df, ["v", "uid"], aggs, groups)
        assert _by(got, "uid", cols) == want, groups
    nulls = [r for r in rows if r[0] is None]
    xs = [r[3] for r in nulls if r[3] is not None]
    assert totals[(None,)] == {
        "rn": len(nulls),
        "sx": sum(xs),
        "mn": min(xs),
        "mx": max(xs),
    }
    null_rows = got.filter(F.col("g").isNull()).collect()
    assert {r["mx_total"] for r in null_rows} == {max(xs)}


def test_running_on_fewer_rows_than_partitions(spark):
    """3 rows on local[4] leave at least one range partition empty; the
    exclusive offsets fold over the partitions that hold rows only."""
    assert spark.sparkContext.defaultParallelism >= 4
    df = spark.createDataFrame([(30, 5), (10, 7), (20, None)], "k long, x long")
    aggs = {
        "rn": ("count", None),
        "sx": ("sum", "x"),
        "mn": ("min", "x"),
        "mx": ("max", "x"),
    }
    got, totals = running(df, ["k"], aggs)
    rows = got.collect()
    assert len({r["_pid"] for r in rows}) < spark.sparkContext.defaultParallelism
    assert sorted(tuple(r[c] for c in ("k", *aggs)) for r in rows) == [
        (10, 1, 7, 7, 7),
        (20, 2, 7, 7, 7),
        (30, 3, 12, 5, 7),
    ]
    assert totals == {"rn": 3, "sx": 12, "mn": 5, "mx": 7}


def test_ordered_owns_range_partitioning():
    """`running` is the package's one range-partitioned plan: no other
    module range-repartitions or reads the partition id."""
    owner = PACKAGE / "analytics" / "ordered.py"
    offenders = [
        f"{path.relative_to(PACKAGE)}:{i}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != owner
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "repartitionByRange" in line or "spark_partition_id" in line
    ]
    assert offenders == []
