"""Running aggregates over a global order without a single-task window.

`Window.orderBy(...)` with no partitionBy sorts the whole input in ONE
task, and a partitionBy over a handful of values (order status, event
type, language) is the same collapse split |group| ways. `running`
gives the same per-row results in two phases: range-repartition on
(group ++ order), aggregate inside each (partition, group) cell with a
ROWS UNBOUNDED PRECEDING window, and add the fold of every earlier cell
of the same group. The driver sees one row of partials per cell —
bounded by partitions × groups, never by rows.

Every global or low-cardinality-grouped rank (a running count), NTILE
(that rank + `grouped_ntile_expr`), prefix sum and prefix min/max in
the package goes through `running`; it is the package's only range
repartition.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_AGG = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max}
_FOLD = {"count": operator.add, "sum": operator.add, "min": min, "max": max}
# NULL-skipping, as the SQL aggregates are: a running sum whose own cell
# has no value yet reads the offset, and vice versa
_COMBINE = {
    "count": lambda a, b: F.coalesce(a + b, a, b),
    "sum": lambda a, b: F.coalesce(a + b, a, b),
    "min": F.least,
    "max": F.greatest,
}


def _fold(fn: str, acc, part):
    """acc ⊕ part for one aggregate; None means no value yet."""
    if acc is None or part is None:
        return part if acc is None else acc
    return _FOLD[fn](acc, part)


def running(
    df: DataFrame, order_cols: list, aggs: dict, group_cols: tuple | list = ()
) -> tuple:
    """Running aggregates over `order_cols` (within each group of
    `group_cols`, NULL being a group of its own), as
    `fn(col) OVER ([PARTITION BY group] ORDER BY order ROWS UNBOUNDED
    PRECEDING)` would give them, without funnelling a group through one
    task.

    `aggs` maps each output column to `(fn, col)`: fn is "count" (col
    None counts rows, so a running count is ROW_NUMBER), "sum", "min" or
    "max". `order_cols` must end in a unique tiebreaker so the order is
    total wherever the range boundaries fall.

    Returns `(frame, totals)`. The frame is `df` plus every output column
    and `_pid`, the range partition of the row: partitions follow the
    order, so a caller needing a neighbour across it windows within
    `_pid` and patches the partition boundaries. Without groups `totals`
    maps each output column to its grand total (0 for an empty count or
    sum); with groups it maps each group tuple to such a dict, and each
    row also carries `<out>_total`, its group's total.

    The eager localCheckpoint pins the sampled range boundaries, so the
    partials job and the window job see the same partitions; both run
    when `running` is called, and the returned plan reads the checkpoint
    with the offsets as literals."""
    group_cols = list(group_cols)
    parted = (
        df.repartitionByRange(
            df.sparkSession.sparkContext.defaultParallelism,
            *group_cols,
            *order_cols,
        )
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    exprs = {
        out: _AGG[fn](F.col(col) if col else F.lit(1))
        for out, (fn, col) in aggs.items()
    }
    cells = parted.groupBy("_pid", *group_cols).agg(
        *[e.alias(out) for out, e in exprs.items()]
    )
    types = {f.name: f.dataType for f in cells.schema.fields}
    before, totals = [], {}
    for r in sorted(cells.collect(), key=lambda r: r["_pid"]):
        g = tuple(r[c] for c in group_cols)
        acc = totals.get(g, dict.fromkeys(aggs))
        before.append((r["_pid"], g, acc))
        totals[g] = {out: _fold(fn, acc[out], r[out]) for out, (fn, _) in aggs.items()}
    if not before:
        # empty input: create_map() needs an entry; no row looks it up
        before = [(0, (None,) * len(group_cols), dict.fromkeys(aggs))]

    def lit(v, name):
        return F.lit(v).cast(types[name])

    # one lookup keyed by struct(_pid, *groups): a NULL group field
    # matches its NULL key, so NULL groups are ranked, not dropped
    entries = []
    for pid, g, acc in before:
        tot = totals.get(g, acc)
        entries += [
            F.struct(
                F.lit(pid).alias("_pid"),
                *[lit(v, c).alias(c) for v, c in zip(g, group_cols)],
            ),
            F.struct(
                *[lit(acc[out], out).alias(out) for out in aggs],
                *[lit(tot[out], out).alias(f"{out}_total") for out in aggs],
            ),
        ]
    w = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the cell's own running values and its offsets, each computed once
    framed = parted.withColumns(
        {f"_w_{out}": e.over(w) for out, e in exprs.items()}
    ).withColumn("_off", F.create_map(*entries)[F.struct("_pid", *group_cols)])
    cols = {
        out: _COMBINE[fn](F.col(f"_w_{out}"), F.col("_off")[out])
        for out, (fn, _) in aggs.items()
    }
    if group_cols:
        cols.update({f"{out}_total": F.col("_off")[f"{out}_total"] for out in aggs})
    else:
        zero = {out: 0 for out, (fn, _) in aggs.items() if fn in ("count", "sum")}
        totals = {**zero, **totals.get((), {})}
    return framed.withColumns(cols).drop("_off", *[f"_w_{out}" for out in aggs]), totals


def grouped_ntile_expr(rn: str, n, q: int) -> F.Column:
    """ANSI NTILE(q) as a closed-form expression of a row-number COLUMN
    NAME `rn` and a group size `n` (a column name, or an int for one
    global group): the first (n mod q) buckets get ceil(n/q) rows, the
    rest floor(n/q) — identical to `ntile(q) OVER (PARTITION BY g ORDER
    BY ...)` given the same total order. Pure integer `div`/`%`
    arithmetic (no float division whose rounding could flip a bucket
    boundary at 2^50-row groups), so the assignment is exact at any n."""
    base = f"({n} div {q})"
    rem = f"({n} % {q})"
    head = f"({rem} * ({base} + 1))"
    return F.expr(
        f"CAST(CASE WHEN {base} = 0 THEN {rn} "
        f"WHEN {rn} <= {head} THEN (({rn} - 1) div ({base} + 1)) + 1 "
        f"ELSE {rem} + (({rn} - 1 - {head}) div {base}) + 1 END AS INT)"
    )


def ntile(df: DataFrame, order_cols: list, q: int, out_col: str) -> DataFrame:
    """`df` plus `out_col` = NTILE(q) OVER (ORDER BY order_cols): the
    running count, bucketed with the total row count as a literal."""
    ranked, totals = running(df, order_cols, {"_rn": ("count", None)})
    return ranked.withColumn(
        out_col, grouped_ntile_expr("_rn", totals["_rn"], q)
    ).drop("_rn", "_pid")


def value_counts(df: DataFrame, col: str) -> tuple:
    """(grid, n): one row per distinct value of `col` with its
    multiplicity `cnt` and `cum`, the number of rows at or below it, and
    n, the row count — the distinct-value grain every exact nearest-rank
    percentile reads (the q-th is the least value with cum ≥ ⌈q·n⌉).
    One combining agg + one running sum; the grid keeps `_pid`."""
    g = df.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    grid, totals = running(g, [col], {"cum": ("sum", "cnt")})
    return grid, totals["cum"]


def rank2x(df: DataFrame, col: str) -> DataFrame:
    """(col, cnt, r2) per distinct value of `col`: its multiplicity and
    TWICE its average rank. The average rank of a tied block is
    cum_before + (cnt+1)/2, so 2·cum_before + cnt + 1 keeps every rank
    an EXACT LONG and tie-corrected rank statistics run on integers.
    One `value_counts` pass; callers join it back by value (≤|distinct|
    rows)."""
    c, _ = value_counts(df, col)
    return c.select(
        col,
        "cnt",
        (F.lit(2) * (F.col("cum") - F.col("cnt")) + F.col("cnt") + F.lit(1))
        .cast("long")
        .alias("r2"),
    )
