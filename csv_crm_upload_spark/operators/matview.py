"""Incrementally-maintained materialized aggregate over a CustomerStore.

A warehouse keeps derived aggregate tables ("how many pending uploads per
domain?", "rows per status") fresh without rescanning the base table. A
real lakehouse does this with `CREATE MATERIALIZED VIEW ... REFRESH` fed
by the table's change feed; this module implements that surface on the
versioned store: `refresh()` reads only `store.changes(last_seen, head)`
— which is bucket-pruned by inode diff before any row I/O — and folds
SIGNED deltas into the stored aggregate.

Correctness model: the maintained measures form an abelian group
(COUNT(*) and SUM(expr) — each row contributes +1/+x on insert and
−1/−x on delete; an update is preimage−, postimage+). So
  refreshed(view, changes(v0, v1)) ≡ full_compute(snapshot v1)
exactly, for any interleaving of append / merge / delete /
mark_uploaded between refreshes. Groups whose count reaches zero are
dropped (a group the base table no longer has must not linger).

Scale shape at 100 TB: a refresh after an upload cycle that touched k of
n buckets reads k buckets' rows once (the CDC diff), aggregates them
(map-side partial), and outer-joins against the view — whose cardinality
is |groups|, not |table|. A quiet refresh (no version advance) is pure
metadata. Falling behind a vacuum raises in `changes()` and triggers the
documented fallback: one full recompute, then incremental again.

No analogue in the reference (its store is 4 SQL statements); this is
part of the widened lakehouse surface (SURVEY §7.1 step 7).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.operators.store import CustomerStore

_ADD_TAGS = ("insert", "update_postimage")
_DEL_TAGS = ("delete", "update_preimage")
# the refresh cursor lives INSIDE the data dir (Spark skips `_` files), so
# one rename commits the aggregate and the store version it reflects
_CURSOR = "_VIEW_META.json"


class MaterializedAggregate:
    """A persisted `GROUP BY group_cols` view with COUNT(*) plus optional
    SUM measures, refreshed incrementally from the store's change feed.

    measures: {alias: sql_expr} — each becomes SUM(expr) over the base
    rows (expr is any deterministic column expression of the base table,
    e.g. ``"id"`` or ``"CASE WHEN uploaded THEN 1 ELSE 0 END"``).
    The COUNT(*) column is always present as ``n_rows``.
    """

    def __init__(
        self,
        store: CustomerStore,
        root: str,
        group_cols: list[str],
        measures: dict[str, str] | None = None,
    ):
        self.store = store
        self.spark = store.spark
        self.root = root
        self.group_cols = list(group_cols)
        self.measures = dict(measures or {})
        os.makedirs(root, exist_ok=True)

    # -- state -------------------------------------------------------------

    def _data_path(self) -> str:
        return os.path.join(self.root, "data")

    def last_refreshed_version(self) -> int:
        try:
            with open(os.path.join(self._data_path(), _CURSOR)) as fh:
                return int(json.load(fh)["store_version"])
        except (OSError, ValueError, KeyError):
            return -1

    def read(self) -> DataFrame:
        """The current view contents (group_cols, n_rows, *measures)."""
        return self.spark.read.parquet(self._data_path())

    # -- aggregation -------------------------------------------------------

    def _agg_cols(self, count_expr: F.Column) -> list[F.Column]:
        # measures ride in EXACT decimal: incremental (+delta/−delta in any
        # interleaving) is then bit-identical to a full recompute — a
        # float sum would drift with fold order
        cols = [F.sum(count_expr).cast("long").alias("n_rows")]
        for alias, expr in self.measures.items():
            cols.append(
                F.sum(count_expr * F.expr(expr).cast("decimal(28,6)"))
                .cast("decimal(38,6)")
                .alias(alias)
            )
        return cols

    def _full_aggregate(self, base: DataFrame) -> DataFrame:
        return base.groupBy(*self.group_cols).agg(*self._agg_cols(F.lit(1)))

    def _delta_aggregate(self, changes: DataFrame) -> DataFrame:
        sign = (
            F.when(F.col("_change_type").isin(*_ADD_TAGS), F.lit(1))
            .when(F.col("_change_type").isin(*_DEL_TAGS), F.lit(-1))
            .otherwise(F.lit(0))
        )
        return changes.groupBy(*self.group_cols).agg(*self._agg_cols(sign))

    def _write(self, df: DataFrame, store_version: int) -> None:
        # snapshot-swap: stage the aggregate AND its cursor to a temp dir,
        # then atomically rename over the old data, so concurrent readers
        # never see a half-written view and a crash after the swap can
        # never pair the new aggregate with the old cursor (which would
        # fold the same delta twice on the next refresh)
        tmp = os.path.join(self.root, f"_stage_{uuid.uuid4().hex}")
        df.repartition(1).write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, _CURSOR), "w") as fh:
            json.dump(
                {
                    "store_version": store_version,
                    "group_cols": self.group_cols,
                    "measures": self.measures,
                },
                fh,
            )
        for name in os.listdir(self.root):
            if name.startswith("_old_"):  # left by a crash between swap and removal
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        old = self._data_path()
        back = os.path.join(self.root, f"_old_{uuid.uuid4().hex}")
        if os.path.isdir(old):
            os.rename(old, back)
        os.rename(tmp, old)
        shutil.rmtree(back, ignore_errors=True)

    # -- refresh -----------------------------------------------------------

    def refresh(self) -> dict:
        """Bring the view up to the store's head version.

        Returns {"mode": "noop"|"full"|"incremental", "version": head}.
        """
        head = self.store._current_version()
        last = self.last_refreshed_version()
        if head < 0:
            raise FileNotFoundError("store has no committed version yet")
        if last == head:
            return {"mode": "noop", "version": head}
        if last < 0:
            self._write(self._full_aggregate(self.store.read()), head)
            return {"mode": "full", "version": head}
        try:
            delta = self._delta_aggregate(self.store.changes(last, head))
        except FileNotFoundError:
            # our cursor was vacuumed away — documented fallback
            self._write(self._full_aggregate(self.store.read()), head)
            return {"mode": "full", "version": head}
        current = self.read()
        zero = F.lit(0).cast("decimal(38,6)")
        merged_cols = [
            (
                F.coalesce(F.col(f"cur.{m}"), zero)
                + F.coalesce(F.col(f"d.{m}"), zero)
            ).cast("decimal(38,6)").alias(m)
            for m in self.measures
        ]
        merged = (
            current.alias("cur")
            .join(delta.alias("d"), on=self.group_cols, how="full_outer")
            .select(
                *self.group_cols,
                (
                    F.coalesce(F.col("cur.n_rows"), F.lit(0))
                    + F.coalesce(F.col("d.n_rows"), F.lit(0))
                ).cast("long").alias("n_rows"),
                *merged_cols,
            )
            .filter(F.col("n_rows") > 0)
        )
        # materialize BEFORE the snapshot swap: `merged` lazily reads the
        # current view files, which the swap is about to replace
        rows = merged.localCheckpoint(eager=True)
        self._write(rows, head)
        return {"mode": "incremental", "version": head}
