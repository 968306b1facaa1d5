"""Shared harness of the DuckDB oracle-parity suites (test_oracle_parity,
test_degenerate_parity, test_property_parity, test_sf01_parity): one
view registration over a directory of testdata tables, and one
comparison of a Spark result against its oracle SQL — row count,
column names, and order-insensitive sorted values, exactly.
"""

from __future__ import annotations

import math

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_views(data_dir: str):
    """A DuckDB connection with one view per testdata table in `data_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _normalize(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def rows_to_sorted(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_normalize(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def assert_matches_oracle(name: str, sdf, con, sql: str) -> None:
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s = rows_to_sorted(spark_rows, spark_cols)
    d = rows_to_sorted(duck_rows, duck_cols)
    mismatches = [(i, a, b) for i, (a, b) in enumerate(zip(s, d)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} value mismatches, first 3: {mismatches[:3]}"
    )
