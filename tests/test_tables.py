"""The testdata table source reads under declared schemas.

`load_table` passes `schemas.TESTDATA_SCHEMAS` to the reader, so these
tests pin that the declared schema is exactly what footer inference
yields (names, types, nullability, zone-less `timestamp_ntz`), that
both reads return the same rows, and that building a query over a
table, or over the persisted dedup pair index, starts no Spark job.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import dedup as dd
from csv_crm_upload_spark.schemas import TESTDATA_SCHEMAS
from csv_crm_upload_spark.sources.tables import load_table
from tests.test_degenerate_parity import _build_fixture


@pytest.fixture(scope="module")
def degenerate_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("degenerate_tables"))
    _build_fixture(d)
    return d


def _checksum(df) -> int:
    # reduced per row: a plain sum of 64-bit hashes overflows under ANSI
    return df.agg(F.sum(F.xxhash64("*") % 1000003)).first()[0]


def _jobs_started(spark, build) -> list[int]:
    """Job ids started while `build()` runs, via a fresh job group."""
    sc = spark.sparkContext
    group = f"test_tables_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "declared-schema reads")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(TESTDATA_SCHEMAS))
@pytest.mark.parametrize("corpus", ["sf", "degenerate"])
def test_declared_schema_equals_inferred(spark, sf_dir, degenerate_dir, corpus, name):
    d = sf_dir if corpus == "sf" else degenerate_dir
    declared = load_table(spark, d, name)
    inferred = spark.read.parquet(os.path.join(d, f"{name}.parquet"))
    assert declared.schema == inferred.schema
    assert _checksum(declared) == _checksum(inferred)


def test_timestamps_read_as_ntz(spark, sf_dir):
    got = {
        (t, c): dict(load_table(spark, sf_dir, t).dtypes)[c]
        for t, c in [("orders", "o_orderdate"), ("lineitem", "l_shipdate"), ("events", "ts")]
    }
    assert set(got.values()) == {"timestamp_ntz"}, got


def test_load_table_starts_no_job(spark, sf_dir):
    def build():
        for name in TESTDATA_SCHEMAS:
            load_table(spark, sf_dir, name)

    assert _jobs_started(spark, build) == []


def test_load_dedup_index_starts_no_job(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "dedup_idx")
    dd.save_dedup_index(load_table(spark, sf_dir, "documents"), idx)
    pairs = []
    assert _jobs_started(spark, lambda: pairs.append(dd.load_dedup_index(spark, idx))) == []
    # the declared types are the ones the build wrote
    written = spark.read.parquet(f"{idx}/pairs").drop("epoch")
    assert pairs[0].schema == written.schema
    assert _checksum(pairs[0]) == _checksum(written)
