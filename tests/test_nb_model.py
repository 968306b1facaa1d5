"""Persisted NB model: incremental ≡ rebuild, classify ≡ inline nb1,
probe-side partition pruning, gc of superseded snapshots."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.nbayes import (
    classify_with_nb_model,
    nb1_langid_confusion,
    save_nb_model,
    update_nb_model,
)
from csv_crm_upload_spark.sources.tables import load_table


def test_incremental_update_equals_rebuild(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)

    inc = str(tmp_path / "nb_inc")
    full = str(tmp_path / "nb_full")
    save_nb_model(first, inc, n_buckets=16)
    update_nb_model(second, inc)
    save_nb_model(docs, full, n_buckets=16)

    a = sorted(map(tuple, classify_with_nb_model(docs, inc).collect()))
    b = sorted(map(tuple, classify_with_nb_model(docs, full).collect()))
    assert a == b, "append-then-classify must equal rebuild-then-classify"

    # the stored count tables themselves are identical
    for sub in ["counts", "class_stats", "model_stats"]:
        from csv_crm_upload_spark.operators.manifest import read_manifest

        ea, eb = read_manifest(inc)["epoch"], read_manifest(full)["epoch"]
        ta = sorted(
            map(tuple, spark.read.parquet(f"{inc}/{sub}/epoch={ea}").collect()),
            key=repr,
        )
        tb = sorted(
            map(tuple, spark.read.parquet(f"{full}/{sub}/epoch={eb}").collect()),
            key=repr,
        )
        assert ta == tb, sub


def test_classify_matches_inline_confusion(spark, sf_dir, tmp_path):
    """Model-based classification of the training corpus aggregates to
    exactly nb1's self-consistency confusion matrix."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "nb")
    save_nb_model(docs, path, n_buckets=16)
    pred = classify_with_nb_model(docs, path)
    conf = (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    assert sorted(map(tuple, conf.collect())) == sorted(
        map(tuple, nb1_langid_confusion(docs).collect())
    )


def test_classify_prunes_count_partitions(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "nb")
    save_nb_model(docs, path, n_buckets=16)
    one = docs.filter(F.col("doc_id") == 0)
    df = classify_with_nb_model(one, path)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*tok_bucket#\d+ IN", plan)
    assert m, f"no partition filter on tok_bucket:\n{plan[:1500]}"


def test_vacuum_reclaims_superseded_nb_snapshots(spark, sf_dir, tmp_path):
    """Every NB epoch is a full snapshot, so after an append
    gc_stale_epochs must reclaim the superseded epoch dirs."""
    import os

    from csv_crm_upload_spark.analytics.nbayes import LAYOUT
    from csv_crm_upload_spark.operators.manifest import gc_stale_epochs

    docs = load_table(spark, sf_dir, "documents")
    model = str(tmp_path / "nb")
    save_nb_model(docs.filter(F.col("doc_id") < 300), model, n_buckets=8)
    update_nb_model(docs.filter(F.col("doc_id") >= 300), model)
    assert os.path.isdir(f"{model}/counts/epoch=0")
    assert os.path.isdir(f"{model}/counts/epoch=1")

    removed = gc_stale_epochs(model, LAYOUT)
    assert any("epoch=0" in p for p in removed), removed
    assert not os.path.isdir(f"{model}/counts/epoch=0")
    # the live snapshot still classifies
    assert classify_with_nb_model(docs.limit(10), model).count() > 0
