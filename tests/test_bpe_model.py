"""Persisted BPE tokenizer model: incremental ≡ rebuild (bit-exact),
apply ≡ inline bpe2, atomic rebuild-over-live, gc of superseded
snapshots."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.bpe import (
    bpe1_merge_steps,
    bpe2_segment,
    load_bpe_rules,
    save_bpe_model,
    segment_with_bpe_model,
    update_bpe_model,
)
from csv_crm_upload_spark.operators.manifest import read_manifest
from csv_crm_upload_spark.sources.tables import load_table


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_incremental_update_equals_rebuild(spark, sf_dir, tmp_path):
    """Folding a shard must land the SAME model a from-scratch rebuild
    would: word counts are additive and the merge loop is deterministic
    given the vocabulary, so vocab AND merges are bit-equal."""
    docs = load_table(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)

    inc = str(tmp_path / "bpe_inc")
    full = str(tmp_path / "bpe_full")
    save_bpe_model(first, inc, steps=3)
    update_bpe_model(second, inc)
    save_bpe_model(docs, full, steps=3)

    for sub in ["vocab", "merges"]:
        ea, eb = read_manifest(inc)["epoch"], read_manifest(full)["epoch"]
        ta = _rows(spark.read.parquet(f"{inc}/{sub}/epoch={ea}"))
        tb = _rows(spark.read.parquet(f"{full}/{sub}/epoch={eb}"))
        assert ta == tb, sub

    assert _rows(segment_with_bpe_model(docs, inc)) == _rows(
        segment_with_bpe_model(docs, full)
    )


def test_model_apply_matches_inline(spark, sf_dir, tmp_path):
    """segment against the persisted model equals the inline
    self-trained bpe2 on the same corpus, and the stored rules are
    exactly bpe1's merge steps."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bpe")
    save_bpe_model(docs, path, steps=3)

    inline_rules = [
        (r["left"], r["right"])
        for r in bpe1_merge_steps(docs, 3).orderBy("step").collect()
    ]
    assert load_bpe_rules(spark, path) == inline_rules

    assert _rows(segment_with_bpe_model(docs, path)) == _rows(
        bpe2_segment(docs, steps=3)
    )


def test_rebuild_over_live_is_atomic(spark, sf_dir, tmp_path):
    """save_bpe_model over an existing model commits a FRESH epoch above
    the old chain (readers holding the old manifest keep resolving their
    epoch dirs) and a fresh manifest carrying only the new build's
    fields: a field an older manifest carried (here the `last_txn` of
    earlier releases) does not survive the rebuild."""
    import json

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bpe")
    save_bpe_model(docs.filter(F.col("doc_id") < 200), path, steps=2)
    update_bpe_model(
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300)), path
    )
    m1 = read_manifest(path)
    with open(os.path.join(path, "MANIFEST"), "w") as f:
        json.dump({**m1, "last_txn": {"svc": 3}}, f)
    save_bpe_model(docs, path, steps=3)  # rebuild over live
    m2 = read_manifest(path)
    assert m2 == {"epoch": m1["epoch"] + 1, "base_epoch": m1["epoch"] + 1, "steps": 3}
    assert os.path.isdir(f"{path}/merges/epoch={m1['epoch']}"), (
        "old epoch dirs live until vacuum"
    )


def test_vacuum_reclaims_superseded_bpe_snapshots(spark, sf_dir, tmp_path):
    """Every BPE epoch is a full snapshot, so after an append
    gc_stale_epochs must reclaim the superseded epoch dirs and the live
    model still tokenizes."""
    from csv_crm_upload_spark.analytics.bpe import LAYOUT
    from csv_crm_upload_spark.operators.manifest import gc_stale_epochs

    docs = load_table(spark, sf_dir, "documents")
    model = str(tmp_path / "bpe")
    save_bpe_model(docs.filter(F.col("doc_id") < 300), model, steps=2)
    update_bpe_model(docs.filter(F.col("doc_id") >= 300), model)
    assert os.path.isdir(f"{model}/vocab/epoch=0")
    assert os.path.isdir(f"{model}/vocab/epoch=1")

    removed = gc_stale_epochs(model, LAYOUT)
    assert any("epoch=0" in p for p in removed), removed
    assert not os.path.isdir(f"{model}/vocab/epoch=0")
    assert segment_with_bpe_model(docs.limit(10), model).count() > 0
