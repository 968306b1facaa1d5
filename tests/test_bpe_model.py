"""Persisted BPE tokenizer model: incremental ≡ rebuild (bit-exact),
apply ≡ inline bpe2/bpe3, streaming replay guard, service-tick fold,
atomic rebuild-over-live, vacuum of superseded snapshots."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.bpe import (
    bpe1_merge_steps,
    bpe2_segment,
    bpe3_vocab_coverage,
    coverage_with_bpe_model,
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
    """segment/coverage against the persisted model equal the inline
    self-trained bpe2/bpe3 on the same corpus, and the stored rules are
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
    assert _rows(coverage_with_bpe_model(docs, path)) == _rows(
        bpe3_vocab_coverage(docs, steps=3)
    )


def test_update_txn_replay_noops(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bpe")
    save_bpe_model(docs.filter(F.col("doc_id") < 100), path, steps=2)
    shard = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    update_bpe_model(shard, path, txn=("svc", 7))
    e1 = read_manifest(path)["epoch"]
    update_bpe_model(shard, path, txn=("svc", 7))  # replayed batch
    assert read_manifest(path)["epoch"] == e1, "replay must not double-fold"


def test_rebuild_over_live_is_atomic(spark, sf_dir, tmp_path):
    """save_bpe_model over an existing model commits a FRESH epoch above
    the old chain (readers holding the old manifest keep resolving their
    epoch dirs) and preserves the streaming cursor (`last_txn`)."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bpe")
    save_bpe_model(docs.filter(F.col("doc_id") < 200), path, steps=2)
    update_bpe_model(
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300)),
        path,
        txn=("svc", 3),
    )
    m1 = read_manifest(path)
    save_bpe_model(docs, path, steps=2)  # rebuild over live
    m2 = read_manifest(path)
    assert m2["epoch"] > m1["epoch"]
    assert m2["base_epoch"] == m2["epoch"]
    assert m2.get("last_txn") == m1.get("last_txn"), "rebuild must keep the cursor"
    assert os.path.isdir(f"{path}/merges/epoch={m1['epoch']}"), (
        "old epoch dirs live until vacuum"
    )


def test_bpe_model_folds_on_service_tick(spark, sf_dir, tmp_path):
    """A dropped doc shard folds into the persisted tokenizer on the
    next CorpusIndexService tick — epoch advances and the refreshed
    rules equal a rebuild over the union corpus."""
    from csv_crm_upload_spark.streaming.index_service import CorpusIndexService

    docs = load_table(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") < 400)
    shard = docs.filter(F.col("doc_id") >= 400)

    model = str(tmp_path / "bpe_model")
    save_bpe_model(first, model, steps=3)
    e0 = read_manifest(model)["epoch"]

    drop = str(tmp_path / "docs_drop")
    os.makedirs(drop)
    svc = CorpusIndexService(spark, docs_dir=drop, bpe_model=model)
    assert svc.tick() == {"docs": [], "embeddings": [], "events": []}  # quiet tick

    shard.write.parquet(f"{drop}/shard_a")
    folded = svc.tick()
    assert folded["docs"], "shard must fold on the tick after landing"
    assert read_manifest(model)["epoch"] == e0 + 1

    full = str(tmp_path / "bpe_full")
    save_bpe_model(docs, full, steps=3)
    assert load_bpe_rules(spark, model) == load_bpe_rules(spark, full)


def test_vacuum_reclaims_superseded_bpe_snapshots(spark, sf_dir, tmp_path):
    """Every BPE epoch is a full snapshot, so after an append vacuum()
    must reclaim the superseded epoch dirs and the live model still
    tokenizes."""
    from csv_crm_upload_spark.streaming.index_service import CorpusIndexService

    docs = load_table(spark, sf_dir, "documents")
    model = str(tmp_path / "bpe")
    save_bpe_model(docs.filter(F.col("doc_id") < 300), model, steps=2)
    update_bpe_model(docs.filter(F.col("doc_id") >= 300), model)
    assert os.path.isdir(f"{model}/vocab/epoch=0")
    assert os.path.isdir(f"{model}/vocab/epoch=1")

    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    svc = CorpusIndexService(spark, docs_dir=drop, bpe_model=model)
    removed = svc.vacuum()
    assert any("epoch=0" in p for p in removed), removed
    assert not os.path.isdir(f"{model}/vocab/epoch=0")
    assert segment_with_bpe_model(docs.limit(10), model).count() > 0
