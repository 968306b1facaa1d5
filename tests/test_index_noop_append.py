"""The append no-op rule, fault-injected across all 13 persisted
artifacts: an append that stages nothing must touch no directory and
commit nothing. Each case builds the artifact, plants an orphan
`<sub>/epoch=<e+1>/` dir holding a truncated part file (what a writer
that crashed before its manifest commit leaves behind), appends an
EMPTY frame, and checks that the manifest is unchanged and the orphan
survives — deleting it could destroy a concurrent writer's in-flight
epoch. A real append afterwards must remove the orphan before it reads
the stored tree and commit epoch e+1."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import auditlog, bpe, dedup, ivf, ivfpq
from csv_crm_upload_spark.analytics import nbayes, ngramlm, pca, pq, retrieval
from csv_crm_upload_spark.analytics import rollup, substr, winnow
from csv_crm_upload_spark.operators.manifest import read_manifest
from csv_crm_upload_spark.sources.tables import load_table
from csv_crm_upload_spark.streaming.index_service import INDEXES

# kind -> (input table, key column, save(frame, path))
CASES = {
    "text_index": (
        "documents",
        "doc_id",
        lambda df, p: retrieval.save_text_index(df, p, n_buckets=4),
    ),
    "dedup_index": ("documents", "doc_id", dedup.save_dedup_index),
    "nb_model": (
        "documents",
        "doc_id",
        lambda df, p: nbayes.save_nb_model(df, p, n_buckets=4),
    ),
    "winnow_index": (
        "documents",
        "doc_id",
        lambda df, p: winnow.save_winnow_index(df, p, n_buckets=4),
    ),
    "bpe_model": ("documents", "doc_id", lambda df, p: bpe.save_bpe_model(df, p, steps=2)),
    "substr_index": (
        "documents",
        "doc_id",
        lambda df, p: substr.save_substr_index(df, p, min_len=4, n_buckets=4),
    ),
    "ngram_model": (
        "documents",
        "doc_id",
        lambda df, p: ngramlm.save_ngramlm_model(df, p, n_buckets=4),
    ),
    "ivf_index": (
        "embeddings",
        "vec_id",
        lambda df, p: ivf.save_index(df, p, n_cells=2),
    ),
    "pq_index": (
        "embeddings",
        "vec_id",
        lambda df, p: pq.save_pq_index(df, p, m=2, n_codes=4),
    ),
    "ivfpq_index": (
        "embeddings",
        "vec_id",
        lambda df, p: ivfpq.save_ivfpq_index(df, p, n_cells=2, m=2, n_codes=4),
    ),
    "pca_model": ("embeddings", "vec_id", lambda df, p: pca.save_pca_model(df, p, r=2)),
    "daily_rollup": (
        "events",
        "event_id",
        lambda df, p: rollup.save_daily_rollup(df, p, n_buckets=4),
    ),
    # the log starts empty: its build takes no corpus
    "audit_log": (
        "events",
        "event_id",
        lambda df, p: auditlog.save_audit_log(df.sparkSession, p),
    ),
}


def test_every_registered_artifact_is_covered():
    assert sorted(CASES) == sorted(INDEXES)


def _epoch_dirs(path: str, sub: str) -> list[str]:
    return sorted(d for d in os.listdir(os.path.join(path, sub)) if d.startswith("epoch="))


@pytest.mark.parametrize("kind", sorted(CASES))
def test_empty_append_touches_nothing(kind, spark, sf_dir, tmp_path):
    table, key, save = CASES[kind]
    layout, _stream, update, _compact = INDEXES[kind]
    frame = load_table(spark, sf_dir, table)
    path = str(tmp_path / kind)
    save(frame.filter(F.col(key) % 2 == 0), path)

    # the layout declaration is the whole on-disk shape
    appended = [*layout.ranged, *layout.snapshots]
    assert sorted(os.listdir(path)) == sorted(["MANIFEST", *appended, *layout.pinned])
    before = read_manifest(path)
    e = before["epoch"]
    for sub in appended:
        assert _epoch_dirs(path, sub) == [f"epoch={e}"], sub
        orphan = os.path.join(path, sub, f"epoch={e + 1}")
        os.makedirs(orphan)
        with open(os.path.join(orphan, "part-00000-orphan.parquet"), "w") as f:
            f.write("truncated")

    update(frame.limit(0), path, txn=("noop", 1))
    assert read_manifest(path) == before
    for sub in appended:
        assert os.path.exists(
            os.path.join(path, sub, f"epoch={e + 1}", "part-00000-orphan.parquet")
        ), f"{kind}: a no-op append deleted {sub}/epoch={e + 1}"

    update(frame.filter(F.col(key) % 2 == 1), path, txn=("noop", 2))
    after = read_manifest(path)
    assert after["epoch"] == e + 1
    assert after["last_txn"] == {"noop": 2}
    for sub in appended:
        assert not os.path.exists(
            os.path.join(path, sub, f"epoch={e + 1}", "part-00000-orphan.parquet")
        ), f"{kind}: the orphan in {sub} survived a real append"
        assert _epoch_dirs(path, sub) == [f"epoch={e}", f"epoch={e + 1}"], sub
