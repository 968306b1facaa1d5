"""Persisted winnowing fingerprint index — the eighth artifact under
the shared epoch-manifest protocol (operators/manifest.py): the MOSS
use case at corpus scale, "check any document against everything ever
indexed for shared content" without re-fingerprinting the corpus.

Layout (same conventions as the BM25/dedup/vector indexes):
  prints/epoch=E/bucket=B/   (doc_id, fp) — the distinct selected
                             fingerprints, hash-partitioned by
                             bucket = pmod(fp, n_buckets) so probes
                             prune to the buckets their fingerprints
                             land in (PartitionFilters, like the
                             BM25 token buckets and NB model counts)
  MANIFEST                   epoch / base_epoch / k / w / n_buckets /
                             key_format (+ last_txn for streaming
                             exactly-once)

Maintenance contract (shared with every other artifact):
  * build  — save_winnow_index: atomic rebuild-over-live
  * append — update_winnow_index: fingerprints are pure per-document
             functions, so folding ONLY the new docs' prints is
             byte-identical to a rebuild (test-pinned); O(new docs)
  * OPTIMIZE — compact_winnow_index via manifest.compact_epochs
  * gc     — CorpusIndexService.vacuum, from LAYOUT
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.textstats import (
    shared_print_pairs,
    winnow_prints,
)
from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout, Ranged

DEFAULT_N_BUCKETS = 16

#: derived-key format stamp (manifest.check_key_format): fp = window-min
#: of md5-60 over \x01-joined word k-grams of norm_tokens text. Bump
#: when any of the tokenization / gram join / hash / selection rule
#: changes.
KEY_FORMAT = "normtok-x01gram-md560-winmin-v1"

#: prints: epoch-RANGED per-document facts — probes union the live range
LAYOUT = Layout(
    ranged={"prints": Ranged(partition=("bucket",))},
    key_format=KEY_FORMAT,
    missing_ok=True,
)


def _bucketed(prints: DataFrame, n_buckets: int) -> DataFrame:
    return prints.withColumn("bucket", F.pmod(F.col("fp"), F.lit(n_buckets)))


def save_winnow_index(
    documents: DataFrame,
    path: str,
    k: int = 4,
    w: int = 5,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> None:
    """Materialize the corpus's selected fingerprints once (atomic
    rebuild over a live index; manifest.rebuild)."""
    manifest.rebuild(
        path,
        LAYOUT,
        lambda e: manifest.write_epoch(
            _bucketed(winnow_prints(documents, k, w), n_buckets),
            path,
            LAYOUT,
            "prints",
            e,
        ),
        k=k,
        w=w,
        n_buckets=n_buckets,
    )


def load_winnow_prints(spark, path: str) -> DataFrame:
    """The stored (doc_id, fp) fingerprint table — the union of the
    committed epochs in [base_epoch, epoch] (manifest-resolved: a racing
    update or compaction is invisible — old-or-new, never partial)."""
    m = manifest.checked_manifest(path, LAYOUT)
    return manifest.live(spark, path, m, LAYOUT, "prints").select("doc_id", "fp")


def update_winnow_index(
    new_documents: DataFrame, path: str, txn: tuple[str, int] | None = None
) -> None:
    """Fold a corpus APPEND: fingerprint ONLY the new documents and
    commit them as a new epoch (manifest.append). Because selection is a
    pure per-document function, the post-append print table is EXACTLY
    what a rebuild over the full corpus would store (test-pinned) — no
    cross-document state to reconcile. Precondition (as for any index
    append): new doc_ids are not already indexed."""
    manifest.append(
        path,
        LAYOUT,
        txn,
        lambda m: _bucketed(
            winnow_prints(new_documents, m["k"], m["w"]), m["n_buckets"]
        ).localCheckpoint(eager=True),
        lambda prints, m, e: manifest.write_epoch(prints, path, LAYOUT, "prints", e),
    )


def compact_winnow_index(spark, path: str) -> bool:
    """OPTIMIZE: fold the live [base_epoch, epoch] chain into one epoch
    (bucket partitioning preserved) in one atomic manifest commit.
    Returns False when already compact."""
    return manifest.compact_epochs(spark, path, LAYOUT)


def wfp2_indexed_pairs(
    spark, path: str, min_shared: int = 2, max_df: int = 50
) -> DataFrame:
    """The wfp2 near-copy pair query over the PERSISTED prints — no
    re-fingerprinting; ≡ the inline wfp2_shared_fingerprint_pairs over
    the indexed corpus (test-pinned). The df cap is computed here, over
    the full stored table, exactly as a rebuild would."""
    return shared_print_pairs(load_winnow_prints(spark, path), min_shared, max_df)


def match_documents(
    spark,
    path: str,
    probe_documents: DataFrame,
    min_shared: int = 1,
    max_df: int = 50,
) -> DataFrame:
    """The MOSS probe: which INDEXED documents share fingerprints with
    each probe document — (probe_doc_id, indexed_doc_id, n_shared),
    n_shared >= min_shared, most-shared first.

    Scale shape: the probe set is small by nature (a submission batch,
    a crawl increment); its fingerprints are computed map-only, and the
    stored-print scan PRUNES to the buckets the probe's fingerprints
    land in (PartitionFilters on the bucket partition column — the
    NB-model/BM25 probe discipline), so a probe reads
    O(probe buckets / n_buckets) of the index, not all of it. Hot
    stored fingerprints (df > max_df over the stored table) are dropped
    before the join, same cap as the pair query."""
    m = manifest.checked_manifest(path, LAYOUT)
    probe = _bucketed(
        winnow_prints(probe_documents, m["k"], m["w"]), m["n_buckets"]
    ).localCheckpoint(eager=True)
    buckets = [r["bucket"] for r in probe.select("bucket").distinct().collect()]
    stored = (
        manifest.live(spark, path, m, LAYOUT, "prints")
        .filter(F.col("bucket").isin(buckets))  # partition-pruned scan
        .select("doc_id", "fp")
    )
    dfc = stored.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    rare = stored.join(dfc.filter(F.col("df") <= max_df), "fp")
    return (
        probe.select(F.col("doc_id").alias("probe_doc_id"), "fp")
        .join(rare.select(F.col("doc_id").alias("indexed_doc_id"), "fp"), "fp")
        .filter(F.col("probe_doc_id") != F.col("indexed_doc_id"))
        .groupBy("probe_doc_id", "indexed_doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("probe_doc_id", F.col("n_shared").desc(), "indexed_doc_id")
    )
