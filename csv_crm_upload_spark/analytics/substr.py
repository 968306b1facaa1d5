"""Persisted ExactSubstr gram-count index — the eleventh artifact under
the shared epoch-manifest protocol (operators/manifest.py): Lee et al.
2021's duplicated-substring pass at corpus scale, "mark every >=L-token
repeat against everything ever indexed" without re-scoring the corpus
per probe.

Layout (the BM25-postings/winnow conventions):
  gramcounts/epoch=E/gbucket=B/  (gram_h, n) — occurrence counts of the
                                 epoch's OWN documents' overlapping
                                 L-grams, keyed by the md5-60 gram hash
                                 and hash-partitioned by
                                 gbucket = pmod(gram_h, n_buckets)
  MANIFEST                       epoch / base_epoch / min_len /
                                 n_buckets / gram_format (+ last_txn)

The stored key is the 60-bit gram HASH, not the gram text: 8 bytes per
distinct gram instead of ~10 tokens, the standard ExactSubstr trade
(hash collisions can only OVER-mark duplication; at fixture scale the
indexed probe is value-identical to the inline operator, test-pinned).

Counts are ADDITIVE, so the epoch chain needs no reconciliation: a
gram's corpus-wide count is the SUM of its per-epoch counts, which is
what makes the append O(new docs) — the delta's counts land as a new
epoch partition, nothing already indexed is rewritten (a gram becomes
"duplicated" the moment its summed count crosses 1, even when the two
occurrences live in different epochs). Probes aggregate the live
[base_epoch, epoch] range; OPTIMIZE folds the chain back to one epoch
(sum-merge — exact by additivity).

Maintenance contract (shared with every other artifact):
  * build  — save_substr_index: atomic rebuild-over-live
  * append — update_substr_index: O(new docs), additive fold
  * OPTIMIZE — compact_substr_index (sum-merged, not just unioned)
  * gc     — CorpusIndexService.vacuum, from LAYOUT
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.dedup import (
    coverage_spans,
    substr_gram_frame,
)
from csv_crm_upload_spark.functions.hashing import md5_60
from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout, Ranged

DEFAULT_N_BUCKETS = 16

#: Gram-key format version, stamped into the MANIFEST at build time and
#: checked on every probe/append/compact. The stored keys are md5-60
#: hashes of the JOINED gram text, so anything that changes the join —
#: the separator character, the tokenization — silently changes every
#: hash: a probe against an index built under a different format would
#: match zero grams, an append would mix incompatible hash spaces, and
#: nothing downstream could tell. "space-md560-v1" names the current
#: format: norm_tokens tokenization, ' ' separator (the separator-safe
#: change from \x01), md5-60 hash. Bump it whenever any of those
#: changes so stale indexes fail LOUDLY instead of matching nothing.
GRAM_FORMAT = "space-md560-v1"

#: gramcounts: epoch-RANGED additive counts — probes and compaction
#: SUM-merge the live range. The stamp keeps its original `gram_format`
#: field and is STRICT: a manifest with no gram_format predates the
#: stamp, its keys were built under the old \x01 separator (or are of
#: unknown vintage), so it is refused too — zero silent-miss modes. The
#: explicit read schema covers an index where NO document reaches
#: min_len, which writes a data-file-less partitioned dir that schema
#: inference cannot read.
LAYOUT = Layout(
    ranged={
        "gramcounts": Ranged(
            partition=("gbucket",),
            schema="gram_h long, n long, gbucket int, epoch int",
            keys=("gram_h",),
            sums=("n",),
        )
    },
    key_format=GRAM_FORMAT,
    format_field="gram_format",
)


def _gram_counts(documents: DataFrame, min_len: int, n_buckets: int) -> DataFrame:
    """(gram_h, n, gbucket) — occurrence counts of the given documents'
    overlapping L-grams, derived from the SAME tokenization/windowing as
    inline xsd1 (dedup.substr_gram_frame — one definition)."""
    gh = md5_60(F.col("gram"))
    return (
        substr_gram_frame(documents, min_len=min_len)
        .select(gh.alias("gram_h"))
        .groupBy("gram_h")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("gbucket", F.pmod(F.col("gram_h"), F.lit(n_buckets)))
    )


def save_substr_index(
    documents: DataFrame,
    path: str,
    min_len: int = 10,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> None:
    """Materialize the corpus's gram counts once (atomic rebuild over a
    live index; manifest.rebuild)."""
    manifest.rebuild(
        path,
        LAYOUT,
        lambda e: manifest.write_epoch(
            _gram_counts(documents, min_len, n_buckets), path, LAYOUT, "gramcounts", e
        ),
        min_len=min_len,
        n_buckets=n_buckets,
    )


def load_substr_counts(spark, path: str) -> DataFrame:
    """The corpus-wide (gram_h, n) table — per-epoch counts of the
    committed [base_epoch, epoch] range SUMMED per gram (additive, so
    this is exactly a rebuild's table; manifest-resolved, so a racing
    update or compaction is invisible — old-or-new, never partial)."""
    m = manifest.checked_manifest(path, LAYOUT)
    return manifest.live(spark, path, m, LAYOUT, "gramcounts", merged=True)


def update_substr_index(
    new_documents: DataFrame, path: str, txn: tuple[str, int] | None = None
) -> None:
    """Fold a corpus APPEND: count ONLY the new documents' grams and
    commit them as a new epoch (manifest.append) — additivity makes the
    summed table EXACTLY what a rebuild over the full corpus would store
    (test-pinned). Precondition (as for any index append): new doc_ids
    are not already indexed."""
    manifest.append(
        path,
        LAYOUT,
        txn,
        lambda m: _gram_counts(
            new_documents, m["min_len"], m["n_buckets"]
        ).localCheckpoint(eager=True),
        lambda delta, m, e: manifest.write_epoch(delta, path, LAYOUT, "gramcounts", e),
    )


def compact_substr_index(spark, path: str) -> bool:
    """OPTIMIZE: SUM-merge the live [base_epoch, epoch] chain into one
    epoch (exact by additivity — a plain epoch union would double-store
    grams seen in several epochs) in one atomic manifest commit. Returns
    False when already compact."""
    return manifest.compact_epochs(spark, path, LAYOUT)


def xsd_indexed_dup_spans(documents: DataFrame, path: str) -> DataFrame:
    """The xsd1 duplicated-span readout for `documents` with duplication
    decided by the PERSISTED corpus counts — no corpus re-scan: probe
    docs contribute one map-only gram pass and one keyed join against
    the stored counts; the maximal-span rollup is the SAME
    coverage_spans tail inline xsd1 uses. Over the indexed corpus
    itself this is value-identical to the inline operator
    (test-pinned). Note the probe's own occurrences count only if the
    probe docs are indexed — the same "the corpus includes the doc"
    convention the inline operator has."""
    spark = documents.sparkSession
    L = manifest.checked_manifest(path, LAYOUT)["min_len"]
    grams = substr_gram_frame(documents, min_len=L).select(
        "doc_id", "n_tokens", "start", md5_60(F.col("gram")).alias("gram_h")
    )
    counts = load_substr_counts(spark, path)
    dup = (
        grams.join(counts, "gram_h")
        .filter(F.col("n") > 1)
        .select("doc_id", "n_tokens", "start")
    )
    return coverage_spans(dup, L)
