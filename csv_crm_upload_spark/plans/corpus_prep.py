"""End-to-end training-corpus preparation — the composed deliverable of
the LLM-data-pipeline family: every stage is one of the engine's
oracle-verified operators, chained into a single declarative plan.

    raw documents
      → near-dup removal        (dedup.d_component_labels — LSH
                                 connected components, canonical = min
                                 doc_id per cluster; consumes the
                                 persisted pair index when given)
      → quality-weighted keep   (textstats.mix2 gate: keep iff
                                 md5_60(doc_id)/2^60 < quality_score)
      → leakage-safe split      (textstats.split1 gate: hash-range
                                 80/10/10 — a pure function of doc_id,
                                 so corpus growth never moves a doc
                                 between splits)
      → sequence packing        (textstats.pack1 shape, streams keyed
                                 by (split, source[, shard]) — packing
                                 NEVER crosses a split boundary, the
                                 contamination guard batch construction
                                 needs)

The output is the packing MANIFEST: one row per surviving document with
its split, quality score, token count, stream offset, and training-bin
id. At 100 TB the whole pipeline is: one LSH pass (or a read of the
persisted pair index) + a broadcast anti-join riding the scan + two
map-only gates + one window per (split, source) stream — no stage adds
a corpus-wide shuffle beyond the ones its standalone operator already
pays.

Statistical note, explicit: the keep gate and the split gate both
derive from md5(doc_id) (each matching its standalone oracle-verified
operator exactly), so they are not independent draws; the split is
applied AFTER the keep decision and remains a pure function of doc_id,
which is the property that matters for leakage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import dedup as dd
from csv_crm_upload_spark.analytics.textstats import _quality_score_expr, _tokens


# canonical 60-bit id hash (kept under the historical local name — nbayes
# and the gate tests import it from here)
from csv_crm_upload_spark.functions.hashing import md5_60_id as _md5_60  # noqa: E402


def split_expr() -> F.Column:
    """The split1 hash-range assignment as a reusable Column."""
    gate = F.pmod(_md5_60(F.col("doc_id")), F.lit(100))
    return (
        F.when(gate < 80, F.lit("train"))
        .when(gate < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def prepare_training_corpus(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    pack_budget: int = 512,
    n_shards: int | None = None,
) -> DataFrame:
    """The packing manifest for a cleaned, split corpus. `pairs` feeds
    the dedup stage from a persisted candidate-pair index
    (dedup.save_dedup_index) — the build-once path a production run
    takes; omitted, the pairs derive inline."""
    # 1. near-dup removal: canonical member per LSH cluster survives
    labels = dd.d_component_labels(documents, pairs=pairs)
    drop = labels.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    deduped = documents.join(drop, "doc_id", "left_anti")

    # 2. quality-weighted keep (the mix2 gate, map-only)
    keep_gate = _md5_60(F.col("doc_id")).cast("double") / F.lit(float(1 << 60))
    kept = deduped.withColumn("quality_score", _quality_score_expr()).filter(
        keep_gate < F.col("quality_score")
    )

    # 3. leakage-safe split assignment (map-only)
    staged = kept.withColumn("split", split_expr())

    # 4. pack per (split, source[, shard]) stream — prefix-sum window
    base = staged.select(
        "doc_id",
        "source",
        "split",
        "quality_score",
        F.size(_tokens()).alias("n_tokens"),
    )
    stream_cols = ["split", "source"]
    if n_shards is not None and n_shards > 1:
        base = base.withColumn(
            "shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
        )
        stream_cols = ["split", "source", "shard"]
    w = (
        Window.partitionBy(*stream_cols)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    offset = (F.col("cum_tokens") - F.col("n_tokens")).cast("bigint")
    return cum.select(
        "doc_id",
        *stream_cols,
        "quality_score",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        offset.alias("stream_offset"),
        F.floor(offset / pack_budget).cast("bigint").alias("bin_id"),
    )


def write_training_corpus(
    documents: DataFrame,
    path: str,
    pairs: DataFrame | None = None,
    pack_budget: int = 512,
    n_shards: int | None = None,
) -> None:
    """Land the prepared corpus as FILES a trainer can read — the
    deliverable form of prepare_training_corpus (whose manifest rows it
    joins back to the surviving documents' text):

        {path}/manifest/                  the packing manifest (parquet)
        {path}/corpus/split=S/source=R/   packed rows WITH text, hive-
                                          partitioned by (split, source)

    Partitioning by split means no training bin can cross a split
    boundary ON DISK: a trainer (or a contamination audit) reads
    `split=train/` and physically cannot touch a val/test row, and
    split-filtered scans prune at plan time (PartitionFilters). Within
    a partition, rows carry (bin_id, stream_offset) so batch assembly
    is a sort, not a shuffle.

    The join back to `documents` is on doc_id — one shuffle of the
    surviving manifest against the corpus scan.
    Deterministic end to end (every stage is a pure function of
    doc_id/text), so a re-run OVERWRITES to the identical artifact —
    idempotence is asserted in tests."""
    manifest = prepare_training_corpus(
        documents, pairs=pairs, pack_budget=pack_budget, n_shards=n_shards
    )
    manifest.write.mode("overwrite").parquet(f"{path}/manifest")
    spark = documents.sparkSession
    manifest_back = spark.read.parquet(f"{path}/manifest")  # reuse, don't recompute
    packed = manifest_back.join(
        documents.select("doc_id", "text"), "doc_id"
    )
    packed.write.mode("overwrite").partitionBy("split", "source").parquet(f"{path}/corpus")


def prepare_training_corpus_v2(
    documents: DataFrame,
    lang: str = "en",
    span: int = 8,
    pack_budget: int = 512,
) -> DataFrame:
    """The round-5 composition — the modern monolingual corpus-prep
    pipeline, every stage an oracle-verified operator:

        raw documents
          → span-level cleaning    (dedup.linedd1_span_dedup — repeated
                                    8-token spans EXCISED, not the doc
                                    dropped; empty survivors removed)
          → self-trained langid    (nbayes.nb_inline_predictions over
                                    the RAW corpus; keep pred == lang —
                                    the fastText-style language filter)
          → quality-weighted keep  (the mix2 gate over the CLEANED text)
          → leakage-safe split     (split1 hash gate, pure fn of doc_id)
          → sequence packing       (per (split, source) stream)

    Output manifest: (doc_id, split, source, quality_score, n_tokens,
    stream_offset, bin_id) over CLEANED token counts.

    Scale: stage 1 pays span dedup's two shuffles, stage 2 NB's three;
    the gates are map-only and packing is one window per stream — no
    stage adds a corpus-wide shuffle beyond its standalone operator
    (pinned by the prep budgets test pattern)."""
    from csv_crm_upload_spark.analytics.nbayes import nb_inline_predictions

    # 1. span-level cleaning; survivors keep their cleaned text AS text
    cleaned = (
        documents.select("doc_id", "source")
        .join(
            dd.linedd1_span_dedup(documents, span=span).select(
                "doc_id", "cleaned_text"
            ),
            "doc_id",
        )
        .filter(F.col("cleaned_text") != "")
        .select("doc_id", "source", F.col("cleaned_text").alias("text"))
    )

    # 2. langid filter: NB self-trained on the raw corpus
    keep_ids = (
        nb_inline_predictions(documents)
        .filter(F.col("cand") == lang)
        .select("doc_id")
    )
    endocs = cleaned.join(keep_ids, "doc_id", "left_semi")

    # 3. quality gate over the cleaned text (mix2's hash gate)
    keep_gate = _md5_60(F.col("doc_id")).cast("double") / F.lit(float(1 << 60))
    kept = endocs.withColumn("quality_score", _quality_score_expr()).filter(
        keep_gate < F.col("quality_score")
    )

    # 4. split + 5. pack (prep1's tail, cleaned token counts)
    staged = kept.withColumn("split", split_expr())
    base = staged.select(
        "doc_id",
        "source",
        "split",
        "quality_score",
        F.size(_tokens()).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("split", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    offset = (F.col("cum_tokens") - F.col("n_tokens")).cast("bigint")
    return cum.select(
        "doc_id",
        "split",
        "source",
        "quality_score",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        offset.alias("stream_offset"),
        F.floor(offset / pack_budget).cast("bigint").alias("bin_id"),
    )


def prepare_training_corpus_v3(
    documents: DataFrame,
    max_dup_fraction: float = 0.5,
    eta: float = 1.0,
    smooth: float = 0.1,
) -> DataFrame:
    """The round-7 composition — a FineWeb-style curation cascade
    (Penedo et al. 2024, arXiv:2406.17557) built entirely from this
    round's oracle-verified operators:

        raw documents
          → Gopher rule gate        (textstats.gq1_gopher_quality:
                                     keep == true)
          → ExactSubstr gate        (dedup.xsd1_exact_substring_dedup:
                                     drop docs with dup_fraction >
                                     max_dup_fraction; docs with no
                                     duplicated span pass)
          → near-dup blacklist      (dedup.d_minhash_lsh_pairs over the
                                     RAW corpus — pairs are a property
                                     of content, not of gate order; the
                                     HIGHER doc_id of every verified
                                     pair drops, the lower-id-wins
                                     convention)
          → DoReMi reweighting      (textstats.drm1_doremi_weights over
                                     the SURVIVING corpus)
          → exact doc apportionment (largest-remainder allocation of
                                     the survivor count N by the 6-dp
                                     weights: base = (N·w_int) div z,
                                     +1 for the top-(N − Σ base)
                                     remainders — Σ alloc_docs = N
                                     EXACTLY, pure int64 arithmetic;
                                     exact while N·10⁶ < 2⁶³, i.e. to
                                     ~9·10¹² surviving docs — beyond
                                     that, lift to DECIMAL(38,0))

    Output per source: (source, n_docs, n_tokens, weight, alloc_docs) —
    the sampling manifest a trainer feeds its data loader.

    Scale: the cascade pays exactly its standalone operators' shuffles
    (gq1 none; xsd1 its gram-key + doc-key pair; LSH its bucket
    shuffle; drm1 its two keyed aggs) + three semi/anti joins riding
    the scan; the allocation runs windows over the |sources|-row
    rollup only (the mix4 precedent)."""
    from csv_crm_upload_spark.analytics.textstats import (
        drm1_doremi_weights,
        gq1_gopher_quality,
    )

    gq_keep = gq1_gopher_quality(documents).filter(F.col("keep")).select("doc_id")
    too_dup = (
        dd.xsd1_exact_substring_dedup(documents)
        .filter(F.col("dup_fraction") > max_dup_fraction)
        .select("doc_id")
    )
    drop_b = (
        dd.d_minhash_lsh_pairs(documents)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # Materialization point (the xsrc1/sdd1 precedent): the gate cascade
    # (three joins over the gq1/xsd1/LSH subtrees) feeds TWO consumers —
    # drm1's token aggs and the per-source doc count. Without pinning it,
    # each consumer replans the whole cascade (the plan audit measured
    # 77 exchanges); checkpointed once, downstream pays only its own
    # aggs. At 100 TB this is the standard persist-the-curated-corpus
    # step every cascade pipeline takes before fan-out anyway.
    survivors = (
        documents.join(gq_keep, "doc_id", "left_semi")
        .join(too_dup, "doc_id", "left_anti")
        .join(drop_b, "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    wts = drm1_doremi_weights(survivors, eta=eta, smooth=smooth)
    per_src = survivors.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    j = wts.join(per_src, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "weight",
        F.round(F.col("weight") * 1e6, 0).cast("long").alias("_w_int"),
    )
    w_all = Window.partitionBy()
    staged = j.select(
        "source",
        "n_docs",
        "n_tokens",
        "weight",
        "_w_int",
        F.sum("n_docs").over(w_all).cast("long").alias("_n_total"),
        F.sum("_w_int").over(w_all).cast("long").alias("_z"),
    ).withColumn(
        "_base", F.expr("(_n_total * _w_int) div _z")
    ).withColumn(
        "_rmd", F.col("_n_total") * F.col("_w_int") - F.col("_base") * F.col("_z")
    )
    w_rk = Window.partitionBy().orderBy(F.col("_rmd").desc(), "source")
    ranked = staged.withColumn("_rk", F.row_number().over(w_rk)).withColumn(
        "_deficit", F.col("_n_total") - F.sum("_base").over(w_all)
    )
    return ranked.select(
        "source",
        "n_docs",
        "n_tokens",
        "weight",
        (
            F.col("_base")
            + F.when(F.col("_rk") <= F.col("_deficit"), 1).otherwise(0)
        ).cast("long").alias("alloc_docs"),
    ).orderBy("source")
