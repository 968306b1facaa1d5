"""Distributed BPE tokenizer training (fixed merge steps) — the
vocabulary-induction step of a training-data pipeline (Sennrich et al.
2016, arXiv:1508.07909): learn the S most frequent adjacent-symbol
merges over the corpus vocabulary.

Spark shape (the reason BPE distributes well):
  * training runs over the VOCABULARY (distinct word, frequency) — one
    combining shuffle collapses the corpus to its word list, and every
    later step touches only that vocab table (mem-bounded: vocab grows
    ~log corpus);
  * each merge step is one map pass (bigram explode over the spaced
    symbol string) + one combining groupBy to pair counts, then a
    1-ROW driver collect of the argmax pair — the bounded
    scalar-per-iteration pattern of kmeans1/pr1;
  * applying a merge is a literal string replace riding the next scan —
    no join, no shuffle.

Cross-engine determinism (oracle-paired, like kmeans1): the greedy
leftmost non-overlapping merge is exactly `replace()` semantics on a
LEADING-space symbol encoding (' l o w'; the pattern ' x y' consumes
its own leading space so a replacement can never overlap the next
match — both engines' replace scans left-to-right and resumes after
the replacement); argmax ties break (count DESC, left, right) in both
engines; counts are exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.fanout import fan_out
from csv_crm_upload_spark.analytics.textstats import norm_tokens
from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout


def _spaced_symbols(word: F.Column) -> F.Column:
    """' l o w' — every character prefixed by a space (the leading-space
    encoding the merge replace depends on)."""
    return F.regexp_replace(word, "(.)", " $1")


def _word_freqs(documents: DataFrame) -> DataFrame:
    """(word, freq) — the frequency-weighted vocabulary: ONE combining
    shuffle collapses the corpus to its word list; every later BPE pass
    touches only this table (vocab grows ~log corpus)."""
    return (
        fan_out(documents.filter(F.col("text").isNotNull() & (F.trim(F.col("text")) != "")))
        .select(F.explode(norm_tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _learn_merges(vocab: DataFrame, steps: int) -> list[tuple[int, str, str, int]]:
    """The Sennrich merge loop over a (word, freq) vocabulary — per
    step: one map pass (bigram explode over the spaced symbol string) +
    one combining groupBy to pair counts + a 1-ROW argmax collect; the
    winning merge rides the next pass as a literal replace. Deterministic
    given the vocabulary (ties break count DESC, then pair), which is
    what makes the persisted model's incremental ≡ rebuild contract
    bit-exact: additive word counts → same vocab → same merges."""
    base = vocab.select(
        _spaced_symbols(F.col("word")).alias("s"), "freq"
    ).persist()
    cur = base
    try:
        merges: list[tuple[int, str, str, int]] = []
        for step in range(1, steps + 1):
            syms = F.split(F.substring(F.col("s"), 2, 1 << 30), " ")
            starts = F.sequence(F.lit(1), F.size(syms) - 1)
            pair = F.concat_ws(
                "\x01",
                F.element_at(syms, F.col("i")),
                F.element_at(syms, F.col("i") + 1),
            )
            best = (
                cur.filter(F.size(syms) >= 2)
                .select("freq", F.explode(starts).alias("i"), F.col("s"))
                .select("freq", pair.alias("pair"))
                .groupBy("pair")
                .agg(F.sum("freq").cast("bigint").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "pair")
                .limit(1)
                .collect()
            )
            if not best:
                break
            left, right = best[0]["pair"].split("\x01")
            merges.append((step, left, right, int(best[0]["cnt"])))
            cur = cur.select(
                F.replace(
                    F.col("s"),
                    F.lit(f" {left} {right}"),
                    F.lit(f" {left}{right}"),
                ).alias("s"),
                "freq",
            )
        return merges
    finally:
        base.unpersist()


def bpe1_merge_steps(documents: DataFrame, steps: int = 3) -> DataFrame:
    """The first `steps` BPE merges learned from the documents corpus —
    (step, left, right, n_occurrences): at each step the most frequent
    adjacent symbol pair across the frequency-weighted vocabulary is
    merged everywhere and the next step recounts.

    n_occurrences is the pair count that drove the argmax: adjacent
    symbol pairs counted the way Sennrich's get_stats counts them
    (every adjacent position, so 'a a a' counts (a,a) twice), weighted
    by word frequency; the APPLY is greedy leftmost non-overlapping,
    also per the reference implementation.
    """
    merges = _learn_merges(_word_freqs(documents), steps)
    spark = documents.sparkSession
    return spark.createDataFrame(
        merges, "step int, left string, right string, n_occurrences bigint"
    )


def bpe2_segment(
    documents: DataFrame,
    steps: int = 3,
    rules: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Tokenizer INFERENCE: apply ordered BPE merges (greedy leftmost
    non-overlapping — the same replace encoding as training) to every
    word occurrence and report per-doc segmentation stats —
    (doc_id, n_words, n_chars_tokenized, n_tokens): n_tokens is the
    doc's symbol count under the trained tokenizer (== n_chars before
    any merge; each applied merge occurrence removes one symbol), the
    compression readout a tokenizer sweep grades.

    `rules` is the train-once/apply-many path: pass the (left, right)
    list a prior `bpe1_merge_steps(...).collect()` learned (in step
    order) and NO training pass runs — the corpus is scanned exactly
    once. When omitted, the first `steps` merges are (re)learned from
    `documents` first — the self-contained oracle-paired form.

    Scale shape: training (when it runs) is bpe1 (vocab-bounded);
    application is MAP-ONLY — chained literal replaces riding the doc
    scan, then one combining groupBy(doc_id). The merge rules ride into
    the plan as literals (the broadcast-centroid pattern of kmeans)."""
    if rules is None:
        rules = [
            (r["left"], r["right"])
            for r in bpe1_merge_steps(documents, steps).orderBy("step").collect()
        ]
    words = fan_out(documents.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )).select("doc_id", F.explode(norm_tokens()).alias("word"))
    s = _spaced_symbols(F.col("word"))
    for left, right in rules:
        s = F.replace(s, F.lit(f" {left} {right}"), F.lit(f" {left}{right}"))
    toks = F.split(F.substring(s, 2, 1 << 30), " ")
    return (
        words.select(
            "doc_id",
            F.length("word").alias("n_chars"),
            F.size(toks).alias("n_toks"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_chars").cast("bigint").alias("n_chars_tokenized"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


def bpe3_vocab_coverage(documents: DataFrame, steps: int = 3) -> DataFrame:
    """Tokenizer coverage readout — the acceptance metric of a tokenizer
    sweep: of all word OCCURRENCES in the corpus, how many are fully
    merged to a single vocabulary symbol by the learned merges
    (`n_fully_merged`), with the corpus-wide coverage rate. A tokenizer
    whose top merges cover little of the corpus wastes sequence length.

    One row: (n_words, n_fully_merged, coverage_rate ROUND 6 — integer
    ratio, engine-exact). Application is map-only chained replaces
    riding the scan; the readout is one 1-row aggregate."""
    rules = [
        (r["left"], r["right"])
        for r in bpe1_merge_steps(documents, steps).orderBy("step").collect()
    ]
    words = fan_out(documents.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )).select(F.explode(norm_tokens()).alias("word"))
    s = _spaced_symbols(F.col("word"))
    for left, right in rules:
        s = F.replace(s, F.lit(f" {left} {right}"), F.lit(f" {left}{right}"))
    n_toks = F.size(F.split(F.substring(s, 2, 1 << 30), " "))
    return words.select(
        (n_toks == 1).cast("int").alias("full")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("full").cast("long").alias("n_fully_merged"),
        F.round(
            F.sum("full").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("coverage_rate"),
    )


def bpe4_lang_fertility(
    documents: DataFrame,
    steps: int = 3,
    rules: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Per-language tokenizer FERTILITY — tokens per word occurrence
    under the learned merges, the cross-lingual equity metric of a
    tokenizer sweep (a vocabulary trained on the majority language
    fragments minority-language words into more symbols, inflating
    their effective sequence length and training cost): (lang, n_words,
    n_tokens, fertility), fertility = n_tokens/n_words rounded 6 dp
    from the exact integer sums.

    `rules` as in bpe2_segment (pass a persisted model's rules to skip
    the training pass). Application is map-only chained replaces riding
    the scan; the readout is one lang-keyed combining aggregate."""
    if rules is None:
        rules = [
            (r["left"], r["right"])
            for r in bpe1_merge_steps(documents, steps).orderBy("step").collect()
        ]
    words = fan_out(documents.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )).select("lang", F.explode(norm_tokens()).alias("word"))
    s = _spaced_symbols(F.col("word"))
    for left, right in rules:
        s = F.replace(s, F.lit(f" {left} {right}"), F.lit(f" {left}{right}"))
    n_toks = F.size(F.split(F.substring(s, 2, 1 << 30), " "))
    return (
        words.select("lang", n_toks.alias("n_toks"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.round(
                F.sum("n_toks").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Persisted BPE tokenizer model — train once / tokenize many, with
# O(new docs) appends. The persisted state is the frequency-weighted
# VOCABULARY (word, freq) — counts are ADDITIVE, so folding a corpus
# shard is one vocab-sized merge pass (never a re-scan of the trained
# corpus) — plus the merge table relearned FROM that vocab (the
# vocab-bounded Sennrich loop, ~log-corpus rows). Incremental ≡ rebuild
# is bit-exact: same summed counts → same vocab → same deterministic
# merges. Every epoch is a fully-merged snapshot (base_epoch == epoch,
# the NB-model layout). CLI `bpe-train` (build or `--append`) reclaims
# the snapshots it supersedes with manifest.gc_stale_epochs after its
# commit; library callers of save_bpe_model/update_bpe_model call it
# themselves.
# ---------------------------------------------------------------------------

LAYOUT = Layout(snapshots={"vocab": (), "merges": ()})

_MERGES_SCHEMA = "step int, left string, right string, n_occurrences bigint"


def _write_snapshot(spark, vocab: DataFrame, path: str, epoch: int, steps: int) -> None:
    """Land one fully-merged model snapshot (vocab + merges relearned
    from it) as epoch dirs — no commit. Merges are learned from the
    vocab FILES just written, so the train loop re-reads a materialized
    table per step instead of recomputing the delta-merge lineage."""
    manifest.write_epoch(vocab, path, LAYOUT, "vocab", epoch)
    landed = spark.read.parquet(f"{path}/vocab/epoch={epoch}")
    merges = spark.createDataFrame(_learn_merges(landed, steps), _MERGES_SCHEMA)
    manifest.write_epoch(merges, path, LAYOUT, "merges", epoch)


def save_bpe_model(documents: DataFrame, path: str, steps: int = 3) -> None:
    """Persist the BPE tokenizer: the (word, freq) vocabulary and the
    learned (step, left, right, n_occurrences) merge table, both
    epoch-versioned (atomic rebuild over a live model; manifest.rebuild
    commits a fresh epoch above the old chain)."""
    spark = documents.sparkSession
    manifest.rebuild(
        path,
        LAYOUT,
        lambda e: _write_snapshot(spark, _word_freqs(documents), path, e, steps),
        steps=steps,
    )


def update_bpe_model(new_documents: DataFrame, path: str) -> None:
    """Fold a corpus APPEND into the tokenizer (manifest.append):
    tokenize ONLY the new docs, sum their word counts into the next
    fully-merged vocab snapshot (a vocab-sized pass), relearn the merges
    from the merged vocab, and commit atomically. A delta with no text
    is a no-op.

    Precondition (caller's dedup responsibility): new doc_ids are not
    already trained on — double-folding a shard double-counts it.
    """
    spark = new_documents.sparkSession

    def write(delta: DataFrame, m: dict, nxt: int) -> None:
        merged = (
            spark.read.parquet(f"{path}/vocab/epoch={m['epoch']}")
            .unionByName(delta)
            .groupBy("word")
            .agg(F.sum("freq").cast("bigint").alias("freq"))
        )
        _write_snapshot(spark, merged, path, nxt, m["steps"])

    manifest.append(path, LAYOUT, lambda m: _word_freqs(new_documents), write)


def load_bpe_rules(spark, path: str) -> list[tuple[str, str]]:
    """The model's ordered merge rules — the bounded collect every
    apply path rides (`steps` rows; merges enter the tokenize plan as
    literal replaces, the broadcast-centroid pattern)."""
    epoch = manifest.read_manifest(path)["epoch"]
    return [
        (r["left"], r["right"])
        for r in spark.read.parquet(f"{path}/merges/epoch={epoch}")
        .orderBy("step")
        .collect()
    ]


def segment_with_bpe_model(documents: DataFrame, path: str) -> DataFrame:
    """Tokenize arbitrary docs with the PERSISTED model — bpe2_segment's
    readout, but the training pass never runs: the corpus is scanned
    exactly once (map-only chained replaces + one combining groupBy)."""
    spark = documents.sparkSession
    return bpe2_segment(documents, rules=load_bpe_rules(spark, path))
