"""Text analysis over the `documents` table — language-ID heuristic,
quality scoring, token counting, document fingerprinting. All pure Column
expressions (JVM-side, codegen'd): no Python UDFs in any hot path, so
these scan-shaped jobs stay embarrassingly parallel at 100 TB.

Cross-engine notes: token splitting uses a regex both Spark and DuckDB
implement identically; fingerprints are md5 of normalized text (identical
hex in both engines); ratios are rounded to fixed decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.functions.hashing import md5_60, md5_60_id
from csv_crm_upload_spark.analytics.fanout import fan_out
from csv_crm_upload_spark.analytics.ordered import (
    grouped_ntile_expr,
    ntile,
    rank2x,
    running,
    value_counts,
)

# deterministic English stopword markers for the lang-ID heuristic
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


#: The ONE whitespace character class shared verbatim by the MG sketch
#: (Python regex), the mgrec1 Spark recount (Java regex), and the
#: mgrec1 DuckDB oracle (RE2 regex) — spelled out because the engines'
#: \s classes disagree on \x0B (advice r11). All three regex dialects
#: read this string identically.
MG_WS = r"[ \t\n\x0B\f\r]"


def _tokens(col: str = "text") -> F.Column:
    """Whitespace tokenization of trimmed text; empty text → empty array."""
    t = F.trim(F.col(col))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def t1_token_count(documents: DataFrame) -> DataFrame:
    """Whitespace + word-regex token counts per document."""
    return documents.select(
        "doc_id",
        F.size(_tokens()).alias("n_tokens"),
        # BPE-ish: words, numbers, or single non-space symbols
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)).alias(
            "n_bpeish_tokens"
        ),
        F.length("text").alias("n_chars_actual"),
    )


def _quality_score_expr() -> F.Column:
    """The composite quality score as a standalone Column (shared by
    t2_quality_score and the quality-weighted sampler)."""
    toks = _tokens()
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0))
    punct_ratio = F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6)
    # EXACT-integer form of round(min(n,100)/100 * (1 - p6), 6): with
    # p6 a 6-dp value, the product has <= 8 decimal digits, so e.g.
    # n=15, p6=0.02439 lands EXACTLY on 0.1463415 — a half-way point
    # where Spark's HALF_UP and DuckDB's double round() disagree (found
    # by fuzz seed 123). score_e8 = min(n,100)·(1e6 − p6·1e6) is an
    # exact int64 <= 1e8; (score_e8 + 50) div 100 is decimal HALF_UP at
    # 6 dp in pure integer arithmetic, identical in both engines.
    p6_e6 = F.round(punct_ratio * F.lit(1000000.0), 0).cast("long")
    score_e8 = F.least(n_tokens, F.lit(100)).cast("long") * (
        F.lit(1000000).cast("long") - p6_e6
    )
    return F.when(n_tokens < 5, F.lit(0.0)).otherwise(
        F.floor((score_e8 + F.lit(50)).cast("double") / F.lit(100.0)).cast("double")
        / F.lit(1000000.0)
    )


def t2_quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality features: length, punctuation ratio, stopword
    ratio, mean token length — and a composite score. Mirrors the classic
    C4/Gopher-style filters in spirit; thresholds are illustrative."""
    toks = _tokens()
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0))
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(EN_STOPWORDS)))
    punct_ratio = F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)), 6)
    mean_tok_len = F.round(
        (n_chars - n_tokens + 1).cast("double") / F.greatest(n_tokens, F.lit(1)), 6
    )
    score = _quality_score_expr()
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_tok_len.alias("mean_token_len"),
        score.alias("quality_score"),
    )


def t3_lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-marker language heuristic: English-stopword token ratio;
    >= 0.08 → 'en' else 'other'. (The corpus vocabulary is synthetic, so
    this demonstrates the operator shape — ratio + threshold argmax — not
    linguistic accuracy.)"""
    toks = _tokens()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(EN_STOPWORDS)))
    ratio = F.round(n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)), 6)
    return documents.select(
        "doc_id",
        "lang",
        ratio.alias("en_stopword_ratio"),
        F.when(ratio >= 0.08, F.lit("en")).otherwise(F.lit("other")).alias("lang_pred"),
    )


def t4_fingerprint(documents: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 over whitespace-normalized
    lowercased text — the exact-dedup key and the cheap shard-stable
    content id at scale."""
    normalized = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return documents.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.substring(F.md5(normalized), 1, 8).alias("fingerprint_short"),
    )


# PII patterns: conservative character classes that parse identically in
# Java regex (Spark) and RE2 (DuckDB) — no lookaround, no backrefs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9-]{6,}[0-9]"


def t5_redact_pii(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing — the mandatory pre-training hygiene pass: replace
    email addresses and phone-like digit runs with typed placeholders and
    count redactions per row. Pure regexp_replace/extract_all Column
    expressions: JVM codegen, scan-shaped, no shuffle — the cheapest
    possible full-corpus pass at 100 TB."""
    emails = F.size(F.regexp_extract_all(F.col(col), F.lit(EMAIL_RE), 0))
    phones_after_email = F.regexp_replace(F.col(col), EMAIL_RE, "<EMAIL>")
    phones = F.size(F.regexp_extract_all(phones_after_email, F.lit(PHONE_RE), 0))
    redacted = F.regexp_replace(phones_after_email, PHONE_RE, "<PHONE>")
    return df.select(
        id_col,
        redacted.alias("redacted"),
        emails.cast("int").alias("n_emails"),
        phones.cast("int").alias("n_phones"),
    )


def t6_char_entropy(documents: DataFrame) -> DataFrame:
    """Character-level Shannon entropy per document (log2) — the classic
    gibberish/boilerplate detector in corpus quality filtering.

    Implemented as a VECTORIZED pandas_udf: this is the sanctioned escape
    hatch when per-row computation doesn't decompose into Column algebra
    (a per-string histogram) — Arrow batches in, numpy per batch, no
    row-at-a-time Python. Scan-shaped, embarrassingly parallel; at 100 TB
    the only cost over a JVM builtin is the Arrow serialization of the
    text column."""
    import math

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _entropy_batch(texts):
        from collections import Counter

        def one(s):
            if s is None or len(s) == 0:
                return None
            counts = Counter(s)
            n = len(s)
            # fsum: summation-order-stable to the last ulp (parity with
            # the oracle's aggregate requires better than naive float sum)
            return round(-math.fsum((c / n) * math.log2(c / n) for c in counts.values()), 6)

        return texts.map(one)

    # real type objects (not strings): `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf can't resolve
    _entropy_batch.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    entropy = pandas_udf(_entropy_batch, "double")

    return fan_out(documents.filter(F.col("text").isNotNull() & (F.length("text") > 0))).select(
        "doc_id", entropy(F.col("text")).alias("char_entropy")
    )


def t7_vocab_topk(documents: DataFrame, k: int = 100, min_df: int = 2) -> DataFrame:
    """Corpus vocabulary building — the BPE/tokenizer-training precursor:
    token -> (term frequency, document frequency), top-k by tf. One
    explode + one aggregation (map-side combine on the token key); the
    min_df floor drops hapaxes before the top-k sort so the final order-by
    touches only the surviving vocabulary."""
    toks = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id", F.explode(_tokens()).alias("tok")
    ).withColumn("tok", F.lower(F.col("tok")))
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .filter(F.col("df") >= min_df)
        .orderBy(F.col("tf").desc(), F.col("tok"))
        .limit(k)
    )


def t8_bigrams_udtf(spark, documents: DataFrame) -> DataFrame:
    """Word bigrams with positions via a Python UDTF (table function) —
    the one-row-in/many-rows-out UDF surface, driven through SQL LATERAL.

    API-surface demonstration: the production path for n-gram expansion is
    the Column-algebra shingle builder in analytics/dedup.py (JVM codegen,
    no Python); a UDTF is the escape hatch when the row-to-rows logic
    genuinely needs Python. Still partition-parallel: each executor runs
    the UDTF over its split of the scan."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, bigram string")
    class Bigrams:
        def eval(self, text):
            if text is None:
                return
            toks = text.strip().lower().split()
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    spark.udtf.register("bigrams_udtf", Bigrams)
    documents.createOrReplaceTempView("_t8_docs")
    return spark.sql(
        "SELECT d.doc_id, b.pos, b.bigram "
        "FROM _t8_docs d, LATERAL bigrams_udtf(d.text) b "
        "WHERE d.text IS NOT NULL"
    )


def t9_top_tokens_per_source(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k tokens per document source: explode → (source, token) counts
    → per-source rank window. Composition surface (aggregate feeding a
    window) and the per-shard vocabulary diagnostic in corpus curation.
    Two shuffles total: the count groupBy and the rank partitionBy —
    both on bounded-cardinality keys."""
    from pyspark.sql import Window

    counts = (
        fan_out(documents.filter(F.col("text").isNotNull()))
        .select("source", F.explode(_tokens()).alias("tok"))
        .withColumn("tok", F.lower(F.col("tok")))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("tok"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("source", "tok", "n", "rank")
    )


def hh1_heavy_hitter_tokens(documents: DataFrame, k: int = 200, threshold_k: int = 100) -> DataFrame:
    """Misra–Gries heavy hitters over the corpus token stream — the
    bounded-memory frequent-items sketch: each partition keeps at most k
    counters (one Arrow pass over its rows, O(k) memory regardless of
    vocabulary size), partial summaries merge by grouped summation, and
    tokens whose merged lower-bound count exceeds N/threshold_k are
    reported.

    Guarantee (inherited from MG mergeability, Agarwal et al. 2012): a
    per-partition summary undercounts by at most N_p/k, so the merged
    lower bound undercounts by at most N/k in total — any token with
    true frequency > N/threshold_k + N/k is guaranteed to be reported,
    with its reported count within N/k of truth. Deliberately NO SQL
    oracle (the surviving counter set depends on partition stream order,
    like any streaming sketch); the guarantee is pinned by a property
    test instead. At 100 TB: vocabulary can exceed executor memory, so
    the exact t7 groupBy is the verifier and THIS is the scan-time
    monitor."""
    import re

    import pandas as pd

    # ONE explicit whitespace class on every surface (advice r11): each
    # engine's \s differs at the edges — Python re.ASCII \s and Java \s
    # include vertical tab \x0B, DuckDB's RE2 \s is [\t\n\f\r ] — so a
    # document containing \x0B would tokenize differently in the oracle
    # recount than in this sketch. MG_WS spells the class out verbatim
    # for the Python regex, the Spark split, and the DuckDB
    # string_split_regex (sketch_audit.MGREC1_WS_SQL), so no engine's
    # \s semantics can sneak in. Unstripped split + empty-fragment drop
    # replaces trim (Python's strip is unicode-whitespace; Spark's trim
    # strips only 0x20).
    _ws = re.compile(MG_WS + "+")

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["text"]:
                if text is None:
                    continue
                for tok in (t for t in _ws.split(text.lower()) if t):
                    if tok in counters:
                        counters[tok] += 1
                    elif len(counters) < k:
                        counters[tok] = 1
                    else:
                        for key in list(counters):
                            counters[key] -= 1
                            if counters[key] == 0:
                                del counters[key]
        yield pd.DataFrame(
            {"tok": list(counters), "lb": list(counters.values())}
            if counters
            else {"tok": pd.Series([], dtype=str), "lb": pd.Series([], dtype="int64")}
        )

    summaries = documents.select("text").mapInPandas(mg_partition, "tok string, lb long")
    # n_total must count the SAME token stream the MG loop consumed
    # (advice r11): _tokens() trims only 0x20, so text starting with
    # \t/\n kept a leading empty fragment and inflated N past the
    # stream the sketch saw — split on MG_WS and drop empty fragments
    # instead, exactly the mg_partition tokenizer. NULL text → NULL
    # size, skipped by SUM, matching the loop's None skip.
    total = documents.select(
        F.size(F.filter(F.split(F.col("text"), MG_WS + "+"), lambda t: t != "")).alias(
            "nt"
        )
    ).agg(F.sum("nt").alias("n_total"))
    return (
        summaries.groupBy("tok")
        .agg(F.sum("lb").alias("est_count"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("est_count") * threshold_k > F.col("n_total"))
        .select("tok", "est_count", "n_total")
        .orderBy(F.col("est_count").desc(), F.col("tok"))
    )


def t10_tfidf_top_terms(documents: DataFrame, k: int = 3, min_df: int = 2) -> DataFrame:
    """TF-IDF keyword extraction: each document's top-k terms by
    tf · (ln((N+1)/(df+1)) + 1) (smoothed idf), hapaxes dropped by the
    min_df floor. The relevance-scoring primitive behind corpus search
    and topic labeling.

    Plan shape: one explode + two aggregations (tf on (doc, tok), df on
    tok — both map-side combining) + one broadcast of the 1-row corpus
    count + a per-doc rank window. Scores are rounded BEFORE ranking so
    the top-k is deterministic cross-engine (tiebreak on the token)."""
    from pyspark.sql import Window

    has_text = F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    toks = (
        fan_out(documents.filter(has_text))
        .select("doc_id", F.explode(_tokens()).alias("tok"))
        .withColumn("tok", F.lower(F.col("tok")))
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.filter(has_text).agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .filter(F.col("df") >= min_df)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
                4,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "tok", "tf", "df", "tfidf", "rank")
    )


def samp1_stratified_sample(documents: DataFrame, k: int = 50) -> DataFrame:
    """EXACT-size deterministic stratified sampling: k documents per
    source, chosen by md5(doc_id) pseudo-random order — the complement of
    mix1's rate-gating (which keeps a deterministic fraction, not a fixed
    count). Reproducible across runs and engines: the hash order is a
    pure function of the keys, no RNG state. One rank window per source
    partition."""
    from pyspark.sql import Window

    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(F.col("_h"), F.col("doc_id"))
    return (
        documents.select("doc_id", "source", "lang", "n_chars")
        .withColumn("_h", h)
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= k)
        .select("doc_id", "source", "lang", "n_chars", "sample_rank")
    )


def samp2_weighted_reservoir(documents: DataFrame, k: int = 10) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES
    keys), k docs per source: each document draws a deterministic
    pseudo-uniform u from md5(doc_id) and races with key −ln(u)/w — an
    exponential draw with rate w — and the k SMALLEST keys per source
    win. Distributionally equivalent to sequential weighted sampling
    without replacement, but embarrassingly parallel: one map stage for
    the keys + one per-source top-k window. (The A-ES key is exactly
    what a streaming weighted-reservoir maintains; ranking all keys at
    once is its batch formulation.)

    Weight = n_chars (longer documents proportionally likelier),
    floored at 1. Determinism: u is md5-derived (engine-identical
    integer → same IEEE double both engines), ln agreement across
    engines follows the bm25/t10 idf precedent, and keys round to 6 dp
    BEFORE ranking with a doc_id tiebreak (the repo's total-order
    convention)."""
    from pyspark.sql import Window

    h = md5_60_id(F.col("doc_id")).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(1 << 60))
    wgt = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    key = F.round(-F.log(u) / wgt, 6)
    win = Window.partitionBy("source").orderBy(F.col("samp_key").asc(), F.col("doc_id"))
    return (
        documents.select("doc_id", "source", "n_chars")
        .withColumn("samp_key", key)
        .withColumn("sample_rank", F.row_number().over(win).cast("int"))
        .filter(F.col("sample_rank") <= k)
    )


# corpus mixing rates: source -> keep percentage (out of 100)
MIXTURE_RATES = {"src0": 100, "src1": 80, "src2": 60, "src3": 30}
DEFAULT_RATE = 50


def mix1_corpus_mixture(documents: DataFrame, rates: dict | None = None) -> DataFrame:
    """Deterministic stratified corpus sampling — the data-mixing step of
    a training pipeline (per-source keep rates, e.g. downsample web,
    keep all wiki). Sampling is HASH-GATED, not RNG-gated: a doc is kept
    iff pmod(md5_60(doc_id), 100) < rate[source]. Deterministic across
    retries, engines, and cluster sizes (no seed plumbing, no
    partition-order sensitivity — the properties Bernoulli sample() can't
    give you), and map-only: a pure filter that pushes down to the scan
    at 100 TB."""
    rates = rates or MIXTURE_RATES
    gate = F.pmod(md5_60_id(F.col("doc_id")), F.lit(100))
    rate_col = F.lit(DEFAULT_RATE)
    for src, pct in sorted(rates.items()):
        rate_col = F.when(F.col("source") == src, F.lit(pct)).otherwise(rate_col)
    return (
        documents.withColumn("_gate", gate)
        .withColumn("_rate", rate_col)
        .filter(F.col("_gate") < F.col("_rate"))
        .select("doc_id", "source", "lang", "n_chars")
    )


def pack1_sequence_packing(
    documents: DataFrame, budget: int = 512, n_shards: int | None = None
) -> DataFrame:
    """Sequence packing for training-batch construction: concatenate each
    source's documents (deterministic doc_id order) into a token stream
    and cut it into fixed-budget bins — every doc gets its stream offset
    and the bin its first token lands in (GPT-style packing with
    documents crossing bin boundaries, the standard high-utilization
    packing).

    One window pass per stream partition (prefix sum), no shuffle beyond
    the stream partitioning — each stream packs independently and in
    parallel. A window partition is ONE task's worth of rows, so a single
    giant source would serialize into one partition; pass `n_shards` to
    split every source into `doc_id % n_shards` sub-streams with
    per-shard offsets. Determinism trade, explicitly: sharded packing is
    still fully deterministic for a given (budget, n_shards) — same
    inputs, same bins — but the bin CONTENTS differ from the unsharded
    stream (documents pack with their shard-mates, not their global
    doc_id neighbors), so pick n_shards once per corpus snapshot."""
    from pyspark.sql import Window

    toks = F.size(_tokens())
    base = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id", "source", toks.alias("n_tokens")
    )
    stream_cols = ["source"]
    if n_shards is not None and n_shards > 1:
        base = base.withColumn(
            "shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
        )
        stream_cols = ["source", "shard"]
    w = (
        Window.partitionBy(*stream_cols)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    offset = (F.col("cum_tokens") - F.col("n_tokens")).cast("bigint")
    return with_cum.select(
        "doc_id",
        *stream_cols,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        offset.alias("stream_offset"),
        F.floor(offset / budget).cast("bigint").alias("bin_id"),
    )


def _norm_tokens() -> F.Column:
    """Whitespace-normalized lowercase tokens — the same normalization the
    dedup family uses (analytics/dedup.py:_norm_text), so repetition /
    contamination stats agree with the dedup pipeline's view of a doc."""
    return F.split(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")), " ")


# public alias: the ONE tokenization every text operator (and the
# oracle's _TOKS fragment) must share — import this instead of copying
# the expression, so a normalization change cannot desynchronize a
# module from the persisted artifacts or the DuckDB oracles
norm_tokens = _norm_tokens


def _word_ngrams(toks: F.Column, n: int) -> F.Column:
    """Word n-grams of a token array, joined with \\x01 (a byte that
    cannot appear inside a token). Docs with fewer than n tokens yield an
    empty array — the guard matters because F.sequence(1, size-n+1)
    would otherwise produce a DESCENDING sequence for short docs."""
    starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(starts, lambda i: F.concat_ws("\x01", F.slice(toks, i, n)))
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def rep1_repetition_stats(documents: DataFrame, n: int = 2) -> DataFrame:
    """Within-document repetition signals (Gopher/MassiveText-style
    quality filters): per doc, the fraction of duplicate word n-grams and
    the share of the single most frequent n-gram. High values mark the
    boilerplate/spam/template docs a training pipeline drops.

    Shape at 100 TB: explode → two keyed aggregations, both partitioned
    by doc_id (then (doc_id, gram)) — perfectly distributable, no
    hot keys beyond single-doc size, no driver involvement. Reference
    has no such operator; this extends the documents surface
    (SURVEY.md training-ops mandate)."""
    base = (
        fan_out(documents.filter(F.col("text").isNotNull()))
        .select("doc_id", F.explode(_word_ngrams(_norm_tokens(), n)).alias("g"))
    )
    counts = base.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c")
    uniq = F.count(F.lit(1))
    return counts.groupBy("doc_id").agg(
        total.cast("bigint").alias("n_ngrams"),
        uniq.cast("bigint").alias("n_uniq_ngrams"),
        F.round((total - uniq).cast("double") / total.cast("double"), 6).alias(
            "dup_ngram_ratio"
        ),
        F.round(F.max("c").cast("double") / total.cast("double"), 6).alias(
            "top_ngram_frac"
        ),
    )


def decon1_benchmark_overlap(
    documents: DataFrame, benchmark_source: str = "src0", n: int = 3
) -> DataFrame:
    """Benchmark decontamination — flag corpus documents sharing any word
    n-gram with a benchmark/eval set (here: one source plays the held-out
    benchmark). The standard pre-training hygiene step: training docs
    that textually overlap eval data inflate reported scores.

    Scale: n-grams are hashed to 60-bit ints before the join (narrow
    shuffle keys), each side deduped first. The benchmark side is
    broadcast DELIBERATELY: an eval/benchmark set is small by nature
    (thousands of docs, MBs of distinct n-gram hashes) and does not grow
    with corpus scale — this is the one dimension-table-like broadcast
    the corpus side can never provide. One broadcast join, one keyed
    aggregation on doc_id; the corpus side streams through map-side."""
    grams = F.explode(F.array_distinct(_word_ngrams(_norm_tokens(), n)))
    base = fan_out(documents.filter(F.col("text").isNotNull()))
    gh = md5_60(F.col("g")).alias("gh")
    bench = (
        base.filter(F.col("source") == benchmark_source)
        .select(grams.alias("g"))
        .select(gh)
        .distinct()
    )
    corpus = (
        base.filter(F.col("source") != benchmark_source)
        .select("doc_id", "source", grams.alias("g"))
        .select("doc_id", "source", gh)
    )
    return (
        corpus.join(F.broadcast(bench), "gh")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_ngrams"))
    )


def ppl1_unigram_logloss(documents: DataFrame) -> DataFrame:
    """Per-document average unigram log-loss (bits/token) under the
    corpus's own unigram LM — the cheapest perplexity proxy a data
    pipeline runs: high log-loss flags unusual/garbled text, low flags
    boilerplate; both ends feed quality filtering and curriculum
    weighting.

    Determinism contract (the decay1/pr1 discipline for transcendental
    math): −log2(count/total) is computed once per DISTINCT token —
    both engines divide the same exact integers and take the same libm
    log2 — then rounded to 9 dp BEFORE the per-doc weighted sum, which
    runs in DECIMAL (exact, order-independent). The output is the EXACT
    total (total_bits, decimal→double, deterministic) next to n_tokens
    rather than a rounded average: dividing 9-dp-granular sums by
    integer counts lands on half-way rounding boundaries systematically,
    where Spark's BigDecimal HALF_UP and DuckDB's scaled-double round
    disagree — the caller divides if an average is wanted.

    Plan: one (doc, tok) combining agg + one tok-keyed count agg joined
    back on tok (two keyed shuffles), the 1-row total broadcast — no
    corpus-wide window, no driver data."""
    toks = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id", F.explode(_norm_tokens()).alias("tok")
    )
    per_doc_tok = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    tok_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    total = tok_counts.agg(F.sum("n_tok").alias("n_total"))
    # decimal widths chosen so the product KEEPS scale 12: Spark caps
    # decimal precision at 38 and sheds scale on overflow — a
    # (28,12)×(28,12) product would silently round to 6 dp
    bits = F.round(
        -F.log2(F.col("n_tok").cast("double") / F.col("n_total")), 9
    ).cast("decimal(20,12)")
    contrib = F.col("c").cast("decimal(12,0)") * bits
    return (
        per_doc_tok.join(tok_counts, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(contrib).cast("double").alias("total_bits"),
        )
        .orderBy("doc_id")
    )


def ppl2_bigram_logloss(documents: DataFrame) -> DataFrame:
    """Per-document average BIGRAM log-loss (bits/bigram) under the
    corpus's own Laplace-smoothed bigram LM — the order-2 companion to
    ppl1: P(w | prev) = (c(prev,w) + 1) / (c(prev,·) + V), V the corpus
    unigram vocabulary, c(prev,·) the bigram-prefix marginal. Bigram
    surprisal separates word-salad (plausible unigrams, impossible
    transitions) from ordinary text far better than unigram loss.

    Determinism (ppl1's discipline): −log2 of each DISTINCT bigram's
    ratio — exact integer counts cast to double, one IEEE division —
    rounded to 9 dp, then the per-doc weighted sum runs in DECIMAL; the
    exact total ships next to the doc's bigram count.

    Plan: one (doc, bigram) combining agg + one bigram-keyed corpus agg
    + its prefix re-combine, joined back on the bigram key, the 1-row
    vocab count broadcast — all keyed shuffles, no windows."""
    grams = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id", F.explode(_word_ngrams(_norm_tokens(), 2)).alias("bg")
    )
    per_doc_bg = grams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    bg_counts = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    prefix = F.split(F.col("bg"), "\x01").getItem(0)
    prev_counts = bg_counts.groupBy(prefix.alias("prev")).agg(
        F.sum("c_bg").alias("c_prev")
    )
    vocab = (
        fan_out(documents.filter(F.col("text").isNotNull()))
        .select(F.explode(_norm_tokens()).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    bits = F.round(
        -F.log2(
            (F.col("c_bg") + 1).cast("double")
            / (F.col("c_prev") + F.col("v")).cast("double")
        ),
        9,
    ).cast("decimal(20,12)")
    contrib = F.col("c").cast("decimal(12,0)") * bits
    return (
        per_doc_bg.join(bg_counts, "bg")
        .join(prev_counts, F.split(F.col("bg"), "\x01").getItem(0) == F.col("prev"))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(contrib).cast("double").alias("total_bits"),
        )
        .orderBy("doc_id")
    )


def fh1_feature_hash_embed(documents: DataFrame, dim: int = 64) -> DataFrame:
    """Feature-hashed bag-of-words document vectors (the hashing trick,
    Weinberger et al., "Feature Hashing for Large Scale Multitask
    Learning", ICML 2009) — model-free text→vector embedding INSIDE the
    engine: each token hashes to a dimension and a ±1 sign; the doc's
    vector is the signed count per dimension. The signed hash keeps the
    estimator unbiased under collisions; no vocabulary is built, so the
    op is one explode + one combining shuffle regardless of corpus size
    — the embedding generator that feeds the ANN family when no model
    is available.

    LONG form (doc_id, dim, weight), the repo's oracle convention for
    vector outputs (cf. emb_label_centroids); cancelled dimensions
    (collision sum = 0) are dropped. Hash = the md5_60 integer
    convention shared with the oracle: dim = h mod `dim`, sign from the
    next bit."""
    toks = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id", F.explode(_norm_tokens()).alias("tok")
    )
    h = md5_60(F.col("tok"))
    d = F.pmod(h, F.lit(dim))
    # sign bit via shiftright, NOT h/dim: double division loses the low
    # bits of a 60-bit hash (53-bit mantissa) and flips parities
    sign_bit = F.shiftright(h, dim.bit_length() - 1).bitwiseAND(F.lit(1))
    sign = F.when(sign_bit == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        toks.select("doc_id", d.alias("dim"), sign.alias("sign"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
        .orderBy("doc_id", "dim")
    )


def drift1_source_token_kl(documents: DataFrame) -> DataFrame:
    """Per-source KL divergence (bits) of the source's unigram token
    distribution from the whole corpus's — the mixture-drift diagnostic
    a data-mixing pipeline watches: a source whose KL jumps between
    snapshots changed its content character, and sources with extreme
    KL dominate or starve the mixture weights.

    KL(source ‖ corpus) = Σ_t p_s(t)·log2(p_s(t)/p_c(t)), summed over
    the source's own tokens only (p_s(t) > 0, and p_c(t) > 0 whenever
    p_s(t) > 0 since the corpus includes the source — no smoothing
    needed). Same transcendental-determinism discipline as ppl1: each
    term is IEEE-identical in both engines, rounded to 9 dp, summed in
    DECIMAL; the exact total ships (kl_bits), not a rounded average.

    Plan: three combining aggs (source×token, source, token) + one
    keyed join back on tok and a broadcast of the 1-row corpus total —
    everything hash-partitions on small keys; no windows, no driver
    data."""
    toks = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "source", F.explode(_norm_tokens()).alias("tok")
    )
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_st"))
    s_tot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    ct = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_t"))
    tot = ct.agg(F.sum("c_t").alias("n_c"))
    p_s = F.col("c_st").cast("double") / F.col("n_s").cast("double")
    p_c = F.col("c_t").cast("double") / F.col("n_c").cast("double")
    term = F.round(p_s * F.log2(p_s / p_c), 9).cast("decimal(20,12)")
    return (
        st.join(s_tot, "source")
        .join(ct, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.sum(term).cast("double").alias("kl_bits"),
        )
        .orderBy("source")
    )


def dsir1_importance_weights(
    documents: DataFrame, target_lang: str = "en"
) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al. 2023,
    arXiv:2302.03169, the n-gram variant at order 1): per document, the
    log importance ratio log2(p_target(doc)/p_raw(doc)) under two
    Laplace-smoothed unigram LMs — target = docs in `target_lang`, raw
    = the rest of the corpus. Training-data selection keeps/oversamples
    the docs whose text looks most like the target distribution:
    rank by total_bits/n_tokens descending and gate.

    Determinism (the ppl1/drift1 discipline): each DISTINCT token's
    log-ratio term is computed once from exact integer counts cast to
    double — log2 of a quotient of two double PRODUCTS rather than of
    exact int64 products, because (c+1)·(n+V) overflows int64 at
    corpus scale while the double product is IEEE-identical in both
    engines — rounded to 9 dp, then the per-doc weighted sum runs in
    DECIMAL. The exact total ships (total_bits) next to n_tokens; the
    caller divides for a per-token average.

    Plan: one (doc, tok) combining agg + one tok-keyed two-sided count
    agg joined back on tok + a broadcast 1-row total — two keyed
    shuffles, no windows, no driver data."""
    # when/otherwise, not a bare boolean cast: a NULL lang must count as
    # raw (0), not null-propagate its tokens out of both LMs' sums —
    # mirrors the oracle's CASE WHEN lang = 'en' THEN 1 ELSE 0 END
    toks = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id",
        F.when(F.col("lang") == target_lang, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_t"),
        F.explode(_norm_tokens()).alias("tok"),
    )
    per_doc_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    tok_counts = toks.groupBy("tok").agg(
        F.sum("is_t").alias("c_t"),
        F.sum(F.lit(1) - F.col("is_t")).alias("c_r"),
    )
    tot = tok_counts.agg(
        F.sum("c_t").alias("n_t"),
        F.sum("c_r").alias("n_r"),
        F.count(F.lit(1)).alias("v"),
    )
    num = (F.col("c_t") + 1).cast("double") * (F.col("n_r") + F.col("v")).cast(
        "double"
    )
    den = (F.col("c_r") + 1).cast("double") * (F.col("n_t") + F.col("v")).cast(
        "double"
    )
    bits = F.round(F.log2(num / den), 9).cast("decimal(20,12)")
    contrib = F.col("c").cast("decimal(12,0)") * bits
    return (
        per_doc_tok.join(tok_counts, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(contrib).cast("double").alias("total_bits"),
        )
        .orderBy("doc_id")
    )


def zipf1_source_zipf_slope(documents: DataFrame, top_r: int = 100) -> DataFrame:
    """Per-source Zipf rank-frequency slope — the corpus-health
    diagnostic (natural text sits near −1; boilerplate/generated text
    flattens or steepens it): least-squares slope of ln(freq) on
    ln(rank) over the source's `top_r` most frequent tokens.

    Determinism: rank is an integer window rank (count DESC, tok ASC
    tie-break — total order, keyed by source); each per-rank regression
    term (x, y, x·y, x²) is one IEEE double expression rounded to 9 dp
    and summed in DECIMAL, so the four sums are exact and
    order-independent in both engines; the closed-form slope
    (R·Σxy − Σx·Σy)/(R·Σx² − (Σx)²) divides the same decimals and is
    rounded to 6 dp.

    Plan: one (source, tok) combining agg + one source-KEYED window
    rank (never a global sort) + one combining per-source agg."""
    from pyspark.sql import Window

    toks = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "source", F.explode(_norm_tokens()).alias("tok")
    )
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("source").orderBy(F.col("freq").desc(), F.col("tok"))
    ranked = counts.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= top_r
    )
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    dec = lambda c: F.round(c, 9).cast("decimal(20,12)")  # noqa: E731
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
        F.sum(dec(x)).alias("sx"),
        F.sum(dec(y)).alias("sy"),
        F.sum(dec(x * y)).alias("sxy"),
        F.sum(dec(x * x)).alias("sxx"),
    )
    n = F.col("n_ranks").cast("double")
    slope = (n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")) / (
        n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    # n_ranks ≥ 2 guard: a single-rank source has zero x-variance and
    # the slope is 0/0 — Spark's double division yields NaN where
    # DuckDB yields NULL, so the undefined row is EXCLUDED identically
    # in both engines instead
    return (
        agg.filter(F.col("n_ranks") >= 2)
        .select(
            "source", "n_ranks", (F.round(slope, 6) + F.lit(0.0)).alias("zipf_slope")
        )
        .orderBy("source")
    )


def leak1_cross_split_leakage(documents: DataFrame, n: int = 5) -> DataFrame:
    """Cross-split contamination audit: word n-grams shared between a
    TRAIN document and a VAL/TEST document under the repo's leakage-safe
    split (corpus_prep.split_expr) — the check that the held-out sets
    are textually disjoint from training data, per held-out doc.

    decon1 audits against an external benchmark (small, broadcast);
    this audits train vs held-out WITHIN the corpus, so BOTH sides
    scale with the corpus — the join is a keyed shuffle on the 60-bit
    n-gram hash (narrow keys, each side deduped first), never a
    broadcast. Output: one row per held-out doc with ≥1 leaked n-gram."""
    from csv_crm_upload_spark.plans.corpus_prep import split_expr

    base = fan_out(documents.filter(F.col("text").isNotNull())).withColumn(
        "split", split_expr()
    )
    grams = F.explode(F.array_distinct(_word_ngrams(_norm_tokens(), n)))
    gh = md5_60(F.col("g")).alias("gh")
    train = (
        base.filter(F.col("split") == "train").select(grams.alias("g")).select(gh).distinct()
    )
    held = (
        base.filter(F.col("split") != "train")
        .select("doc_id", "split", grams.alias("g"))
        .select("doc_id", "split", gh)
    )
    return (
        held.join(train, "gh")
        .groupBy("doc_id", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaked_ngrams"))
        .orderBy("doc_id")
    )


def chunk1_doc_chunks(
    documents: DataFrame, chunk: int = 64, stride: int = 48
) -> DataFrame:
    """Overlapping fixed-size token chunking — the context-window
    splitting step of a training/RAG pipeline: each doc becomes chunks of
    `chunk` tokens starting every `stride` tokens (overlap = chunk −
    stride), last chunk ragged.

    Map-only at 100 TB: sequence + posexplode + slice are all Column
    algebra riding the scan — no shuffle, no Python, output partitioning
    inherits the input's. One output row per chunk."""
    toks = _norm_tokens()
    base = (
        fan_out(documents.filter(F.col("text").isNotNull() & (F.trim(F.col("text")) != "")))
        .select("doc_id", toks.alias("l"))
    )
    starts = F.sequence(F.lit(1), F.size("l"), F.lit(stride))
    piece = F.slice(F.col("l"), F.col("start"), chunk)
    return (
        base.select("doc_id", F.col("l"), F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size(piece).cast("bigint").alias("n_chunk_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )


def mix2_quality_weighted_sample(documents: DataFrame) -> DataFrame:
    """Quality-weighted corpus sampling: each document is kept with
    probability equal to its quality score — the soft curriculum filter
    ("keep good text, downsample junk proportionally") a pretraining
    mix applies after hard dedup.

    Like mix1, the gate is HASH-GATED, not RNG-gated: keep iff
    md5_60(doc_id) / 2^60 < quality_score. The division is by a power of
    two (exact in IEEE double) and the score is a fixed 6-dp rounded
    value, so the keep decision is bit-identical across engines,
    retries, and cluster sizes. Map-only — rides the scan."""
    gate = md5_60_id(F.col("doc_id")).cast("double") / F.lit(float(1 << 60))
    return (
        documents.withColumn("quality_score", _quality_score_expr())
        .withColumn("_g", gate)
        .filter(F.col("_g") < F.col("quality_score"))
        .select("doc_id", "source", "quality_score")
    )


def batch1_length_buckets(documents: DataFrame, n_buckets: int = 16) -> DataFrame:
    """Length-bucketed batching stats — the padding-efficiency planner
    for training-batch construction: rank documents by token count,
    NTILE them into n_buckets equal-size groups, and report each
    bucket's size range and PADDING WASTE (tokens of pad a max-length
    batcher would add: bucket_max·n − Σtokens). Grouping similar-length
    sequences is what keeps padding waste low; this query quantifies it.

    All-integer arithmetic → engine-exact. The global NTILE runs as
    ordered.ntile (range-repartition on (n_tokens, doc_id) +
    per-partition offset rank + closed-form bucket assignment) — no
    single-partition global sort at any scale; only per-partition counts
    reach the driver."""
    toks = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id", F.size(_tokens()).alias("n_tokens")
    )
    b = ntile(toks, ["n_tokens", "doc_id"], n_buckets, "bucket")
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            (
                F.max("n_tokens").cast("long") * F.count(F.lit(1))
                - F.sum("n_tokens")
            ).cast("long").alias("padding_waste"),
        )
        .orderBy("bucket")
    )


def wfp1_winnow_fingerprints(
    documents: DataFrame, k: int = 4, w: int = 5
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, slide a
    window of w consecutive gram positions, keep the MINIMUM hash per
    window. The selected set is position-robust (guaranteed to share
    fingerprints with any copy that shares a long enough run) at ~2/(w+1)
    the density of full k-gram hashing — the standard local-similarity
    fingerprint for plagiarism/near-copy detection at corpus scale.

    Output per doc: n_grams, n_fingerprints (distinct selected hashes),
    min_fp (the doc's smallest fingerprint — the cheapest cross-corpus
    bucketing key).

    Shape: posexplode rides the scan (map-only), the window min is a
    KEYED window (partitionBy doc_id — never a global sort), and the
    readout is one combining groupBy(doc_id). Hashes are the canonical
    md5_60 so the DuckDB oracle reproduces every fingerprint exactly."""
    from pyspark.sql import Window

    grams = _word_ngrams(_norm_tokens(), k)
    g = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id", F.posexplode(grams).alias("pos", "gram")
    )
    h = g.select("doc_id", "pos", md5_60(F.col("gram")).alias("h"))
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    sel = (
        h.withColumn("minh", F.min("h").over(win))
        .filter(F.col("pos") >= w - 1)
    )
    return (
        sel.groupBy("doc_id")
        .agg(
            (F.max("pos") + 1).cast("long").alias("n_grams"),
            F.count_distinct("minh").cast("long").alias("n_fingerprints"),
            F.min("minh").alias("min_fp"),
        )
        .orderBy("doc_id")
    )


def msk1_span_corruption_stats(
    documents: DataFrame, span: int = 3, pct: int = 15
) -> DataFrame:
    """Deterministic span-corruption planning stats — the T5/UL2-style
    denoising-objective preparation pass: partition each document's
    tokens into fixed `span`-token blocks, gate each block by the pure
    hash pmod(md5_60(doc_id || ':' || block), 100) < pct, and report per
    doc how many tokens/spans a span-corruption pass would mask. The
    mask decision is a pure function of (doc_id, block) — stable across
    engines, retries, and cluster sizes (the split1/mix1 gate
    discipline applied position-wise), which is what makes a masking
    pass REPRODUCIBLE at 100 TB without any RNG state.

    Map-only except the per-doc combining agg: blocks are derived from
    the token count arithmetic (no explode of positions — one
    higher-order aggregate over the block index range per doc)."""
    toks = _norm_tokens()
    n_tokens = F.size(toks)
    n_blocks = F.ceil(n_tokens / F.lit(span)).cast("int")
    block_gate = lambda b: F.pmod(  # noqa: E731
        md5_60(F.concat_ws(":", F.col("doc_id").cast("string"), b.cast("string"))),
        F.lit(100),
    ) < F.lit(pct)
    # tokens in block b: `span`, except the last block keeps the remainder
    block_len = lambda b: F.least(  # noqa: E731
        F.lit(span), n_tokens - b * F.lit(span)
    )
    blocks = F.sequence(F.lit(0), n_blocks - 1)
    n_masked = F.aggregate(
        blocks,
        F.lit(0),
        lambda acc, b: acc + F.when(block_gate(b), block_len(b)).otherwise(F.lit(0)),
    )
    n_spans = F.aggregate(
        blocks,
        F.lit(0),
        lambda acc, b: acc + F.when(block_gate(b), F.lit(1)).otherwise(F.lit(0)),
    )
    base = fan_out(documents.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ))
    return base.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_masked.cast("long").alias("n_masked"),
        n_spans.cast("long").alias("n_spans"),
        F.round(n_masked.cast("double") / n_tokens, 6).alias("mask_rate"),
    ).orderBy("doc_id")


def nov1_ngram_novelty(documents: DataFrame, n: int = 8) -> DataFrame:
    """Per-document n-gram novelty — the memorization/diversity signal
    dedup doesn't capture: what fraction of a doc's DISTINCT word
    8-grams appear in ANY other document (df > 1 corpus-wide). Low
    novelty flags templated/duplicated content that survived doc-level
    dedup; the aggregate over a source is its boilerplate rate.

    Shape: distinct (doc, gram-hash) pairs (one combining explode), a
    gram-keyed df count (second combining agg on the 60-bit hash — the
    leak1 discipline: corpus-scale on both sides, hash-keyed join,
    never broadcast), one join back, one per-doc readout. All-integer
    plus one 6-dp ratio — engine-exact."""
    grams = F.explode(F.array_distinct(_word_ngrams(_norm_tokens(), n)))
    dg = (
        fan_out(documents.filter(F.col("text").isNotNull()))
        .select("doc_id", grams.alias("g"))
        .select("doc_id", md5_60(F.col("g")).alias("gh"))
    )
    dfc = dg.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
    return (
        dg.join(dfc, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("df") > 1).cast("int")).cast("long").alias("n_shared_grams"),
        )
        .withColumn(
            "novelty_rate",
            F.round(
                (F.col("n_grams") - F.col("n_shared_grams")).cast("double")
                / F.col("n_grams"),
                6,
            ),
        )
        .orderBy("doc_id")
    )


def cur1_curriculum_phases(documents: DataFrame, q: int = 4) -> DataFrame:
    """Curriculum phase assignment — easy-to-hard data ordering for
    training: rank documents by unigram bits-per-token (ppl1's
    difficulty proxy — boilerplate scores low, garbled text high) and
    NTILE them into q phases; readout = each phase's population and
    difficulty range.

    Composes the round-6 machinery: the per-doc key is ppl1's
    decimal-exact total_bits divided by the integer token count (one
    identical double division, rounded 9 dp), and the global NTILE runs
    as ordered.ntile — range-repartitioned, never a single-task
    sort. The (bpt, doc_id) order makes every phase boundary
    deterministic in both engines."""
    base = ppl1_unigram_logloss(documents)
    scored = base.select(
        "doc_id",
        F.round(F.col("total_bits") / F.col("n_tokens"), 9).alias("bpt"),
    )
    phased = ntile(scored, ["bpt", "doc_id"], q, "phase")
    return (
        phased.groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("bpt").alias("min_bpt"),
            F.max("bpt").alias("max_bpt"),
        )
        .orderBy("phase")
    )


def winnow_prints(documents: DataFrame, k: int = 4, w: int = 5) -> DataFrame:
    """(doc_id, fp) — each document's DISTINCT selected winnowing
    fingerprints (the per-doc fingerprint SET wfp2 pairs on and the
    persisted winnow index stores). Selection = min md5_60 k-gram hash
    per w-window, a KEYED window over pos (never a global sort);
    fingerprints are pure per-document functions, so an index append
    over new docs is exactly what a rebuild would store."""
    from pyspark.sql import Window

    grams = _word_ngrams(_norm_tokens(), k)
    g = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id", F.posexplode(grams).alias("pos", "gram")
    )
    h = g.select("doc_id", "pos", md5_60(F.col("gram")).alias("h"))
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    return (
        h.withColumn("minh", F.min("h").over(win))
        .filter(F.col("pos") >= w - 1)
        .select("doc_id", F.col("minh").alias("fp"))
        .distinct()
    )


def wfp2_shared_fingerprint_pairs(
    documents: DataFrame,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Near-copy pair detection over winnowing fingerprints — what MOSS
    actually reports: document pairs sharing at least `min_shared`
    selected fingerprints (winnowing guarantees any sufficiently long
    shared run contributes at least one shared fingerprint, so this
    finds partial copies at ~2/(w+1) the index size of full k-gram
    matching).

    Bounded like the whole dedup family: fingerprints selected in more
    than `max_df` documents are dropped before the self-join (the
    stop-shingle cap — boilerplate fingerprints contribute quadratic
    pairs and no discrimination). One shuffle on the fingerprint key,
    never all pairs; per-doc selected sets are winnow-sparse."""
    return shared_print_pairs(winnow_prints(documents, k, w), min_shared, max_df)


def shared_print_pairs(
    prints: DataFrame, min_shared: int = 2, max_df: int = 50
) -> DataFrame:
    """The wfp2 pairing step over ANY (doc_id, fp) fingerprint table —
    shared by the inline query and the persisted winnow index (the
    df cap is computed at pair time over whatever prints it is given,
    so an indexed run caps over the COMBINED corpus exactly like a
    rebuild would)."""
    dfc = prints.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    rare = prints.join(dfc.filter(F.col("df") <= max_df), "fp")
    a = rare.select(F.col("doc_id").alias("doc_a"), "fp")
    b = rare.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )


def split1_train_val_test(documents: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by hash range —
    the split must be a PURE FUNCTION of the document id: stable across
    reruns, engines, cluster sizes, and dataset growth (a new doc never
    moves an old doc between splits — the leakage guarantee). Gate:
    pmod(md5_60(doc_id), 100) → <80 train, <90 val, else test. Output is
    the per-(source, split) audit matrix; the split column itself is the
    same expression inlined wherever the pipeline partitions. Map-only +
    one tiny agg."""
    gate = F.pmod(md5_60_id(F.col("doc_id")), F.lit(100))
    split = (
        F.when(gate < 80, F.lit("train"))
        .when(gate < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        documents.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("source", "split")
    )


def bp1_boilerplate_phrases(
    documents: DataFrame, n: int = 5, min_df: int = 3
) -> DataFrame:
    """Cross-document boilerplate detection: word n-gram phrases that
    recur in ≥ min_df DISTINCT documents — the removal list a corpus
    cleaning pass applies (headers, footers, licence blurbs, templated
    spans), the cross-doc complement of rep1's within-doc repetition.

    Plan: explode distinct (doc, phrase) pairs, one map-side-combining
    count keyed by phrase, filter. The distinct-per-doc projection bounds
    each document's contribution to its unique phrases, so a doc that
    repeats its own boilerplate 1,000× still counts once — df semantics,
    not tf. Phrase cardinality ~ corpus tokens; at 100 TB the same shape
    as the shingle stage LSH dedup already runs."""
    toks = _norm_tokens()
    phrases = F.array_distinct(_word_ngrams(toks, n))
    per_doc = fan_out(documents.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )).select("doc_id", F.explode(phrases).alias("phrase"))
    return (
        per_doc.groupBy("phrase")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_df)
        .orderBy(F.col("n_docs").desc(), "phrase")
    )


def mix3_temperature_mixture(
    documents: DataFrame, alpha: float = 0.7, budget_frac: float = 0.5
) -> DataFrame:
    """Temperature-scaled source mixing — the multilingual/multi-source
    rebalancing rule of mT5/XLM-R (sample source s with probability
    ∝ p_s^alpha, alpha<1 upweights small sources): compute each source's
    corpus share p_s, temper it to p_s^alpha, renormalize into target
    shares over a total budget of round(budget_frac·N) docs, and keep
    each source's docs by deterministic hash rank (the samp1 gate) up to
    its target count.

    Output: the kept docs — (doc_id, source, sample_rank, target_docs).

    Cross-engine determinism: the only transcendental (pow) runs once
    per SOURCE (a handful of rows) and is 9-dp rounded into
    DECIMAL(18,9) before the exact decimal sum, so the renormalizing
    division divides two identical exact values in both engines (the
    ppl1 discipline); targets come from one IEEE multiply + half-up
    floor on those identical doubles.

    Scale shape: the per-source counts are one combining shuffle to ~20
    rows; targets broadcast back; the rank gate is one window per
    source. At 100 TB the within-source ORDER BY (md5, doc_id) is the
    cost — production converts target/n_docs into a RATE and reuses
    mix1's O(1) hash-threshold gate instead (documented trade: rate
    gates hit the target only in expectation)."""
    counts = documents.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    n_total = F.sum("n_docs").over(w_all)
    tempered = counts.withColumn(
        "wt",
        F.round(F.pow(F.col("n_docs").cast("double") / n_total, alpha), 9).cast(
            "decimal(18,9)"
        ),
    ).withColumn("n_total", n_total)
    budget = F.floor(F.col("n_total").cast("double") * budget_frac + 0.5)
    targets = tempered.withColumn(
        "target_docs",
        F.floor(
            F.col("wt").cast("double")
            / F.sum("wt").over(w_all).cast("double")
            * budget
            + 0.5
        ).cast("bigint"),
    ).select("source", "target_docs")

    w_src = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = documents.select(
        "doc_id", "source", F.row_number().over(w_src).alias("sample_rank")
    )
    return (
        ranked.join(F.broadcast(targets), "source")
        .filter(F.col("sample_rank") <= F.col("target_docs"))
        .select("doc_id", "source", "sample_rank", "target_docs")
    )


def mix4_unimax_allocation(
    documents: DataFrame, epoch_cap: int = 4, budget_frac_denom: int = 2
) -> DataFrame:
    """UniMax sampling (Chung et al. 2023, arXiv:2304.09151): allocate a
    token budget across sources as CLOSE TO UNIFORM as possible subject
    to a per-source repeat cap — small sources contribute up to
    `epoch_cap` epochs of their tokens, and the leftover budget spreads
    evenly over the sources that can absorb it. The principled
    alternative to temperature mixing (mix3): no source is ever
    oversampled past its cap, and no tuning of alpha.

    Budget = floor(total_tokens / budget_frac_denom); cap_s = epoch_cap
    · n_s. Exact integer water-filling in closed form: with sources
    ordered by cap ascending (source tie-break), a PREFIX of sources is
    fully capped (the standard water-filling lemma); the boundary t is
    the longest prefix where cap_i·(k−i+1) ≤ B − P_{i−1} holds for all
    i ≤ t (P = running cap prefix sum); capped sources get cap_i, the
    k−t uncapped each get floor((B−P_t)/(k−t)) plus 1 for the first
    (B−P_t) mod (k−t) of them in rank order — so Σ alloc = B exactly.
    The boundary products run in DECIMAL(38,0): cap·k overflows int64
    at real corpus counts (10¹⁴ tokens × 10⁶ sources).

    Output: (source, n_tokens, cap_tokens, alloc_tokens, epochs) —
    epochs = alloc/n_s rounded 6 dp from the exact integers.

    Scale shape: ONE combining shuffle collapses the corpus to the
    per-source token rollup; everything after runs windows over that
    DIMENSION-SIZED table (sources are a registry, 10¹–10⁶ rows — the
    mix3 precedent; this is not the rfm1 per-customer-rollup case)."""
    from pyspark.sql import Window

    counts = (
        fan_out(documents.filter(F.col("text").isNotNull()))
        .select("source", F.size(_norm_tokens()).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_tokens"))
        .withColumn("cap_tokens", (F.lit(epoch_cap) * F.col("n_tokens")).cast("long"))
    )
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("cap_tokens", "source")
    budget = F.floor(F.sum("n_tokens").over(w_all) / F.lit(budget_frac_denom)).cast(
        "long"
    )
    ranked = counts.select(
        "source",
        "n_tokens",
        "cap_tokens",
        budget.alias("b"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("k"),
        F.row_number().over(w_ord).cast("long").alias("i"),
        F.sum("cap_tokens").over(w_ord).cast("long").alias("p"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    fits = dec(F.col("cap_tokens")) * dec(F.col("k") - F.col("i") + 1) <= dec(
        F.col("b") - (F.col("p") - F.col("cap_tokens"))
    )
    # t = longest ALL-fitting prefix: min rank where the condition fails
    # (minus 1), else k — robust to any non-monotone integer edge case
    first_fail = F.min(F.when(~fits, F.col("i"))).over(w_all)
    with_t = ranked.withColumn(
        "t", F.coalesce(first_fail - 1, F.col("k"))
    ).withColumn(
        "p_t",
        F.coalesce(F.max(F.when(F.col("i") <= F.col("t"), F.col("p"))).over(w_all), F.lit(0)),
    )
    rem = F.col("b") - F.col("p_t")
    heads = F.col("k") - F.col("t")
    base = F.floor(rem / heads).cast("long")
    extra = (F.col("i") - F.col("t") <= rem % heads).cast("long")
    alloc = F.when(F.col("i") <= F.col("t"), F.col("cap_tokens")).otherwise(
        base + extra
    )
    return with_t.select(
        "source",
        "n_tokens",
        "cap_tokens",
        alloc.cast("long").alias("alloc_tokens"),
        F.round(
            alloc.cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("epochs"),
    ).orderBy("source")


def phr1_phrase_occurrences(documents: DataFrame, n: int = 3) -> DataFrame:
    """Exact phrase localization — the grep primitive of a corpus
    engine: find every per-doc occurrence of the corpus's SINGLE most
    frequent word n-gram (count DESC, phrase ASC tie-break makes the
    target phrase deterministic and the query self-contained at any
    scale). Output: (doc_id, phrase, n_occurrences) for the docs that
    contain it.

    Scale shape: one n-gram explode + combining count to find the
    argmax phrase (the bp1 machinery), then the 1-row phrase broadcasts
    back into a semi-join + per-doc count — the second pass touches
    only matching grams. A parameterized phrase (user-supplied instead
    of argmax) is the same plan minus the first aggregation."""
    grams = _word_ngrams(_norm_tokens(), n)
    g = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id", F.explode(grams).alias("gram")
    )
    top = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "gram")
        .limit(1)
        .select("gram")
    )
    return (
        g.join(F.broadcast(top), "gram")
        .groupBy("doc_id")
        .agg(
            F.replace(F.first("gram"), F.lit("\x01"), F.lit(" ")).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .orderBy("doc_id")
    )


def gq1_gopher_quality(documents: DataFrame) -> DataFrame:
    """Gopher/C4-style quality-rule battery as ONE map-only pass — the
    rule filter every production pretraining pipeline runs before
    anything expensive touches a document (Rae et al. 2021 "Scaling
    Language Models: ... Gopher" Table A1; Raffel et al. 2020 C4).
    Per document: the raw signals, one boolean per rule, and the
    composite `keep` (AND of all rules, three-valued over NULL text
    exactly like the SQL oracle).

    Rules (Gopher's published thresholds where the signal exists in
    this corpus):
      r_word_count     50 <= n_words <= 100000
      r_mean_word_len  3 <= mean word length <= 10
      r_symbol_ratio   (# '#' or '...' occurrences) / n_words <= 0.1
      r_alpha_words    >= 80% of words contain an alphabetic char
      r_stopwords      >= 2 distinct-occurrence hits of the shared
                       EN_STOPWORDS list (Gopher's "contains at least
                       2 stop words" smell test)

    Scale shape: pure Column expressions riding the scan — no shuffle,
    no UDF; at 100 TB this is exactly one pass fused into whatever
    reads the corpus next (the reason the rule battery composes into
    prep pipelines for free). All ratios are round(·, 6) with the
    greatest(n, 1) guard so the two engines divide identically.
    Reference for the operator family: csv-crm-upload gates rows on
    per-record checks before ingest (cmd/csvreader/csvreader.go:54
    readCustomers' per-row tolerance); this is the corpus-scale
    analog."""
    toks = _tokens()
    n_words = F.size(toks)
    total_tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    denom_w = F.greatest(n_words, F.lit(1))
    mean_word_len = F.round(total_tok_chars.cast("double") / denom_w, 6)
    n_symbols = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"#|\.\.\."), 0))
    symbol_ratio = F.round(n_symbols.cast("double") / denom_w, 6)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_word_ratio = F.round(n_alpha.cast("double") / denom_w, 6)
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(EN_STOPWORDS)))

    r_word_count = (n_words >= 50) & (n_words <= 100000)
    r_mean_word_len = (mean_word_len >= 3.0) & (mean_word_len <= 10.0)
    r_symbol_ratio = symbol_ratio <= 0.1
    r_alpha_words = alpha_word_ratio >= 0.8
    r_stopwords = n_stop >= 2
    return fan_out(documents).select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_word_ratio.alias("alpha_word_ratio"),
        n_stop.cast("long").alias("n_stopwords"),
        r_word_count.alias("r_word_count"),
        r_mean_word_len.alias("r_mean_word_len"),
        r_symbol_ratio.alias("r_symbol_ratio"),
        r_alpha_words.alias("r_alpha_words"),
        r_stopwords.alias("r_stopwords"),
        (
            r_word_count
            & r_mean_word_len
            & r_symbol_ratio
            & r_alpha_words
            & r_stopwords
        ).alias("keep"),
    )


def drm1_doremi_weights(
    documents: DataFrame, eta: float = 1.0, smooth: float = 0.1
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023,
    arXiv:2305.10429) with the corpus's own unigram LM standing in for
    the proxy/reference pair: per source (domain), the EXCESS LOSS is
    its mean bits/token under the global unigram LM minus the
    corpus-wide mean, and the Group-DRO multiplicative update lifts hard
    domains — weight ∝ token_share · exp(eta · excess) — followed by
    DoReMi's smoothing against uniform, w = (1−c)·α + c/k. One
    deterministic round (the excess is static without proxy retraining,
    so T update rounds collapse into eta); composes with mix4's
    water-filling when a trainer wants the budgeted allocation.

    Determinism (the ppl1/dsir1 discipline): bits per DISTINCT token are
    rounded to 9 dp and summed in DECIMAL per source; means divide
    exact decimal totals (as double) by exact long counts and round to
    9 dp; excess, the exp term, the share, and the share·exp product are
    each rounded to 9 dp; the |sources|-row normalizer sums the 9-dp
    terms in DECIMAL so addition order cannot move it; final weights
    round to 6 dp.

    Plan: ONE corpus shuffle — the (source, tok) combining agg; the
    token LM is a rollup-of-the-rollup (groupBy tok over the already
    |sources|·|vocab|-bounded table, never a second corpus pass), the
    1-row total broadcasts back, and the global bits total is the
    decimal sum of the per-source sums (every occurrence belongs to
    exactly one source; decimal addition is order-free, so the
    regrouping is value-identical to summing per token). Everything
    after the source rollup runs in single-partition windows over that
    DIMENSION-SIZED table (the mix4 precedent) — the plan has no
    duplicated corpus subtree for the normalizer, unlike the agg +
    crossJoin-back shape."""
    toks = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "source", F.explode(_norm_tokens()).alias("tok")
    )
    per_src_tok = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    tok_counts = per_src_tok.groupBy("tok").agg(F.sum("c").alias("n_tok"))
    n_total_df = tok_counts.agg(F.sum("n_tok").alias("n_total"))
    bits = F.round(
        -F.log2(F.col("n_tok").cast("double") / F.col("n_total")), 9
    ).cast("decimal(20,12)")
    tcb = tok_counts.crossJoin(F.broadcast(n_total_df)).select(
        "tok", "n_total", bits.alias("bits")
    )
    per_src = (
        per_src_tok.join(tcb, "tok")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c").cast("decimal(12,0)") * F.col("bits")).alias("src_bits"),
            F.max("n_total").alias("n_total"),
        )
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    g_bits = F.sum("src_bits").over(w_all)
    mean9 = F.round(F.col("src_bits").cast("double") / F.col("n_tokens"), 9)
    gmean9 = F.round(g_bits.cast("double") / F.col("n_total"), 9)
    excess9 = F.round(mean9 - gmean9, 9)
    share9 = F.round(F.col("n_tokens").cast("double") / F.col("n_total"), 9)
    e9 = F.round(F.exp(F.lit(float(eta)) * excess9), 9)
    term9 = F.round(share9 * e9, 9)
    rolled = per_src.select(
        "source",
        "n_tokens",
        mean9.alias("_mean9"),
        excess9.alias("_excess9"),
        share9.alias("_share9"),
        term9.alias("_term9"),
    ).select(
        "*",
        F.sum(F.col("_term9").cast("decimal(20,12)")).over(w_all).alias("_z"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("_k"),
    )
    c = float(smooth)
    alpha = F.col("_term9") / F.col("_z").cast("double")
    return rolled.select(
        "source",
        "n_tokens",
        F.round(F.col("_mean9"), 6).alias("mean_bits_per_token"),
        # + 0.0: a hair-negative excess rounds to -0.0 in Spark but
        # not necessarily in the oracle — the r6 signed-zero class
        (F.round(F.col("_excess9"), 6) + F.lit(0.0)).alias("excess_bits"),
        F.round(F.col("_share9"), 6).alias("token_share"),
        (
            F.round(F.lit(1.0 - c) * alpha + F.lit(c) / F.col("_k"), 6)
            + F.lit(0.0)
        ).alias("weight"),
    ).orderBy("source")


def rho1_excess_loss_selection(
    documents: DataFrame, lo: float = -0.06, hi: float = 0.06
) -> DataFrame:
    """RHO-style selective-loss gating (Lin et al. 2024 "RHO-1", arXiv:
    2404.07965; Mindermann et al. 2022 RHO-LOSS): score each document by
    its EXCESS loss — here the corpus's own bigram bits/token minus its
    unigram bits/token, i.e. how much harder the text is under context
    than its vocabulary alone predicts (the reference-model role the
    papers fill with a holdout model). Both distribution tails are
    dropped: far-negative excess is boilerplate the context model has
    memorized; far-positive is noise no context helps — the keep band is
    the "learnable and worth learning" middle.

    Output per doc (docs with >= 2 tokens — a bigram score needs one):
    (doc_id, unigram_bpt, bigram_bpt, excess_bits, keep).

    Determinism: composes the two oracle-paired LM scores (ppl1/ppl2 —
    their decimal disciplines carry over); each bits/token is one
    double division of an exact decimal total rounded to 9 dp, the
    difference rounds to 6 dp with the signed-zero guard; the band test
    runs on the rounded value in both engines. Plan: the two LM passes'
    keyed shuffles + one doc_id join — nothing new at 100 TB."""
    p1 = ppl1_unigram_logloss(documents).select(
        "doc_id",
        F.round(F.col("total_bits") / F.col("n_tokens"), 9).alias("_u9"),
    )
    p2 = ppl2_bigram_logloss(documents).select(
        "doc_id",
        F.round(F.col("total_bits") / F.col("n_bigrams"), 9).alias("_b9"),
    )
    excess = F.round(F.col("_b9") - F.col("_u9"), 6) + F.lit(0.0)
    return (
        p1.join(p2, "doc_id")
        .select(
            "doc_id",
            F.round(F.col("_u9"), 6).alias("unigram_bpt"),
            F.round(F.col("_b9"), 6).alias("bigram_bpt"),
            excess.alias("excess_bits"),
            ((excess >= F.lit(float(lo))) & (excess <= F.lit(float(hi)))).alias(
                "keep"
            ),
        )
        .orderBy("doc_id")
    )


def pmi1_collocations(
    documents: DataFrame, min_count: int = 5, k: int = 50
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information
    (Church & Hanks 1990, "Word Association Norms, Mutual Information,
    and Lexicography") — the classic corpus-linguistics pass a training
    pipeline runs to surface multi-word expressions worth protecting
    from tokenizer splits (and to seed phrase-level dedup/boilerplate
    lists, cf. bp1). PMI(w1,w2) = log2( p(w1,w2) / (p(w1)·p(w2)) ) with
    p() from the corpus's own counts; a `min_count` floor drops the
    low-frequency pairs whose PMI is pure noise (the published
    discipline — PMI is maximized by hapax pairs).

    Determinism contract (ppl1/dsir1 family): every probability is a
    ratio of exact integer counts; the score is a FIXED tree of five
    log2 calls over those integers — round(log2(c_bg) - log2(n_bg)
    - log2(c1) - log2(c2) + 2·log2(n_tok), 9) — identical IEEE ops in
    both engines, then the top-k total order is (pmi DESC, w1, w2)
    on the ROUNDED value (w1/w2 ordering equals bigram-key ordering
    because \\x01 sorts below every token byte).

    Plan at 100 TB: one bigram combining agg + one token combining agg
    (both map-side partial), the two 1-row totals broadcast, the
    min_count-filtered collocation table (vocab²-bounded, corpus-scale
    free) joins token counts on its two word keys, and top-k is
    TakeOrderedAndProject — no global sort, no window, no driver data
    beyond k rows."""
    base = fan_out(documents.filter(F.col("text").isNotNull()))
    toks = base.select(F.explode(_norm_tokens()).alias("tok"))
    tok_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_tok"))
    n_tok = tok_counts.agg(F.sum("c_tok").alias("n_tok"))
    grams = base.select(F.explode(_word_ngrams(_norm_tokens(), 2)).alias("bg"))
    bg_counts = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    n_bg = bg_counts.agg(F.sum("c_bg").alias("n_bg"))
    cand = bg_counts.filter(F.col("c_bg") >= min_count).select(
        F.split(F.col("bg"), "\x01").getItem(0).alias("w1"),
        F.split(F.col("bg"), "\x01").getItem(1).alias("w2"),
        "c_bg",
    )
    c1 = tok_counts.withColumnRenamed("tok", "w1").withColumnRenamed("c_tok", "c1")
    c2 = tok_counts.withColumnRenamed("tok", "w2").withColumnRenamed("c_tok", "c2")
    pmi = F.round(
        F.log2(F.col("c_bg").cast("double"))
        - F.log2(F.col("n_bg").cast("double"))
        - F.log2(F.col("c1").cast("double"))
        - F.log2(F.col("c2").cast("double"))
        + F.lit(2.0) * F.log2(F.col("n_tok").cast("double")),
        9,
    )
    return (
        cand.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n_bg))
        .crossJoin(F.broadcast(n_tok))
        .select(
            "w1",
            "w2",
            F.col("c_bg").cast("long").alias("c_bigram"),
            (pmi + F.lit(0.0)).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )


def kn1_kneser_ney_logloss(documents: DataFrame) -> DataFrame:
    """Per-document interpolated Kneser-Ney bigram log-loss — the
    smoothing that made n-gram LMs competitive (Kneser & Ney 1995;
    Chen & Goodman 1999 empirical study), and a sharper perplexity
    proxy than ppl2's Laplace floor: the continuation probability
    P_cont(w) = N1+(·,w) / |bigram types| replaces the uniform 1/V
    back-off, so words that appear in many CONTEXTS (not just often)
    absorb the discounted mass. Score per doc:
    sum over bigram instances of -log2 P_KN(w|prev), with
    P_KN = (c(prev,w) - D)/c(prev,·) + D·N1+(prev,·)/c(prev,·) · P_cont(w),
    D = 0.75 (the Chen-Goodman default). Trained on the corpus itself,
    every scored bigram has c >= 1 > D, so the max(c-D, 0) clamp is
    vacuous and omitted.

    Determinism (ppl1/ppl2 discipline): all five statistics are exact
    integers; P_KN is ONE fixed double expression tree mirrored
    verbatim in the oracle; -log2 rounds to 9 dp into DECIMAL(20,12)
    and the per-doc weighted sum runs in DECIMAL (order-free); the
    exact total ships beside the doc's bigram count.

    Plan at 100 TB: one (doc, bigram) combining agg + one bigram-type
    corpus agg; prefix stats (c_prev, N1+(prev,·)) and continuation
    counts (N1+(·,w)) are RE-COMBINES of the bigram-type table (vocab-
    bounded, corpus-scale free); the 1-row type total broadcasts; two
    keyed joins back on the bigram's halves. No window, no driver
    data."""
    grams = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id", F.explode(_word_ngrams(_norm_tokens(), 2)).alias("bg")
    )
    per_doc_bg = grams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    bg_counts = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    prefix = F.split(F.col("bg"), "\x01").getItem(0)
    suffix = F.split(F.col("bg"), "\x01").getItem(1)
    prev_stats = bg_counts.groupBy(prefix.alias("prev")).agg(
        F.sum("c_bg").alias("c_prev"), F.count(F.lit(1)).alias("n1p_prev")
    )
    cont_counts = bg_counts.groupBy(suffix.alias("w")).agg(
        F.count(F.lit(1)).alias("n1p_w")
    )
    n_types = bg_counts.agg(F.count(F.lit(1)).alias("n_types"))
    p_kn = (
        (F.col("c_bg").cast("double") - F.lit(0.75))
        / F.col("c_prev").cast("double")
    ) + (
        ((F.lit(0.75) * F.col("n1p_prev").cast("double")) / F.col("c_prev").cast("double"))
        * (F.col("n1p_w").cast("double") / F.col("n_types").cast("double"))
    )
    bits = F.round(-F.log2(p_kn), 9).cast("decimal(20,12)")
    contrib = F.col("c").cast("decimal(12,0)") * bits
    return (
        per_doc_bg.join(bg_counts, "bg")
        .join(prev_stats, F.split(F.col("bg"), "\x01").getItem(0) == F.col("prev"))
        .join(cont_counts, F.split(F.col("bg"), "\x01").getItem(1) == F.col("w"))
        .crossJoin(F.broadcast(n_types))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(contrib).cast("double").alias("total_bits"),
        )
        .orderBy("doc_id")
    )


def lex1_lexical_diversity(documents: DataFrame) -> DataFrame:
    """Per-document lexical-diversity signals — type-token ratio and
    hapax-legomenon fraction, the classic vocabulary-richness pair a
    quality pipeline reads next to gq1's rule battery (low TTR flags
    template/spam text; high hapax share flags OCR noise and garbled
    encodings).

    ZERO-shuffle shape: everything is a pure Column expression over the
    per-row token array (sort_array + adjacency compare), so the op
    rides the scan like gq1 — at 100 TB it fuses into whatever pass
    reads the corpus next. Hapax counting never indexes position 0
    (ANSI element_at aborts): the sorted array is compared against its
    own 1-shifted slices via zip_with, with explicit false-padding at
    both ends. Equal tokens are adjacent under ANY total sort order, so
    Spark's sort_array and the oracle's list_sort agree without a
    collation contract. Reference: csv-crm-upload has no text surface;
    this extends the SURVEY training-ops mandate."""
    toks = _norm_tokens()
    s = F.sort_array(toks)
    n = F.size(s)
    n_types = F.size(F.array_distinct(s))
    # e[j] = (s[j] == s[j+1]), length n-1 (empty when n = 1)
    e = F.zip_with(
        F.slice(s, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(s, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: a == b,
    )
    pad = F.array(F.lit(False))
    eq_prev = F.concat(pad, e)  # eq_prev[i] = s[i] == s[i-1]
    eq_next = F.concat(e, pad)  # eq_next[i] = s[i] == s[i+1]
    n_hapax = F.aggregate(
        F.zip_with(
            eq_prev,
            eq_next,
            lambda a, b: F.when(~a & ~b, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    denom = F.greatest(n, F.lit(1)).cast("double")
    return fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        n_types.cast("long").alias("n_types"),
        F.round(n_types.cast("double") / denom, 6).alias("ttr"),
        n_hapax.cast("long").alias("n_hapax"),
        F.round(n_hapax.cast("double") / denom, 6).alias("hapax_frac"),
    )


def heaps1_vocab_growth(documents: DataFrame, buckets: int = 10) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct-type count
    vs cumulative token count at `buckets` corpus checkpoints in doc_id
    order — the readout that sizes a tokenizer vocabulary and predicts
    how much NEW vocabulary the next 10× of data will bring (V ≈ K·n^β;
    a flattening curve says more data adds few new types).

    The distributed trick: cumulative-distinct is NOT computed as a
    running set. Each type is attributed to the ONE document where it
    first appears (min doc_id per 60-bit token hash — one keyed combining
    agg), so cum_types at a checkpoint is a plain SUM of per-bucket
    new-type counts: two keyed shuffles + a 10-row cumsum, nothing
    corpus-sized ordered. Bucketing is ordered.ntile (range
    repartition — never a single-task global window); the final window
    orders `buckets` rollup rows, bounded by the parameter, not the
    corpus."""
    from pyspark.sql import Window

    live = fan_out(documents.filter(F.col("text").isNotNull()))
    toks = live.select("doc_id", F.explode(_norm_tokens()).alias("tok"))
    first_occ = toks.groupBy(md5_60(F.col("tok")).alias("th")).agg(
        F.min("doc_id").alias("doc_id")
    )
    new_types = first_occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    per_doc = live.select(
        "doc_id", F.size(_norm_tokens()).cast("long").alias("n_toks")
    ).join(new_types, "doc_id", "left")
    bucketed = ntile(per_doc, ["doc_id"], buckets, "bucket")
    g = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").alias("s_t"),
        F.sum(F.coalesce(F.col("n_new"), F.lit(0))).alias("s_n"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.select(
            "bucket",
            "n_docs",
            F.sum("s_t").over(w).cast("long").alias("cum_tokens"),
            F.sum("s_n").over(w).cast("long").alias("cum_types"),
        )
        .orderBy("bucket")
    )


def cov1_vocab_coverage(
    documents: DataFrame, checkpoints: tuple = (10, 100, 1000, 10000)
) -> DataFrame:
    """Top-V vocabulary coverage curve: what fraction of all corpus
    tokens the V most frequent types cover, at fixed V checkpoints —
    the readout that picks a tokenizer/embedding vocabulary size
    (coverage(V) near 1 says a V-type vocab OOVs almost nothing).

    Scale shape: one combining token-count agg (keys are 60-bit
    hashes), then a running count for the frequency
    rank — range-repartitioned, never a single-task sort over the
    vocabulary — a map-only checkpoint-bucket assignment, and a
    ≤len(checkpoints)-row cumsum. Types ranked past the last
    checkpoint contribute only to the total (broadcast 1-row).
    Checkpoints with no types in their rank band (vocab smaller than
    the previous checkpoint) are absent in BOTH engines — the curve is
    data-derived, not padded."""
    from pyspark.sql import Window

    toks = fan_out(documents.filter(F.col("text").isNotNull())).select(
        F.explode(_norm_tokens()).alias("tok")
    )
    counts = toks.groupBy(md5_60(F.col("tok")).alias("th")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("n_total"))
    ranked, _ = running(
        counts.withColumn("neg_n", -F.col("n")),
        ["neg_n", "th"],
        {"rnk": ("count", None)},
    )
    bucket = F.lit(None).cast("int")
    for cp in sorted(checkpoints, reverse=True):
        bucket = F.when(F.col("rnk") <= cp, F.lit(cp)).otherwise(bucket)
    banded = ranked.select(bucket.alias("v"), "n").filter(F.col("v").isNotNull())
    g = banded.groupBy("v").agg(
        F.count(F.lit(1)).alias("b_types"), F.sum("n").alias("b_tokens")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.crossJoin(F.broadcast(total))
        .select(
            "v",
            F.sum("b_types").over(w).cast("long").alias("n_types"),
            F.sum("b_tokens").over(w).cast("long").alias("covered_tokens"),
            F.round(
                F.sum("b_tokens").over(w).cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("coverage"),
        )
        .orderBy("v")
    )


def tfidf1_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic keyword/topic
    readout a curation pipeline uses for corpus browsing, cluster
    naming, and topic-balance audits. idf = log2(N/df) over the live
    corpus; score = tf · idf, ranked per doc with the term string as
    the deterministic tiebreaker.

    Scale: one (doc, term) combining agg, one term-keyed df agg joined
    back on the term (two keyed shuffles), the 1-row N broadcast; the
    top-k window partitions by doc_id — per-doc cardinality, the
    hash-partitioned window's home turf (each partition is one
    document's distinct terms, never a corpus funnel)."""
    from pyspark.sql import Window

    live = fan_out(documents.filter(F.col("text").isNotNull()))
    toks = live.select("doc_id", F.explode(_norm_tokens()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = live.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(
        F.log2(F.col("n_docs").cast("double") / F.col("df").cast("double")), 9
    )
    # score is the RAW product: int tf × 9-dp idf is ONE IEEE multiply,
    # bit-identical in both engines — rounding it to 6 dp would land on
    # the systematic half-way boundaries (9-dp × integer) where Spark's
    # BigDecimal HALF_UP and DuckDB's scaled-double rounding disagree
    scored = (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (F.col("tf").cast("double") * idf).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "score", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("doc_id", "rnk")
    )


def js1_source_divergence(documents: DataFrame) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between the unigram
    distributions of every source pair — the corpus-composition
    dissimilarity matrix behind mixing decisions: near-0 pairs are
    redundant sources, high pairs are the diversity a mixture needs
    (and the drift alarm when one source suddenly diverges from its
    siblings). Symmetric, bounded [0,1] bit, defined even where KL is
    infinite — the reason JS, not drift1's KL, is the pairwise choice.

    The full-outer-join-per-pair trap is avoided with a membership
    fan-out: each source's (token, p) rows are tagged onto every pair
    they belong to (sources are a handful, pairs = k(k-1)/2) via ONE
    broadcast join against the tiny (source → pair, role) membership
    frame, then ONE keyed agg on (pair, token-hash) rebuilds the
    aligned (p, q) vectors — tokens private to one side arrive with
    the other side 0, exactly the full-outer semantics, with no
    vocab-scale join at all. The corpus-derived `dist` frame is
    consumed exactly ONCE (a two-sided union would plan its whole
    upstream twice), and the per-source totals broadcast (|sources|
    rows), so the op is two combining aggs + one pair agg. Token rows
    replicate ×(k-1): vocabulary-scale, never corpus-scale. Per-term
    surprisal is rounded to 9 dp then DECIMAL-summed (ppl1's
    order-free discipline). NULL sources are excluded identically in
    both engines (a NULL 'source' is not a source)."""
    toks = fan_out(documents.filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )).select("source", F.explode(_norm_tokens()).alias("tok"))
    cnt = toks.groupBy("source", md5_60(F.col("tok")).alias("th")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # |sources| rows — pinning it keeps the pairs/membership/broadcast
    # subtrees (FOUR consumers) from each re-planning the corpus aggs
    tot = (
        cnt.groupBy("source")
        .agg(F.sum("c").alias("t"))
        .localCheckpoint(eager=True)
    )
    dist = cnt.join(F.broadcast(tot), "source").select(
        "source", "th", (F.col("c").cast("double") / F.col("t").cast("double")).alias("p")
    )
    srcs = tot.select("source")
    pairs = (
        srcs.alias("a")
        .crossJoin(srcs.alias("b"))
        .filter(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
    )
    membership = pairs.select(
        F.col("source_a").alias("source"), "source_a", "source_b",
        F.lit("a").alias("role"),
    ).unionByName(
        pairs.select(
            F.col("source_b").alias("source"), "source_a", "source_b",
            F.lit("b").alias("role"),
        )
    )
    u = (
        dist.join(F.broadcast(membership), "source")
        .groupBy("source_a", "source_b", "th")
        .agg(
            F.sum(F.when(F.col("role") == "a", F.col("p")).otherwise(F.lit(0.0))).alias("p"),
            F.sum(F.when(F.col("role") == "b", F.col("p")).otherwise(F.lit(0.0))).alias("q"),
        )
    )
    m2 = F.col("p") + F.col("q")  # 2·m
    term_p = F.when(
        F.col("p") > 0,
        F.round(F.lit(0.5) * F.col("p") * F.log2(F.lit(2.0) * F.col("p") / m2), 9),
    ).otherwise(F.lit(0.0))
    term_q = F.when(
        F.col("q") > 0,
        F.round(F.lit(0.5) * F.col("q") * F.log2(F.lit(2.0) * F.col("q") / m2), 9),
    ).otherwise(F.lit(0.0))
    contrib = (term_p.cast("decimal(20,12)") + term_q.cast("decimal(20,12)"))
    return (
        u.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_union_types"),
            F.round(F.sum(contrib).cast("double"), 6).alias("js_bits"),
        )
        .orderBy("source_a", "source_b")
    )


def ccnet1_perplexity_buckets(documents: DataFrame, q: int = 3) -> DataFrame:
    """CCNet-style per-LANGUAGE perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): within each language, rank documents by unigram
    bits-per-token and NTILE into q buckets — head (lowest loss, most
    fluent), middle, tail — the partition CCNet publishes and most
    multilingual pipelines keep only head+middle of. cur1 is the GLOBAL
    curriculum variant; CCNet's defining property is that the quantiles
    are per-language, so low-resource languages are not drowned by the
    dominant one's loss scale.

    Composes the round-7 per-group machinery: bits-per-token is ppl1's
    decimal-exact sum divided once (9 dp), ranking is
    a grouped running count (group-prefixed range partitioning — a
    handful of languages never funnel through single tasks), the bucket
    is the closed-form grouped_ntile_expr, and NULL langs form their own
    group on both engines (the window's NULL-partition semantics)."""
    base = ppl1_unigram_logloss(documents)
    scored = base.join(
        documents.select("doc_id", "lang"), "doc_id"
    ).select(
        "doc_id",
        "lang",
        F.round(F.col("total_bits") / F.col("n_tokens").cast("double"), 9).alias(
            "bpt"
        ),
    )
    ranked, _ = running(scored, ["bpt", "doc_id"], {"_rn": ("count", None)}, ["lang"])
    phase = grouped_ntile_expr("_rn", "_rn_total", q)
    named = F.when(phase == 1, F.lit("head")).when(
        phase == q, F.lit("tail")
    ).otherwise(F.lit("middle"))
    return (
        ranked.select("lang", phase.alias("phase"), named.alias("bucket"), "bpt")
        .groupBy("lang", "phase", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("bpt").alias("min_bpt"),
            F.max("bpt").alias("max_bpt"),
        )
        .orderBy("lang", "phase")
    )


def rd1_readability(documents: DataFrame) -> DataFrame:
    """Per-document readability signals — words per sentence, syllable
    proxy (vowel-group count) per word, and the Flesch reading-ease
    combination 206.835 − 1.015·(W/S) − 84.6·(Y/W) — the classic
    quality gate next to gq1's rule battery (very low scores flag
    legalese/boilerplate, impossibly high ones flag token soup).

    ZERO-shuffle: all four signals are Column expressions riding the
    scan (regexp_count for sentences and vowel groups — no explode, no
    UDF). Determinism: W, S, Y are exact integers; the score is ONE
    fixed tree of integer-fed IEEE ops, identical in the oracle, so it
    ships RAW — a final round would land on half-way points (tfidf1's
    lesson). Sentence count floors at 1 (unpunctuated text is one
    sentence), so the divisions are total."""
    toks = _norm_tokens()
    low = F.lower(F.trim(F.col("text")))
    n_words = F.size(toks)
    n_sents = F.greatest(F.regexp_count(low, F.lit(r"[.!?]+")), F.lit(1))
    n_vgroups = F.regexp_count(low, F.lit(r"[aeiouy]+"))
    wps = n_words.cast("double") / n_sents.cast("double")
    ypw = n_vgroups.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    score = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * ypw
    return (
        fan_out(documents.filter(F.col("text").isNotNull() & (F.trim(F.col("text")) != "")))
        .select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            n_sents.cast("long").alias("n_sentences"),
            n_vgroups.cast("long").alias("n_vowel_groups"),
            score.alias("flesch"),
        )
    )


def shard1_balanced_shards(documents: DataFrame, n_shards: int = 8) -> DataFrame:
    """Balanced shard layout for the corpus — the WRITE-side operator a
    100 TB training run needs: assign documents to n_shards output
    shards so per-shard token mass is even (a skewed shard is the
    long-pole task of every downstream epoch). Deterministic snake
    packing: rank docs by (token count DESC, doc_id), then fold the
    rank serpentine-wise across shards (0..N−1, N−1..0, …) — the
    classic online-balancing shape that keeps every shard within one
    document of the same rank-stratum mix, with NO driver-side greedy
    loop to serialize.

    Scale: ranking is a running count (range repartition — never a
    single-task global sort); the shard id is a pure integer expression
    of the rank; the readout is one ≤n_shards-group agg. Returns the
    per-shard manifest (doc/token totals) — the writer would
    repartition on shard_id and write partitionBy the same column."""
    sized = fan_out(documents.filter(F.col("text").isNotNull())).select(
        "doc_id", F.size(_norm_tokens()).cast("long").alias("n_toks")
    )
    ranked, _ = running(
        sized.withColumn("_neg", -F.col("n_toks")),
        ["_neg", "doc_id"],
        {"rnk": ("count", None)},
    )
    pos = (F.col("rnk") - 1) % (2 * n_shards)
    shard = F.when(pos < n_shards, pos).otherwise(2 * n_shards - 1 - pos).cast("int")
    return (
        ranked.select(shard.alias("shard_id"), "n_toks")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
        .orderBy("shard_id")
    )


def mi1_lang_source_mi(documents: DataFrame) -> DataFrame:
    """Mutual information between a document's language and its source
    (bits) — the corpus-composition association audit: MI near 0 says
    languages are spread evenly across sources (a balanced scrape);
    high MI says language coverage is locked to specific sources, so
    dropping one source silently drops a language. Returns the per-cell
    PMI contributions plus the summable joint probability — the full
    decomposition, so the MI total AND the dominating cells are one
    readout.

    One (lang, source) combining agg + two broadcast marginal joins
    (|langs| and |sources| rows — both bounded domains); contribution =
    p_xy·log2(p_xy/(p_x·p_y)) rounded 9 dp (the ppl1 discipline — the
    reader's MI total is an order-free decimal sum away). NULL lang or
    source rows are excluded identically in both engines (NULL is
    absence-of-label, not a label)."""
    live = documents.filter(
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    # |langs|·|sources| rows — pinning it means the marginals, the
    # total, and the main join all scan the checkpoint instead of each
    # re-planning the corpus agg (7 → 4 exchanges measured), and the
    # total comes from the joint (Σ n_xy = |live|), not a second
    # corpus pass
    joint = (
        live.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
        .localCheckpoint(eager=True)
    )
    n_total = joint.agg(F.sum("n_xy").cast("long").alias("n"))
    mx = joint.groupBy("lang").agg(F.sum("n_xy").cast("long").alias("n_x"))
    my = joint.groupBy("source").agg(F.sum("n_xy").cast("long").alias("n_y"))
    p_xy = F.col("n_xy").cast("double") / F.col("n").cast("double")
    p_x = F.col("n_x").cast("double") / F.col("n").cast("double")
    p_y = F.col("n_y").cast("double") / F.col("n").cast("double")
    contrib = F.round(p_xy * F.log2(p_xy / (p_x * p_y)), 9)
    return (
        joint.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(n_total))
        .select(
            "lang",
            "source",
            "n_xy",
            F.round(p_xy, 9).alias("p_xy"),
            contrib.alias("mi_contrib_bits"),
        )
        .orderBy("lang", "source")
    )


def chi21_lang_source_chi2(documents: DataFrame) -> DataFrame:
    """Chi-square independence cells for the (lang, source) contingency
    table — mi1's frequentist companion: where MI reports the association
    STRENGTH in bits, the chi² cells say which (lang, source) pairings
    are significantly over/under-represented against the independence
    expectation e = n_x·n_y/n (Pearson's classic). Returns EVERY cell of
    the |langs|×|sources| table — including observed-ZERO cells, whose
    (0−e)²/e = e contribution MI silently drops but chi² requires —
    with observed count, expected count, and the per-cell term; the
    statistic is SUM(chi2_term), dof = (|langs|−1)·(|sources|−1).

    Cross-engine exactness: observed counts are exact longs; expected
    and each term are POINTWISE IEEE doubles of those longs (identical
    in both engines), 9-dp rounded with the signed-zero normalizer; no
    cross-row float sum happens here. NULL lang/source rows are excluded
    as in mi1 (absence-of-label, not a label).

    Scale shape: ONE (lang, source) combining agg over the scan,
    checkpointed at its bounded |langs|·|sources| size (the mi1 pin);
    marginals, the densifying lang×source cross join (both domains
    provably bounded — the js1 sanction), and the observed join all
    read/broadcast that tiny table. Zero corpus rows → EMPTY frame."""
    live = documents.filter(
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    joint = (
        live.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
        .localCheckpoint(eager=True)
    )
    n_total = joint.agg(F.sum("n_xy").cast("long").alias("n"))
    mx = joint.groupBy("lang").agg(F.sum("n_xy").cast("long").alias("n_x"))
    my = joint.groupBy("source").agg(F.sum("n_xy").cast("long").alias("n_y"))
    e = (
        F.col("n_x").cast("double")
        * F.col("n_y").cast("double")
        / F.col("n").cast("double")
    )
    obs = F.coalesce(F.col("n_xy"), F.lit(0)).cast("long")
    term = F.round((obs.cast("double") - e) * (obs.cast("double") - e) / e, 9)
    return (
        mx.crossJoin(F.broadcast(my))
        .join(F.broadcast(joint), ["lang", "source"], "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "lang",
            "source",
            obs.alias("n_obs"),
            (F.round(e, 9) + F.lit(0.0)).alias("n_exp"),
            (term + F.lit(0.0)).alias("chi2_term"),
        )
        .orderBy("lang", "source")
    )


def iqr1_source_length_outliers(documents: DataFrame) -> DataFrame:
    """Per-source document-length outlier audit via the Tukey fence —
    the curation triage view: for each source, the EXACT nearest-rank
    quartiles of n_chars, the count of documents outside
    [q1 − 1.5·IQR, q3 + 1.5·IQR], and the outlier rate. A source whose
    rate spikes is shipping truncated fragments or concatenated blobs;
    its mixing weight and dedup settings should see this before the
    tokenizer does.

    Exactness: quartiles use pctl2's pure-integer nearest-rank rule
    ((q·n + 99) // 100 thresholds, MIN over the qualifying tail — no
    interpolation), computed per source over the (source, n_chars)
    DISTINCT-value grid; fences are pointwise IEEE doubles of exact
    longs; the flag is a pure comparison. Both engines agree bit-wise
    at every step. NULL source/n_chars rows are excluded identically.

    Scale shape: one (source, n_chars) combining agg collapses 100 TB
    to the bounded grid (|sources| · distinct lengths); the running
    counts window partitions BY SOURCE over that grid — parallel across
    sources, never a single-task global window (each source's grid is
    length-domain-bounded, the asof/session convention); thresholds are
    a |sources|-row broadcast back onto the scan-shaped flag pass."""
    from pyspark.sql import Window

    live = documents.filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    )
    grid = live.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.withColumn("cum", F.sum("c").over(w).cast("long"))
    # per-source totals are the running count's own partition max — the
    # unordered max window shares the source hash partitioning with the
    # running sum (and the groupBy below), so quartile extraction adds
    # ZERO exchanges beyond the one the window already pays
    cg = cum.withColumn(
        "n_docs", F.max("cum").over(Window.partitionBy("source")).cast("long")
    )

    def rank(q: int):
        # pure-integer nearest-rank threshold (the pctl2 rule): never a
        # float q·n whose last ulp could flip the ceiling at exact
        # multiples once n outgrows double's exact range
        return F.expr(f"CAST(({q} * n_docs + 99) DIV 100 AS BIGINT)")

    picks = cg.groupBy("source").agg(
        F.max("n_docs").alias("n_docs"),
        F.min(F.when(F.col("cum") >= rank(25), F.col("n_chars"))).alias("q1"),
        F.min(F.when(F.col("cum") >= rank(75), F.col("n_chars"))).alias("q3"),
    )
    iqr = F.col("q3").cast("double") - F.col("q1").cast("double")
    lo = F.col("q1").cast("double") - F.lit(1.5) * iqr
    hi = F.col("q3").cast("double") + F.lit(1.5) * iqr
    th = picks.select("source", "n_docs", "q1", "q3", lo.alias("lo"), hi.alias("hi"))
    flagged = live.join(F.broadcast(th), "source").select(
        "source", "n_docs", "q1", "q3",
        (
            (F.col("n_chars").cast("double") < F.col("lo"))
            | (F.col("n_chars").cast("double") > F.col("hi"))
        ).cast("int").alias("is_out"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            F.max("q1").cast("long").alias("q1"),
            F.max("q3").cast("long").alias("q3"),
            F.sum("is_out").cast("long").alias("n_outliers"),
            F.round(
                F.sum("is_out").cast("double") / F.max("n_docs").cast("double"), 6
            ).alias("outlier_rate"),
        )
        .orderBy("source")
    )


def conc1_source_concentration(documents: DataFrame) -> DataFrame:
    """Corpus-composition concentration in one row — the balance audit a
    curator reads before setting mixing weights: the Gini coefficient
    and the Herfindahl–Hirschman index of document counts across
    sources. Gini near 0 = evenly scraped; near 1 = one source IS the
    corpus (so per-source quality signals are really global signals and
    a single takedown request guts the dataset). HHI is the antitrust
    cousin on a 0–1 scale (Σ share²).

    Exactness: counts are exact longs; Gini uses the integer rank form
    G = Σᵢ (2i − S − 1)·cᵢ / (S·n) over sources ranked ascending by
    (count, source) — the numerator and denominator are EXACT integer
    arithmetic, one double division at the end (both engines identical);
    HHI terms round to 12 dp into DECIMAL(38,12) (order-free sums), one
    6-dp readout each. NULL sources excluded (absence-of-label).

    Scale shape: ONE combining groupBy collapses the corpus to
    |sources| rows; the rank window runs over THAT bounded frame (a
    |sources|-row single partition — domain-bounded, never corpus-
    sized); the readout is one row."""
    from pyspark.sql import Window

    per = (
        documents.filter(F.col("source").isNotNull())
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.orderBy("c", "source")
    # checkpoint the |sources|-row reduction ONCE: the gini stats and
    # the hhi branch both read it, and without the pin each branch
    # would re-run the corpus groupBy (the mmd1/mi1 sanction)
    ranked = per.select(
        "c",
        F.row_number().over(w).cast("long").alias("i"),
    ).localCheckpoint(eager=True)
    hhi_term = F.round(
        (F.col("c").cast("double") / F.col("n").cast("double"))
        * (F.col("c").cast("double") / F.col("n").cast("double")),
        12,
    ).cast("decimal(38,12)")
    stats = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("i") * F.col("c") * F.lit(2)).cast("long").alias("wsum"),
    )
    base = stats.select(
        F.col("s").alias("n_sources"),
        F.col("n").alias("n_docs"),
        F.round(
            (
                F.col("wsum").cast("double")
                - (F.col("s") + F.lit(1)).cast("double") * F.col("n").cast("double")
            )
            / (F.col("s").cast("double") * F.col("n").cast("double")),
            6,
        ).alias("gini"),
    )
    hhi = (
        ranked.crossJoin(F.broadcast(stats.select("n")))
        .select(hhi_term.alias("t"))
        .agg(F.round(F.sum("t").cast("double"), 6).alias("hhi"))
    )
    return (
        base.crossJoin(F.broadcast(hhi))
        .select(
            "n_sources", "n_docs",
            (F.col("gini") + F.lit(0.0)).alias("gini"), "hhi",
        )
        # zero live sources: concentration of nothing is undefined —
        # EMPTY frame, not a 0/0 NaN row (identically cross-engine)
        .filter(F.col("n_sources") > 0)
    )


def gt1_good_turing_mass(documents: DataFrame) -> DataFrame:
    """Good–Turing unseen-probability mass per source (Good 1953): the
    share of the next token expected to be NOVEL is estimated by the
    hapax rate N1/N, and the Turing-discounted count for
    once-seen tokens is r* = 2·N2/N1 — the coverage diagnostics a
    tokenizer/LM pipeline reads next to heaps1's vocab growth and
    cov1's coverage curve (kn1's absolute discount is the same idea
    baked into a smoother; THIS reports the raw mass).

    Scale shape: one (source, tok) combining agg over the token scan,
    then a per-source rollup of the ≤|vocab| count rows — the t7/t9
    shuffle shape, no new pattern.

    Cross-engine exactness: N, V, N1, N2 are exact longs from the
    shared explicit whitespace class (MG_WS — each engine's own \\s
    differs on \\x0B); the two ratios are double divisions of exact
    longs rounded to 6 dp, NULL when their denominator is zero (a
    source of all-empty docs has no hapax rate, and r* is undefined
    without hapaxes)."""
    toks = (
        fan_out(documents.filter(F.col("text").isNotNull()))
        .select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), MG_WS + "+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    counts = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n1 = F.sum((F.col("c") == 1).cast("long")).cast("long")
    n2 = F.sum((F.col("c") == 2).cast("long")).cast("long")
    agg = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        n1.alias("n_hapax"),
        n2.alias("n_dis"),
    )
    p_unseen = F.when(
        F.col("n_tokens") > 0,
        F.round(F.col("n_hapax").cast("double") / F.col("n_tokens").cast("double"), 6)
        + F.lit(0.0),
    )
    r1_star = F.when(
        F.col("n_hapax") > 0,
        F.round(
            F.lit(2.0) * F.col("n_dis").cast("double") / F.col("n_hapax").cast("double"),
            6,
        )
        + F.lit(0.0),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_vocab",
        "n_hapax",
        "n_dis",
        p_unseen.alias("p_unseen"),
        r1_star.alias("r1_star"),
    ).orderBy("source")


def ney1_neyman_allocation(documents: DataFrame, budget: int = 1000) -> DataFrame:
    """Neyman-optimal sample allocation across sources (Neyman 1934):
    stratum h of size N_h with in-stratum std-dev S_h (of document
    length) gets budget · N_h·S_h / Σ N_k·S_k — the
    minimum-variance way to spend a labeling/eval budget over a mixed
    corpus, the quantitative sibling of mix1's share table.

    Scale shape: ONE map-side-combining agg produces each stratum's
    exact integer sufficient statistics (n, Σx, Σx²); everything after
    runs on ≤|sources| rows.

    Cross-engine exactness: the variance is computed from DECIMAL(38,0)
    integer sums via the textbook identity n·Σx² − (Σx)² over n(n−1)
    (exact integers → one double division → one correctly-rounded
    sqrt, so S_h is bit-identical in both engines); the cross-stratum
    normalizer uses the house micro-unit pattern — each stratum's
    N_h·S_h is rounded to integer MICROS and summed as BIGINT (exact,
    order-free) so no float-sum association order can leak in.
    Singleton and constant strata get S_h = 0 (no variance information
    → no Neyman weight); if EVERY stratum is weightless the allocation
    is NULL (undefined), not 0/0."""
    d38 = "decimal(38,0)"
    x = F.col("n_chars").cast(d38)
    stats = (
        documents.filter(F.col("n_chars").isNotNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(x).cast(d38).alias("sx"),
            F.sum(x * x).cast(d38).alias("sxx"),
        )
    )
    var = F.when(
        F.col("n_docs") > 1,
        (
            (
                F.col("n_docs").cast(d38) * F.col("sxx")
                - F.col("sx") * F.col("sx")
            ).cast("double")
            / (F.col("n_docs").cast("double") * (F.col("n_docs") - 1).cast("double"))
        ),
    ).otherwise(F.lit(0.0))
    s_h = F.sqrt(F.greatest(var, F.lit(0.0)))
    weighted = stats.select(
        "source",
        "n_docs",
        F.round(s_h, 6).alias("s_chars"),
        F.round(F.col("n_docs").cast("double") * s_h * F.lit(1e6), 0)
        .cast("long")
        .alias("w_micros"),
    )
    total = weighted.agg(
        F.coalesce(F.sum("w_micros"), F.lit(0)).cast("long").alias("w_total")
    )
    alloc = F.when(
        F.col("w_total") > 0,
        F.round(
            F.lit(float(budget))
            * F.col("w_micros").cast("double")
            / F.col("w_total").cast("double"),
            6,
        )
        + F.lit(0.0),
    )
    n_floor = F.when(
        F.col("w_total") > 0,
        F.floor(
            F.lit(float(budget))
            * F.col("w_micros").cast("double")
            / F.col("w_total").cast("double")
        ).cast("long"),
    )
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "s_chars",
            alloc.alias("alloc_exact"),
            n_floor.alias("n_alloc_floor"),
        )
        .orderBy("source")
    )


def kap1_cohens_kappa(documents: DataFrame) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between the t3 lang-ID heuristic and
    the labeled language, binarized to en/other — chance-corrected
    agreement, the eval-family companion to nb2's raw holdout accuracy
    (accuracy alone flatters a classifier on a skewed label mix; kappa
    subtracts the agreement a label-marginal guesser would get).

    Scale shape: t3's map-only scoring pass, then ONE 4-cell
    conditional agg — a scan plus a 1-row reduction.

    Cross-engine exactness: the 2×2 confusion cells are exact longs;
    p_o, p_e and kappa are arithmetic on those longs rounded to 6 dp;
    kappa is NULL when p_e = 1 (a single-cell confusion matrix has no
    chance-corrected signal — both engines would otherwise 0/0). NULL
    labels count as 'other' via NULL-safe equality, so every scored
    doc lands in exactly one cell."""
    pred = t3_lang_id(documents)
    pred_en = F.col("lang_pred") == "en"
    true_en = F.col("lang").eqNullSafe(F.lit("en"))
    cells = pred.agg(
        F.sum((pred_en & true_en).cast("long")).cast("long").alias("a"),
        F.sum((pred_en & ~true_en).cast("long")).cast("long").alias("b"),
        F.sum(((~pred_en) & true_en).cast("long")).cast("long").alias("c"),
        F.sum(((~pred_en) & ~true_en).cast("long")).cast("long").alias("d"),
    )
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    po = (F.col("a") + F.col("d")).cast("double") / n
    pe = (
        (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c")).cast("double")
        + (F.col("c") + F.col("d")).cast("double") * (F.col("b") + F.col("d")).cast("double")
    ) / (n * n)
    kappa = F.when(
        pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6) + F.lit(0.0)
    )
    return cells.filter((F.col("a") + F.col("b") + F.col("c") + F.col("d")) > 0).select(
        "a",
        "b",
        "c",
        "d",
        (F.round(po, 6) + F.lit(0.0)).alias("p_observed"),
        (F.round(pe, 6) + F.lit(0.0)).alias("p_expected"),
        kappa.alias("kappa"),
    )


def simp1_simpson_diversity(documents: DataFrame) -> DataFrame:
    """Simpson's diversity of the token distribution per source
    (Simpson 1949): D = Σ c·(c−1) / (N·(N−1)) is the probability two
    tokens drawn WITHOUT replacement are the same type; 1−D is the
    diversity curators track next to lex1's type/token ratio (TTR
    moves with document length; Simpson's pairwise form does not).

    Scale shape: the gt1/t7 shuffle shape — one (source, tok)
    combining agg, one per-source rollup of ≤|vocab| rows.

    Cross-engine exactness: c·(c−1) summed as exact DECIMAL(38,0)
    (c ≤ N can square past BIGINT at corpus scale), one double
    division rounded to 6 dp, NULL when N < 2 (no pair to draw)."""
    toks = (
        fan_out(documents.filter(F.col("text").isNotNull()))
        .select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), MG_WS + "+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    counts = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    d38 = "decimal(38,0)"
    c38 = F.col("c").cast(d38)
    agg = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum(c38 * (c38 - F.lit(1).cast(d38))).cast(d38).alias("same_pairs"),
    )
    n38 = F.col("n_tokens").cast(d38)
    denom = (n38 * (n38 - F.lit(1).cast(d38))).cast("double")
    simpson = F.when(
        F.col("n_tokens") > 1,
        F.round(F.col("same_pairs").cast("double") / denom, 6) + F.lit(0.0),
    )
    diversity = F.when(
        F.col("n_tokens") > 1,
        F.round(
            F.lit(1.0) - F.col("same_pairs").cast("double") / denom, 6
        )
        + F.lit(0.0),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_vocab",
        simpson.alias("simpson_d"),
        diversity.alias("diversity"),
    ).orderBy("source")


def cha1_chao1_richness(documents: DataFrame) -> DataFrame:
    """Chao1 species-richness estimate of the TRUE vocabulary per
    source (Chao 1984, bias-corrected form): V_est = V_obs +
    N1·(N1−1) / (2·(N2+1)) — "how much vocabulary haven't we seen
    yet", the forward-looking companion to gt1's unseen MASS (gt1
    says how often the next token is novel; Chao1 says how many novel
    TYPES remain). The bias-corrected form stays defined at N2 = 0.

    Scale shape and tokenization: identical to gt1 (one (source, tok)
    agg + one rollup; the shared explicit whitespace class).

    Cross-engine exactness: V, N1, N2 are exact longs; the correction
    is one double expression of those longs rounded to 6 dp; coverage
    = V_obs / V_est from the same exact inputs."""
    toks = (
        fan_out(documents.filter(F.col("text").isNotNull()))
        .select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), MG_WS + "+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    counts = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agg = counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.sum((F.col("c") == 2).cast("long")).cast("long").alias("n_dis"),
    )
    n1 = F.col("n_hapax").cast("double")
    n2 = F.col("n_dis").cast("double")
    est = F.col("n_vocab").cast("double") + n1 * (n1 - F.lit(1.0)) / (
        F.lit(2.0) * (n2 + F.lit(1.0))
    )
    return agg.select(
        "source",
        "n_vocab",
        "n_hapax",
        "n_dis",
        (F.round(est, 6) + F.lit(0.0)).alias("chao1_est"),
        (F.round(F.col("n_vocab").cast("double") / est, 6) + F.lit(0.0)).alias(
            "coverage"
        ),
    ).orderBy("source")


def llr1_dunning_collocations(
    documents: DataFrame, min_count: int = 5, k: int = 20
) -> DataFrame:
    """Top-k bigram collocations by Dunning's log-likelihood ratio
    (Dunning 1993, "Accurate Methods for the Statistics of Surprise
    and Coincidence") — the collocation test that FIXES pmi1's known
    bias: PMI is maximized by rare pairs, while G² = 2·Σ k·ln(k·N/E)
    over the 2×2 contingency table weights evidence by count, so
    frequent-but-dependent pairs rank first (the published reason
    corpus toolkits default to LLR). Marginals are POSITION counts
    (bigrams starting with w1 / ending with w2), the exact contingency
    the bigram stream defines — not pmi1's token-frequency proxies.

    Scale shape: pmi1's plan — one bigram combining agg; both marginal
    tables are vocab-bounded RE-COMBINES of it; the 1-row total
    broadcasts; top-k is TakeOrderedAndProject on the rounded score
    with a (w1, w2) total-order tiebreak. No window, no driver data
    beyond k rows.

    Cross-engine exactness: all nine cells/marginals are exact LONGS;
    G² is one fixed tree of x·ln(x) terms over those integers (the
    pmi1/bm25 ln-agreement precedent), rounded to 6 dp before the
    top-k order."""
    base = fan_out(documents.filter(F.col("text").isNotNull()))
    grams = base.select(F.explode(_word_ngrams(_norm_tokens(), 2)).alias("bg"))
    bg_counts = grams.groupBy("bg").agg(
        F.count(F.lit(1)).cast("long").alias("c_bg")
    )
    # bigram-type grain (vocab²-bounded), checkpointed: FOUR consumers
    # (marginals, total, candidates) read it — without the pin each
    # would re-run the corpus-scale bigram agg
    split = bg_counts.select(
        F.split(F.col("bg"), "\x01").getItem(0).alias("w1"),
        F.split(F.col("bg"), "\x01").getItem(1).alias("w2"),
        "c_bg",
    ).localCheckpoint(eager=True)
    first = split.groupBy("w1").agg(F.sum("c_bg").cast("long").alias("r1"))
    second = split.groupBy("w2").agg(F.sum("c_bg").cast("long").alias("c1"))
    tot = split.agg(F.sum("c_bg").cast("long").alias("nn"))
    cand = split.filter(F.col("c_bg") >= min_count)

    def xlx(c):
        d = c.cast("double")
        return F.when(c > 0, d * F.log(d)).otherwise(F.lit(0.0))

    k11 = F.col("c_bg")
    k12 = F.col("r1") - F.col("c_bg")
    k21 = F.col("c1") - F.col("c_bg")
    k22 = F.col("nn") - F.col("r1") - F.col("c1") + F.col("c_bg")
    r2_ = F.col("nn") - F.col("r1")
    c2_ = F.col("nn") - F.col("c1")
    g2 = F.lit(2.0) * (
        xlx(k11)
        + xlx(k12)
        + xlx(k21)
        + xlx(k22)
        - xlx(F.col("r1"))
        - xlx(r2_)
        - xlx(F.col("c1"))
        - xlx(c2_)
        + xlx(F.col("nn"))
    )
    return (
        cand.join(first, "w1")
        .join(second, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c_bg").cast("long").alias("c_bigram"),
            (F.round(g2, 6) + F.lit(0.0)).alias("llr"),
        )
        .orderBy(F.desc("llr"), "w1", "w2")
        .limit(k)
    )


def dpn1_dp_noisy_counts(documents: DataFrame) -> DataFrame:
    """ε-differentially-private release of the (source, lang) document
    histogram under the two-sided geometric mechanism (Ghosh, Roughgarden
    & Sundararajan 2009 — the UTILITY-OPTIMAL discrete mechanism for
    count queries), in the sketch-audit family's CALIBRATION view: the
    true count rides beside the noised one so the realized error is
    auditable; a production release projects `released_n` only.

    Noise: G₁ − G₂ with Gᵢ ~ Geometric(1/2) gives the two-sided
    geometric with α = 1/2, i.e. ε = ln 2 per unit sensitivity. Each
    Gᵢ is drawn WITHOUT any float math: the trailing-ones count of a
    uniform md5-derived integer is exactly Geometric(1/2)
    (P(g ≥ j) = 2^{-j}), computed as bit_count(h XOR (h+1)) − 1 —
    pure integer ops both engines share bit-for-bit, so the "random"
    draw is deterministic per cell key and engine-identical (the
    md5_60 gate convention, extended to bit level).

    Scale shape: ONE (source, lang)-keyed combining agg; noise is a
    map-only expression on the ≤|sources|·|langs| result. NULL keys
    keep their cell via a CHR(1) hash sentinel (a byte no token
    carries), so the adversarial corpus exercises them."""
    h_a = md5_60(
        F.concat_ws(
            "|",
            F.lit("dpn1"),
            F.coalesce(F.col("source"), F.lit("\x01")),
            F.coalesce(F.col("lang"), F.lit("\x01")),
            F.lit("a"),
        )
    )
    h_b = md5_60(
        F.concat_ws(
            "|",
            F.lit("dpn1"),
            F.coalesce(F.col("source"), F.lit("\x01")),
            F.coalesce(F.col("lang"), F.lit("\x01")),
            F.lit("b"),
        )
    )

    def trailing_ones(h):
        return (F.bit_count(h.bitwiseXOR(h + F.lit(1))) - F.lit(1)).cast("long")

    cells = documents.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    noise = (trailing_ones(h_a) - trailing_ones(h_b)).alias("noise")
    return (
        cells.select(
            "source",
            "lang",
            "true_n",
            noise,
        )
        .select(
            "source",
            "lang",
            "true_n",
            "noise",
            (F.col("true_n") + F.col("noise")).cast("long").alias("noisy_n"),
            F.greatest(F.col("true_n") + F.col("noise"), F.lit(0))
            .cast("long")
            .alias("released_n"),
        )
        .orderBy(
            F.col("source").asc_nulls_first(), F.col("lang").asc_nulls_first()
        )
    )


def delta1_burrows_delta(documents: DataFrame, m: int = 25) -> DataFrame:
    """Burrows' Delta between sources (Burrows 2002, "'Delta': a
    Measure of Stylistic Difference"; Evert et al. 2017 for the modern
    formulation) — the stylometry standard: over the m most frequent
    corpus tokens, z-score each source's per-mille relative frequency
    against the across-source mean/sd, then Delta(a,b) is the mean
    |z_a − z_b|. A training-data curator reads it as "how much do two
    sources differ in FUNCTION-WORD style" — near-zero Delta between
    supposedly distinct sources flags siphoned/duplicated provenance
    that content-level dedup (dd*) misses, because style survives
    paraphrase.

    Scale shape: ONE (source, token) combining agg is the only
    corpus-scale pass; the top-m table is TakeOrderedAndProject and
    broadcasts; everything after runs on the DENSE |sources|·m grid
    (missing counts are REAL 0-frequency observations — a left join,
    never a dropped row) and the |sources|²·m pair stream — both
    bounded, corpus-scale free.

    Cross-engine exactness: relative frequencies land on NANO-per-mille
    LONGS (round(c·1000/T · 1e9)); across-source means come from exact
    long sums; squared deviations and |z_a − z_b| ride micro-unit LONG
    sums (order-free, theil1 discipline); z itself is one fixed double
    tree of those integers. Zero-variance tokens (every source at the
    same frequency) are excluded from the term count on both engines."""
    toks = (
        fan_out(documents.filter(F.col("text").isNotNull() & F.col("source").isNotNull()))
        .select("source", F.explode(_norm_tokens()).alias("tok"))
        .filter(F.col("tok") != "")
    )
    # the ONE corpus pass — (source, token) grain, vocab-bounded,
    # checkpointed for its three consumers (top-m, totals, grid join)
    cnt = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=True)
    topm = (
        cnt.groupBy("tok")
        .agg(F.sum("c").cast("long").alias("ctot"))
        .orderBy(F.desc("ctot"), "tok")
        .limit(m)
        .select("tok")
    )
    totals = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    grid = (
        totals.crossJoin(F.broadcast(topm))
        .join(cnt, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            "t",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
    )
    fi = F.round(
        F.col("c").cast("double") * F.lit(1000.0) / F.col("t").cast("double")
        * F.lit(1e9),
        0,
    ).cast("long")
    # |sources|·m rows: every stats pass below runs on this pin
    grid = grid.withColumn("fi", fi).localCheckpoint(eager=True)
    mstats = grid.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.sum("fi").cast("long").alias("sfi"),
    )
    mu = F.col("sfi").cast("double") / F.col("s").cast("double") / F.lit(1e9)
    dev = F.col("fi").cast("double") / F.lit(1e9) - mu
    g2 = grid.join(mstats, "tok").withColumn(
        "d2i", F.round(dev * dev * F.lit(1e6), 0).cast("long")
    )
    vstats = g2.groupBy("tok").agg(F.sum("d2i").cast("long").alias("sd2"))
    sigma = F.sqrt(
        F.col("sd2").cast("double") / F.col("s").cast("double") / F.lit(1e6)
    )
    z = (
        g2.join(vstats, "tok")
        .filter(
            F.col("sd2").cast("double") / F.col("s").cast("double") / F.lit(1e6)
            > 0
        )
        .select("source", "tok", (dev / sigma).alias("z"))
        # ≤|sources|·m rows, read twice (both pair-join sides)
        .localCheckpoint(eager=True)
    )
    za = z.select(
        F.col("source").alias("source_a"), "tok", F.col("z").alias("z_a")
    )
    zb = z.select(
        F.col("source").alias("source_b"), "tok", F.col("z").alias("z_b")
    )
    pairs = za.join(zb, "tok").filter(F.col("source_a") < F.col("source_b"))
    zdi = F.round(F.abs(F.col("z_a") - F.col("z_b")) * F.lit(1e6), 0).cast(
        "long"
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(zdi).cast("long").alias("szd"),
        )
        .select(
            "source_a",
            "source_b",
            "n_terms",
            (
                F.round(
                    F.col("szd").cast("double")
                    / F.col("n_terms").cast("double")
                    / F.lit(1e6),
                    6,
                )
                + F.lit(0.0)
            ).alias("delta"),
        )
        .orderBy("source_a", "source_b")
    )


def welch1_source_welch_t(documents: DataFrame) -> DataFrame:
    """Welch's unequal-variance t-test (Welch 1947) of document length
    between the two LARGEST sources — the pairwise drill-down under
    anova1's K-group F: "are web and wiki docs the same length on
    average?" asked the way a statistician would (never pooling
    variances two crawl sources have no reason to share). The pair is
    chosen deterministically (doc count DESC, source ASC) from the
    same sufficient-statistics pass that feeds the test — no second
    corpus scan.

    Scale shape: ONE source-keyed combining agg (n, Σx, Σx² —
    map-side partial), checkpointed at the ≤|sources| grain; the
    top-2 probe and the final 1-row expression read the pin.

    Cross-engine exactness: sums ride DECIMAL(38,0); means, sample
    variances, t and the Welch-Satterthwaite df are ONE fixed double
    tree of those exact stats, rounded to 6 dp; NULL t/df when either
    side has n < 2 or the pooled standard error is 0."""
    d38 = "decimal(38,0)"
    base = documents.filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    ).select("source", F.col("n_chars").cast("long").alias("x"))
    stats = (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("x").cast(d38)).cast(d38).alias("s"),
            F.sum((F.col("x").cast(d38)) * (F.col("x").cast(d38)))
            .cast(d38)
            .alias("ssq"),
        )
        .localCheckpoint(eager=True)
    )
    top = stats.orderBy(F.desc("n"), "source").limit(2).collect()
    if len(top) < 2:
        return documents.sparkSession.createDataFrame(
            [],
            "source_a string, source_b string, n_a long, n_b long, "
            "mean_a double, mean_b double, t_stat double, df_welch double",
        )
    sa, sb = top[0]["source"], top[1]["source"]
    a = stats.filter(F.col("source") == sa).select(
        F.col("source").alias("source_a"),
        F.col("n").alias("na"),
        F.col("s").alias("suma"),
        F.col("ssq").alias("ssqa"),
    )
    b = stats.filter(F.col("source") == sb).select(
        F.col("source").alias("source_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sumb"),
        F.col("ssq").alias("ssqb"),
    )
    j = a.crossJoin(F.broadcast(b))
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    ma = F.col("suma").cast("double") / nad
    mb = F.col("sumb").cast("double") / nbd
    va = (F.col("ssqa").cast("double") - nad * ma * ma) / (nad - F.lit(1.0))
    vb = (F.col("ssqb").cast("double") - nbd * mb * mb) / (nbd - F.lit(1.0))
    se2 = va / nad + vb / nbd
    ok = (F.col("na") >= 2) & (F.col("nb") >= 2) & (se2 > 0)
    t = F.when(ok, F.round((ma - mb) / F.sqrt(se2), 6) + F.lit(0.0))
    df = F.when(
        ok,
        F.round(
            se2
            * se2
            / (
                (va / nad) * (va / nad) / (nad - F.lit(1.0))
                + (vb / nbd) * (vb / nbd) / (nbd - F.lit(1.0))
            ),
            6,
        )
        + F.lit(0.0),
    )
    return j.select(
        "source_a",
        "source_b",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        (F.round(ma, 6) + F.lit(0.0)).alias("mean_a"),
        (F.round(mb, 6) + F.lit(0.0)).alias("mean_b"),
        t.alias("t_stat"),
        df.alias("df_welch"),
    )


def mwu1_mann_whitney(documents: DataFrame) -> DataFrame:
    """Mann-Whitney U test with rank-biserial effect size between the
    two largest sources' document lengths (Mann & Whitney 1947;
    rank-biserial per Cureton 1956) — welch1's distribution-free twin
    and kw1's K=2 drill-down that additionally reports the EFFECT SIZE
    r = 1 − 2U/(n₁n₂) ∈ [−1, 1], the number a curator actually reads
    ("what fraction of cross-source doc pairs go the expected way").

    Scale shape: kw1's discipline on the two-source pool — one
    rank2x pass for the 2x ranks (tie sum rides the same pin), a rank
    join back, one
    per-source agg checkpointed at 2 rows.

    Cross-engine exactness: doubled ranks keep U doubled an exact
    LONG (U2 = R2₁ − n₁(n₁+1)); u_stat = U2/2, the effect size and
    the tie-corrected z are single rounded double expressions of
    exact integers; NULL z when σ_U = 0 (all values tied)."""
    d38 = "decimal(38,0)"
    base = documents.filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    ).select("source", F.col("n_chars").cast("long").alias("x"))
    sizes = (
        base.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    top = sizes.orderBy(F.desc("n"), "source").limit(2).collect()
    if len(top) < 2:
        return documents.sparkSession.createDataFrame(
            [],
            "source_a string, source_b string, n_a long, n_b long, "
            "u_stat double, rank_biserial double, z_approx double",
        )
    sa, sb = top[0]["source"], top[1]["source"]
    pool = base.filter(F.col("source").isin([sa, sb]))
    r = rank2x(pool, "x")
    per = (
        pool.join(r.select("x", "r2"), "x")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("r2").cast(d38)).cast(d38).alias("r2s"),
        )
        .localCheckpoint(eager=True)
    )
    ties = r.agg(
        F.sum(
            F.col("cnt").cast(d38) * F.col("cnt").cast(d38) * F.col("cnt").cast(d38)
            - F.col("cnt").cast(d38)
        )
        .cast(d38)
        .alias("tie3")
    )
    a = per.filter(F.col("source") == sa).select(
        F.col("source").alias("source_a"),
        F.col("n").alias("na"),
        F.col("r2s").alias("r2a"),
    )
    b = per.filter(F.col("source") == sb).select(
        F.col("source").alias("source_b"), F.col("n").alias("nb")
    )
    j = a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(ties))
    # U2 = 2*U1 = R2_a - n_a*(n_a+1): exact long arithmetic
    u2 = (
        F.col("r2a").cast("long")
        - F.col("na") * (F.col("na") + F.lit(1))
    ).cast("long")
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    nd = nad + nbd
    u2d = u2.cast("double")
    rb = F.lit(1.0) - u2d / (nad * nbd)
    var_u = (
        nad
        * nbd
        / F.lit(12.0)
        * ((nd + F.lit(1.0)) - F.col("tie3").cast("double") / (nd * (nd - F.lit(1.0))))
    )
    z = F.when(
        var_u > 0,
        F.round(
            (u2d / F.lit(2.0) - nad * nbd / F.lit(2.0)) / F.sqrt(var_u), 6
        )
        + F.lit(0.0),
    )
    return j.select(
        "source_a",
        "source_b",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        (F.round(u2d / F.lit(2.0), 6) + F.lit(0.0)).alias("u_stat"),
        (F.round(rb, 6) + F.lit(0.0)).alias("rank_biserial"),
        z.alias("z_approx"),
    )


def qq1_source_length_qq(documents: DataFrame) -> DataFrame:
    """Decile Q-Q table of document length between the two largest
    sources — the drift family's PROFILE view: ks1/w1d1/cvm1 compress
    two distributions into one alarm number; the Q-Q table says WHERE
    they diverge (a web source whose 90th percentile is 8× wiki's is
    a long-tail problem, not a location shift). Exact nearest-rank
    percentiles, pctl2's pure-integer threshold discipline
    ((q·N + 99) // 100 — no float q·N whose last ulp could flip ceil).

    Scale shape: one sizes agg picks the pair; per source ONE
    distinct-value combining agg + ONE running-sum pass;
    the nine thresholds ride in as integer literals and the probe is
    a ≤|distinct|-row filter + min per decile. No buffered
    percentile state anywhere.

    Cross-engine exactness: percentile values are exact longs picked
    by integer cumulative-rank comparison; diff is exact; only the
    ratio is a rounded double (NULL when the smaller side's decile
    is 0)."""
    base = documents.filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    ).select("source", F.col("n_chars").cast("long").alias("x"))
    sizes = (
        base.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    top = sizes.orderBy(F.desc("n"), "source").limit(2).collect()
    if len(top) < 2:
        return documents.sparkSession.createDataFrame(
            [],
            "decile long, val_a long, val_b long, diff long, ratio double",
        )
    (sa, na), (sb, nb) = (
        (top[0]["source"], top[0]["n"]),
        (top[1]["source"], top[1]["n"]),
    )
    spark = documents.sparkSession

    def _pctls(src: str, n: int, out: str) -> DataFrame:
        cgrid, _ = value_counts(base.filter(F.col("source") == src), "x")
        spine = spark.createDataFrame(
            [(q * 10, (q * 10 * n + 99) // 100) for q in range(1, 10)],
            "decile long, k long",
        )
        return (
            cgrid.crossJoin(F.broadcast(spine))
            .filter(F.col("cum") >= F.col("k"))
            .groupBy("decile")
            .agg(F.min("x").cast("long").alias(out))
        )
    pa = _pctls(sa, na, "val_a")
    pb = _pctls(sb, nb, "val_b")
    ratio = F.when(
        F.col("val_a") != 0,
        F.round(F.col("val_b").cast("double") / F.col("val_a").cast("double"), 6)
        + F.lit(0.0),
    )
    return (
        pa.join(pb, "decile")
        .select(
            "decile",
            "val_a",
            "val_b",
            (F.col("val_b") - F.col("val_a")).cast("long").alias("diff"),
            ratio.alias("ratio"),
        )
        .orderBy("decile")
    )


def cdc1_chunk_dedup(documents: DataFrame, mask: int = 16) -> DataFrame:
    """Content-defined chunk deduplication statistics — the STORAGE
    dedup primitive (Muthitacharoen et al. 2001, LBFS; the rolling-cut
    idea behind every CDC dedup system) applied at word level: a token
    whose md5 lands in the 1/`mask` boundary class ENDS a chunk, so
    chunk cuts follow CONTENT, not offsets — insert one word and only
    the containing chunk changes, where fixed-width chunking (chunk1)
    reshuffles every later boundary. Per source: chunk count, distinct
    chunk count, duplicate-chunk share (the storage dedup ratio), and
    mean chunk length. High dup_share flags boilerplate/templating
    below document granularity — the grain xsd1 attacks exactly and
    near-dup LSH cannot see.

    Scale shape: one doc-keyed window pass assigns chunk ids (windows
    are DOC-bounded — partition by doc_id, never global), the chunk
    agg rides the same doc-keyed partitioning, then ONE source-keyed
    rollup with an exact distinct. No corpus-wide window, no pairs.

    Cross-engine exactness: boundaries are md5_60 integer classes;
    chunk identity is md5 of the pos-ordered token join (string_agg
    ORDER BY pos ≡ sort_array(collect_list(struct(pos, tok)))); all
    counts exact longs; the two ratios are rounded doubles."""
    toks = (
        fan_out(documents.filter(F.col("text").isNotNull()))
        .select(
            "doc_id",
            "source",
            F.posexplode(_norm_tokens()).alias("pos", "tok"),
        )
        .filter(F.col("tok") != "")
    )
    bd = (md5_60(F.col("tok")) % F.lit(mask) == 0).cast("int")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = toks.withColumn("bd", bd).withColumn(
        "cid", F.coalesce(F.sum("bd").over(w), F.lit(0)).cast("long")
    )
    chunks = chunked.groupBy("doc_id", "source", "cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
            )
        ).alias("h"),
    )
    agg = chunks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.countDistinct("h").cast("long").alias("n_distinct"),
        F.sum("n_tok").cast("long").alias("tok_total"),
    )
    ncd = F.col("n_chunks").cast("double")
    return agg.select(
        "source",
        "n_chunks",
        "n_distinct",
        (
            F.round(
                F.lit(1.0) - F.col("n_distinct").cast("double") / ncd, 6
            )
            + F.lit(0.0)
        ).alias("dup_share"),
        (F.round(F.col("tok_total").cast("double") / ncd, 6) + F.lit(0.0)).alias(
            "mean_chunk_tokens"
        ),
    ).orderBy(F.col("source").asc_nulls_first())


def key1_source_keyness(
    documents: DataFrame, min_count: int = 5, k: int = 10
) -> DataFrame:
    """Per-source KEYNESS: the top-k tokens most characteristic of
    each source vs the REST of the corpus by signed log-likelihood
    keyness (Dunning 1993 G² over the token-in-source vs
    token-elsewhere 2×2; Rayson & Garside 2000 for the keyness
    framing) — the corpus-linguistics answer to "what vocabulary
    DEFINES this source". tfidf1 ranks by within-doc salience;
    keyness ranks by CROSS-SOURCE distinctiveness with significance
    weighting, so a token frequent everywhere scores ~0 no matter how
    common. The provenance fingerprint next to delta1's style
    distance.

    Scale shape: ONE (source, token) combining agg (checkpointed,
    vocab-bounded); corpus marginals are re-combines of it; the
    scored candidate table is vocab-grain and the per-source top-k
    rides a grouped running count (group-prefixed range partitioning
    — no single-task per-source funnel).

    Cross-engine exactness: all contingency cells exact LONGS; G² is
    llr1's x·ln(x) tree; the over/under direction is an INTEGER
    cross-multiplication (c·N vs C_t·T_s — no ratio); ranking is on
    the 6-dp-rounded score with a token tiebreak."""
    toks = (
        fan_out(documents.filter(F.col("text").isNotNull() & F.col("source").isNotNull()))
        .select("source", F.explode(_norm_tokens()).alias("tok"))
        .filter(F.col("tok") != "")
    )
    cnt = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    src_tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("ts"))
    tok_tot = cnt.groupBy("tok").agg(F.sum("c").cast("long").alias("ct"))
    n_tot = cnt.agg(F.sum("c").cast("long").alias("nn"))
    cand = (
        cnt.filter(F.col("c") >= min_count)
        .join(src_tot, "source")
        .join(tok_tot, "tok")
        .crossJoin(F.broadcast(n_tot))
    )

    def xlx(c):
        d = c.cast("double")
        return F.when(c > 0, d * F.log(d)).otherwise(F.lit(0.0))

    k11 = F.col("c")
    k12 = F.col("ts") - F.col("c")
    k21 = F.col("ct") - F.col("c")
    k22 = F.col("nn") - F.col("ts") - F.col("ct") + F.col("c")
    r2_ = F.col("nn") - F.col("ts")
    c2_ = F.col("nn") - F.col("ct")
    g2 = F.lit(2.0) * (
        xlx(k11)
        + xlx(k12)
        + xlx(k21)
        + xlx(k22)
        - xlx(F.col("ts"))
        - xlx(r2_)
        - xlx(F.col("ct"))
        - xlx(c2_)
        + xlx(F.col("nn"))
    )
    over = F.col("c") * F.col("nn") > F.col("ct") * F.col("ts")
    scored = cand.select(
        "source",
        "tok",
        F.col("c").alias("c_in"),
        (F.col("ct") - F.col("c")).cast("long").alias("c_rest"),
        (F.round(g2, 6) + F.lit(0.0)).alias("keyness"),
        F.when(over, F.lit("over")).otherwise(F.lit("under")).alias("direction"),
        (-(F.round(g2, 6) + F.lit(0.0))).alias("_negk"),
    )
    ranked, _ = running(scored, ["_negk", "tok"], {"rank": ("count", None)}, ["source"])
    return (
        ranked.filter(F.col("rank") <= k)
        .select(
            "source",
            F.col("rank").cast("long").alias("rank"),
            "tok",
            "c_in",
            "c_rest",
            "keyness",
            "direction",
        )
        .orderBy("source", "rank")
    )


def srm1_split_ratio_mismatch(documents: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch (SRM) audit of split1's 80/10/10
    train/val/test assignment — the experimentation-infra standard
    check (Fabijan et al. 2019 popularized the alarm): a hash-range
    split that DOESN'T hit its expected shares within binomial noise
    means the gate is broken (id skew, collision, truncated hash),
    which silently biases every downstream eval. Reports per-split
    observed vs expected counts, the binomial z, and the 2-df χ²
    repeated per row (the alarm reads any |z| > 3 or χ² > 13.8).

    Scale shape: split1's map-only gate + ONE 3-cell combining agg;
    everything downstream is arithmetic on the 3-row table (the χ²
    total sums 3 micro-unit LONGs — order-free even at 3 terms).

    Cross-engine exactness: observed counts exact longs; expected n·p
    uses the same shared literals both engines parse to one double; z
    and χ² are single rounded double expressions of exact integers.
    The 3-row split spine is DENSIFIED — an entirely empty split (the
    worst SRM there is) shows as n_obs = 0, never a missing row."""
    gate = F.pmod(md5_60_id(F.col("doc_id")), F.lit(100))
    split = (
        F.when(gate < 80, F.lit("train"))
        .when(gate < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    spark = documents.sparkSession
    spine = spark.createDataFrame(
        [("train",), ("val",), ("test",)], "split string"
    )
    obs = (
        spine.join(
            documents.select(split.alias("split"))
            .groupBy("split")
            .agg(F.count(F.lit(1)).cast("long").alias("c")),
            "split",
            "left",
        )
        .select("split", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_obs"))
        .localCheckpoint(eager=True)
    )
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    p = (
        F.when(F.col("split") == "train", F.lit(0.8))
        .when(F.col("split") == "val", F.lit(0.1))
        .otherwise(F.lit(0.1))
    )
    joined = obs.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    exp_ = nd * p
    od = F.col("n_obs").cast("double")
    z = F.when(
        (exp_ > 0) & (p < 1),
        F.round(
            (od - exp_) / F.sqrt(nd * p * (F.lit(1.0) - p)), 6
        )
        + F.lit(0.0),
    )
    # exp_ = 0 (empty corpus) must contribute 0, not 0/0 — the NaN
    # would differ cross-engine and ANSI-throw on the long cast
    term_micro = F.when(
        exp_ > 0,
        F.round((od - exp_) * (od - exp_) / exp_ * F.lit(1e6), 0).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    chi2 = joined.agg(F.sum(term_micro).cast("long").alias("chi2_micro"))
    return (
        joined.crossJoin(F.broadcast(chi2))
        .select(
            "split",
            "n_obs",
            (F.round(exp_, 6) + F.lit(0.0)).alias("n_expected"),
            z.alias("z"),
            (
                F.round(F.col("chi2_micro").cast("double") / F.lit(1e6), 6)
                + F.lit(0.0)
            ).alias("chi2_total"),
        )
        .orderBy("split")
    )


def ess1_length_weight_ess(documents: DataFrame) -> DataFrame:
    """Effective sample size of length-proportional sampling weights
    per source (Kish 1965 design effect; the ESS diagnostic importance
    sampling reports next to any reweighting): samp2 samples docs with
    weight ∝ n_chars — ESS = (Σw)²/Σw² says how many EQUALLY-weighted
    docs that scheme is actually worth, and ess_ratio = ESS/n is the
    efficiency lost to weight skew (1.0 = uniform lengths, →0 = a few
    giant docs dominate every draw). The number to check BEFORE
    trusting any length-weighted mixture.

    Scale shape: ONE source-keyed sufficient-stats agg (n, Σw, Σw² in
    DECIMAL(38,0), map-side partial); everything else is a 1-row
    expression per source.

    Cross-engine exactness: weights are exact longs (floored at 1,
    samp2's convention); ESS and the ratio are single rounded double
    expressions of the exact decimal sums."""
    d38 = "decimal(38,0)"
    w = F.greatest(F.col("n_chars").cast("long"), F.lit(1))
    per = (
        documents.filter(F.col("n_chars").isNotNull())
        .select("source", w.alias("w"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("w").cast(d38)).cast(d38).alias("sw"),
            F.sum((F.col("w").cast(d38)) * (F.col("w").cast(d38)))
            .cast(d38)
            .alias("sww"),
        )
    )
    ess = (
        F.col("sw").cast("double")
        * F.col("sw").cast("double")
        / F.col("sww").cast("double")
    )
    return per.select(
        "source",
        "n_docs",
        (F.round(ess, 6) + F.lit(0.0)).alias("ess"),
        (
            F.round(ess / F.col("n_docs").cast("double"), 6) + F.lit(0.0)
        ).alias("ess_ratio"),
    ).orderBy(F.col("source").asc_nulls_first())


def jk1_source_jackknife(documents: DataFrame) -> DataFrame:
    """Delete-one-GROUP jackknife influence of each source on the
    corpus mean document length (Quenouille 1956; Tukey 1958; the
    grouped form is the survey-statistics standard): for each source,
    the leave-that-source-out mean and its influence (loo − full), plus
    the jackknife standard error over the k replicates repeated per
    row. The robustness readout a curator wants before publishing a
    corpus-level metric: a single source whose removal moves the mean
    by 3 SEs OWNS that metric.

    Scale shape: ONE source-keyed sufficient-stats agg; every
    replicate is closed-form from (S − S_j)/(n − n_j) on the
    ≤|sources| table — the jackknife costs one corpus pass TOTAL,
    not one per replicate (the whole point of sufficient statistics).

    Cross-engine exactness: sums exact DECIMAL; each loo mean is one
    double expression, rounded to MICRO-units before the replicate-
    mean and squared-deviation sums (order-free LONGs, theil1
    discipline); influence and SE are rounded doubles."""
    d38 = "decimal(38,0)"
    base = documents.filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    ).select("source", F.col("n_chars").cast("long").alias("x"))
    per = (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nj"),
            F.sum(F.col("x").cast(d38)).cast(d38).alias("sj"),
        )
        .localCheckpoint(eager=True)
    )
    glob = per.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sj").cast(d38).alias("s"),
    )
    j = per.crossJoin(F.broadcast(glob)).filter(
        (F.col("k") >= 2) & (F.col("n") > F.col("nj"))
    )
    loo = (F.col("s").cast("double") - F.col("sj").cast("double")) / (
        F.col("n") - F.col("nj")
    ).cast("double")
    loo_micro = F.round(loo * F.lit(1e6), 0).cast("long")
    reps = j.select(
        "source", "nj", F.col("n").alias("n"), F.col("k").alias("k"),
        F.col("s").alias("s"), loo_micro.alias("loo_micro"),
    ).localCheckpoint(eager=True)
    mstats = reps.agg(
        F.sum("loo_micro").cast("long").alias("sl"),
        F.count(F.lit(1)).cast("long").alias("kk"),
    )
    withbar = reps.crossJoin(F.broadcast(mstats))
    bar = F.col("sl").cast("double") / F.col("kk").cast("double") / F.lit(1e6)
    dev = F.col("loo_micro").cast("double") / F.lit(1e6) - bar
    d2_micro = F.round(dev * dev * F.lit(1e6), 0).cast("long")
    se_agg = withbar.agg(
        F.sum(d2_micro).cast("long").alias("sd2"),
        F.max("kk").cast("long").alias("kk"),
    )
    kd = F.col("kk").cast("double")
    se = F.sqrt(
        (kd - F.lit(1.0)) / kd * (F.col("sd2").cast("double") / F.lit(1e6))
    )
    se_row = se_agg.select(
        F.when(kd >= 2, F.round(se, 6) + F.lit(0.0)).alias("jack_se")
    )
    full_mean = F.col("s").cast("double") / F.col("n").cast("double")
    return (
        withbar.crossJoin(F.broadcast(se_row))
        .select(
            "source",
            F.col("nj").alias("n_docs"),
            (
                F.round(F.col("loo_micro").cast("double") / F.lit(1e6), 6)
                + F.lit(0.0)
            ).alias("loo_mean"),
            (
                F.round(
                    F.col("loo_micro").cast("double") / F.lit(1e6) - full_mean,
                    6,
                )
                + F.lit(0.0)
            ).alias("influence"),
            "jack_se",
        )
        .orderBy("source")
    )
