"""Distributed text retrieval — BM25 scoring and hybrid (lexical +
embedding) re-ranking over the documents corpus.

The missing half of corpus tooling next to t10's TF-IDF keyword
extraction: given a small set of QUERIES, rank documents. This is the
shape of retrieval behind RAG data curation, eval-set mining, and
targeted corpus slicing at training scale.

Scale posture (100 TB corpus, handful-to-thousands of queries):
  * One explode + one (doc_id, tok) aggregation builds term frequencies
    — map-side combining, single shuffle keyed by (doc, token).
  * Document-frequency and corpus stats are aggregations over the tf
    table: df shuffles on token (bounded by vocabulary size), N/avgdl
    is a 1-row aggregate that broadcasts.
  * The query set joins as a BROADCAST on token — scoring rides the tf
    scan; no per-query pass over the corpus.
  * Top-k per query ranks only matched (query, doc) pairs — candidate
    set, never the corpus.
Everything is built-in Column expressions; no Python UDFs.

BM25 formula (Robertson/Okapi, the +1 idf variant Lucene uses so scores
stay positive): idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)).

Reference parity note: the reference repo (a CSV→CRM uploader) has no
retrieval surface; this extends the engine's LLM-data-pipeline family
(SURVEY §6 widening) alongside dedup/similarity/textstats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.fanout import fan_out
from csv_crm_upload_spark.analytics.textstats import _tokens
from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout, Ranged

# Deterministic demo query set over the synthetic corpus vocabulary.
# query_id doubles as the vec_id of the query's embedding for the hybrid
# path (the synthetic embeddings table is keyed 0..N-1 like documents).
DEFAULT_QUERIES: dict[int, list[str]] = {
    0: ["spark", "join", "window"],
    1: ["hash", "table", "merge"],
    2: ["vector", "stream", "sort"],
}


def _query_terms_df(spark, queries: dict[int, list[str]]) -> DataFrame:
    # query terms get the same case normalization as document tokens
    # (_tf_frame lowercases), so matching is case-insensitive end to end
    rows = [
        (qid, t)
        for qid, terms in sorted(queries.items())
        for t in sorted({x.lower() for x in terms})
    ]
    return spark.createDataFrame(rows, "query_id long, tok string")


def _query_toks_df(spark, queries: dict[int, list[str]]) -> DataFrame:
    # distinct token set deduplicated DRIVER-side (the query set is tiny)
    # so the semi-join build side needs no Distinct exchange in the plan
    toks = sorted({t.lower() for terms in queries.values() for t in terms})
    return spark.createDataFrame([(t,) for t in toks], "tok string")


def _has_text() -> F.Column:
    return F.col("text").isNotNull() & (F.trim(F.col("text")) != "")


def _tf_frame(documents: DataFrame) -> DataFrame:
    """Postings frame (doc_id, tok, tf, dl): one explode + one (doc,tok)
    aggregation with map-side combine, then dl = Σ tf per doc via a
    window (re-uses the doc partitioning prefix — no join back to the
    corpus). Not persisted: callers that fan out (index builds) own the
    persist/unpersist lifecycle."""
    toks = (
        fan_out(documents.filter(_has_text()))
        .select("doc_id", F.explode(_tokens()).alias("tok"))
        .withColumn("tok", F.lower(F.col("tok")))
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    return tf.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))


def _corpus_stats(documents: DataFrame) -> DataFrame:
    """1-row corpus statistics. total_tokens (exact long) travels with
    avgdl so incremental index maintenance can fold counts
    integer-exactly and re-derive the SAME double avgdl = total/n a
    fresh build computes."""
    return documents.filter(_has_text()).select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_tokens())).cast("long").alias("total_tokens"),
        (F.sum(F.size(_tokens())) / F.count(F.lit(1))).alias("avgdl"),
    )


def bm25_scores(
    documents: DataFrame,
    queries: dict[int, list[str]] | None = None,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """All matched (query_id, doc_id, bm25) pairs, unranked — the
    candidate-generation stage hybrid retrieval re-ranks.

    Shape: a single linear plan. Document frequencies are computed by a
    window over tok on the postings AFTER a broadcast semi-join down to
    the query-term vocabulary — df for a term counts every doc that
    contains it either way, but the tok shuffle then moves only matched
    postings instead of the whole vocabulary, and nothing consumes the
    postings subtree twice (so no persist, and no cached-frame leak
    across repeated calls)."""
    queries = DEFAULT_QUERIES if queries is None else queries
    spark = documents.sparkSession
    # semi-join first (one row per posting — no per-query duplication),
    # so the df window below counts distinct docs exactly
    matched = _tf_frame(documents).join(
        F.broadcast(_query_toks_df(spark, queries)), "tok", "left_semi"
    )
    return _bm25_from_matched(
        matched,
        _corpus_stats(documents),
        _query_terms_df(spark, queries),
        k1,
        b,
    )


def _bm25_from_matched(
    matched: DataFrame, stats: DataFrame, qdf: DataFrame, k1: float, b: float
) -> DataFrame:
    """The BM25 scoring tail over an already-semi-joined postings frame
    (doc_id, tok, tf, dl) — ONE text so bm25_scores and ndcg1 (which
    checkpoints `matched` and derives its relevance grades from the
    same rows) are identical by construction."""
    matched = matched.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_sat = (F.col("tf") * (F.lit(k1) + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    return (
        matched.join(F.broadcast(qdf), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_sat), 4).alias("bm25"))
    )


def bm25_search(
    documents: DataFrame,
    queries: dict[int, list[str]] | None = None,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents per query by BM25. Scores round to 4 decimals
    BEFORE ranking (cross-engine determinism), ties break on doc_id."""
    scored = bm25_scores(documents, queries, k1=k1, b=b)
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "bm25", "rank")
    )


#: derived-key format stamp (manifest.check_key_format): postings/dfreq
#: keys are the LOWERED _tokens() token STRINGS, bucketed by Spark
#: Murmur3 pmod. Bump when the tokenization or lowering rule changes
#: (bucket hash changes are already covered by n_buckets + the Murmur3
#: portability note below).
KEY_FORMAT = "lower-tok-postings-v1"

#: postings: epoch-RANGED (each append adds the new docs' postings);
#: dfreq/stats: fully-merged per-epoch SNAPSHOTS (only the current
#: epoch's is read)
LAYOUT = Layout(
    ranged={"postings": Ranged(partition=("tok_bucket",))},
    snapshots={"dfreq": ("tok_bucket",), "stats": ()},
    key_format=KEY_FORMAT,
    missing_ok=True,
)


def save_text_index(documents: DataFrame, path: str, n_buckets: int = 64) -> None:
    """Persist the BM25 inverted index: postings (doc, token, tf, dl)
    partitioned BY a token hash bucket, document frequencies partitioned
    the same way, and the 1-row corpus stats. The build-once /
    query-many split of production retrieval (the text twin of
    ivf.save_index): the corpus scan + (doc,token) shuffle run once per
    snapshot, then every query reads ONLY the partitions its terms hash
    into — partition pruning does the candidate selection before any
    row is touched.

    Layout is EPOCH-VERSIONED (LAYOUT) with a MANIFEST naming the
    current epoch; a rebuild over a LIVE index is atomic
    (manifest.rebuild), so a racing probe pairs old postings with old
    stats or new with new.

    Portability note: physical bucket assignment uses F.hash (Spark's
    internal Murmur3). Writer and prober share the function so the
    layout is self-consistent, but unlike the md5-derived arithmetic in
    the oracle-visible queries it is NOT portable across engines — a
    non-Spark reader must re-derive buckets with Spark's Murmur3."""

    def write(e: int) -> None:
        tf = _tf_frame(documents).persist()
        try:
            bucket = F.pmod(F.hash("tok"), F.lit(n_buckets)).alias("tok_bucket")
            postings = tf.select("doc_id", "tok", "tf", "dl", bucket)
            manifest.write_epoch(postings, path, LAYOUT, "postings", e)
            dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
            manifest.write_epoch(
                dfreq.select("tok", "df", bucket), path, LAYOUT, "dfreq", e
            )
            manifest.write_epoch(_corpus_stats(documents), path, LAYOUT, "stats", e)
        finally:
            tf.unpersist()

    manifest.rebuild(path, LAYOUT, write, n_buckets=n_buckets)


def update_text_index(
    new_documents: DataFrame, path: str, txn: tuple[str, int] | None = None
) -> None:
    """Incremental index maintenance for a corpus APPEND
    (manifest.append): tokenize ONLY the new documents, write their
    postings as a NEW epoch partition, and write fully-merged
    dfreq/stats snapshots for that epoch. Documents with no text are a
    no-op.

    Cost: O(new docs) tokenize + O(vocab) dfreq merge — never a re-scan
    of the indexed corpus (old postings epochs are untouched; only the
    vocab-sized dfreq table is rewritten). A concurrent probe resolves
    its epoch from the manifest once, so it sees the old snapshot or the
    new one, never stale df/N against new postings.

    Precondition (caller's dedup responsibility, same as any inverted
    index): new_documents' doc_ids are not already indexed — the dedup
    family upstream is exactly the tool for that.

    `txn=(app_id, batch_id)`: replay guard for checkpointed streaming
    folds — a re-delivered foreachBatch batch no-ops instead of
    double-indexing.
    """
    spark = new_documents.sparkSession

    def write(docs: DataFrame, m: dict, nxt: int) -> None:
        epoch = m["epoch"]
        tf = _tf_frame(docs).persist()
        try:
            delta = _corpus_stats(docs).first()
            bucket = F.pmod(F.hash("tok"), F.lit(m["n_buckets"])).alias("tok_bucket")
            postings = tf.select("doc_id", "tok", "tf", "dl", bucket)
            manifest.write_epoch(postings, path, LAYOUT, "postings", nxt)
            # merge document frequencies: vocab-sized pass into a new snapshot
            delta_dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
            merged = (
                spark.read.parquet(f"{path}/dfreq/epoch={epoch}")
                .select("tok", "df")
                .unionByName(delta_dfreq)
                .groupBy("tok")
                .agg(F.sum("df").alias("df"))
                .select("tok", "df", bucket)
            )
            manifest.write_epoch(merged, path, LAYOUT, "dfreq", nxt)
            # fold corpus stats with EXACT integer counts, then re-derive
            # avgdl the same way a fresh build does (total/n double
            # division) — the incremental index is bit-identical to a rebuild
            old_stats = spark.read.parquet(f"{path}/stats/epoch={epoch}").first()
            n_new = old_stats["n_docs"] + delta["n_docs"]
            tot_new = old_stats["total_tokens"] + delta["total_tokens"]
            stats = spark.createDataFrame(
                [(n_new, tot_new, tot_new / n_new)],
                "n_docs long, total_tokens long, avgdl double",
            )
            manifest.write_epoch(stats, path, LAYOUT, "stats", nxt)
        finally:
            tf.unpersist()

    manifest.append(
        path, LAYOUT, txn, lambda m: new_documents.filter(_has_text()), write
    )


def read_index_stats(spark, path: str):
    """Corpus-stats Row of the CURRENT index epoch (manifest-resolved)."""
    epoch = manifest.checked_manifest(path, LAYOUT)["epoch"]
    return spark.read.parquet(f"{path}/stats/epoch={epoch}").first()


def compact_text_index(spark, path: str) -> bool:
    """OPTIMIZE for the inverted index: fold every postings epoch in
    [base_epoch, epoch] into ONE new epoch and advance base_epoch with
    one manifest commit — atomic, racing probes see the old epoch chain
    or the compacted one, never a mix.

    Appends are O(new docs) but each leaves an epoch dir; probe cost
    grows with the epoch count (more files under every pruned bucket).
    Compaction restores the one-dir-per-bucket read shape. dfreq/stats
    are already full per-epoch SNAPSHOTS, so they rewrite as-is. Stale
    pre-compaction epochs stay on disk for readers holding the old
    manifest until CorpusIndexService.vacuum. Returns False (no-op)
    when the index is already compact."""
    return manifest.compact_epochs(spark, path, LAYOUT)


def bm25_search_indexed(
    spark,
    index_path: str,
    queries: dict[int, list[str]] | None = None,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 from a PERSISTED index — identical results to
    bm25_search, but the per-query cost is partition-pruned reads of the
    buckets the query terms hash into (plan-asserted in tests), never a
    corpus pass. The term→bucket map is computed with the same F.hash on
    the tiny query-term set (bounded collect, ≤ terms rows).

    The epoch is resolved from the manifest ONCE up front, so a probe
    racing a concurrent update_text_index reads one consistent snapshot
    (all postings epochs ≤ K with epoch-K dfreq/stats) — old or new,
    never mixed."""
    queries = DEFAULT_QUERIES if queries is None else queries
    qdf = _query_terms_df(spark, queries)
    m = manifest.checked_manifest(index_path, LAYOUT)
    epoch, n_buckets = m["epoch"], m["n_buckets"]
    stats = spark.read.parquet(f"{index_path}/stats/epoch={epoch}")
    q_buckets = qdf.select(
        "query_id", "tok", F.pmod(F.hash("tok"), F.lit(n_buckets)).alias("tok_bucket")
    )
    wanted = sorted({r["tok_bucket"] for r in q_buckets.select("tok_bucket").distinct().collect()})
    postings = manifest.live(spark, index_path, m, LAYOUT, "postings").filter(
        F.col("tok_bucket").isin(wanted)
    )
    dfreq = spark.read.parquet(f"{index_path}/dfreq/epoch={epoch}").filter(
        F.col("tok_bucket").isin(wanted)
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_sat = (F.col("tf") * (F.lit(k1) + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        postings.join(F.broadcast(q_buckets.select("query_id", "tok")), "tok")
        .join(dfreq.select("tok", "df"), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_sat), 4).alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "bm25", "rank")
    )


def _candidates_with_cosine(
    documents: DataFrame,
    embeddings: DataFrame,
    queries: dict[int, list[str]],
    n_candidates: int,
) -> DataFrame:
    """Shared stage of the fusion searches: BM25 top-N candidates per
    query, joined to their embedding vectors and cosine-scored against
    the query vector. Touches only candidate rows — the embedding join
    is a semi-join of the candidate set; query vectors broadcast."""
    w_cand = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    cands = (
        bm25_scores(documents, queries)
        .withColumn("rn", F.row_number().over(w_cand))
        .filter(F.col("rn") <= n_candidates)
        .drop("rn")
    )
    return _cosine_for_candidates(cands, embeddings, queries)


def _cosine_for_candidates(
    cands: DataFrame,
    embeddings: DataFrame,
    queries: dict[int, list[str]],
) -> DataFrame:
    """Cosine-score a (query_id, doc_id, bm25) candidate table against
    the query vectors — the second half of `_candidates_with_cosine`,
    split out (r12) so a caller that already holds the ranked candidate
    table (rbo1) can reuse it without a second bm25 corpus pass."""
    # a candidate doc with a corrupt embedding (NULL/empty/ALL-ZERO/
    # width-mismatched) drops out of the hybrid rerank — a zero vector
    # would divide the cosine by zero (ANSI job abort; round-8 property
    # fuzzer), and a ragged one scores NULL here but a PARTIAL dot in
    # the DuckDB oracle
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    qvecs = valid_vectors(
        embeddings.filter(F.col("vec_id").isin(*queries.keys()))
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    pairs = (
        cands.join(
            valid_vectors(embeddings).select(
                F.col("vec_id").alias("doc_id"), "embedding"
            ),
            "doc_id",
        )
        .join(F.broadcast(qvecs), "query_id")
        .filter(F.size("embedding") == F.size("q_emb"))
    )

    def _dot(a, bcol):
        return F.aggregate(
            F.zip_with(a, bcol, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def _norm(c):
        return F.sqrt(
            F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
        )

    cos = F.round(
        _dot(F.col("embedding"), F.col("q_emb"))
        / (_norm(F.col("embedding")) * _norm(F.col("q_emb"))),
        6,
    )
    return pairs.select("query_id", "doc_id", "bm25", cos.alias("cos_sim"))


def rrf1_rank_fusion(
    documents: DataFrame,
    embeddings: DataFrame,
    queries: dict[int, list[str]] | None = None,
    k: int = 5,
    n_candidates: int = 20,
    k_rrf: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (the other standard hybrid-retrieval
    combiner, and the more robust one): fuse the BM25 ranking and the
    cosine ranking of the SAME candidate set by

        rrf = 1/(k_rrf + rank_bm25) + 1/(k_rrf + rank_cos)

    RRF is rank-based, so unlike the min-max blend it is immune to score
    scale and outliers — and INTEGER-exact up to the final two divisions
    of small integers (identical IEEE in any engine): no rounding knife
    edges at all. Same candidate-only cost shape as hybrid_search."""
    queries = DEFAULT_QUERIES if queries is None else queries
    scored = _candidates_with_cosine(documents, embeddings, queries, n_candidates)
    w_bm = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    w_cos = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
    fused = scored.select(
        "query_id",
        "doc_id",
        F.row_number().over(w_bm).cast("int").alias("rank_bm25"),
        F.row_number().over(w_cos).cast("int").alias("rank_cos"),
    ).withColumn(
        "rrf",
        F.round(
            F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_bm25"))
            + F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_cos")),
            6,
        ),
    )
    w_final = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w_final).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank_bm25", "rank_cos", "rrf", "rank")
    )


#: hybrid retrieval's default candidate depth and lexical/vector blend —
#: ONE definition shared by hybrid_search and rbo1_rank_agreement
#: (advice r12: rbo1 hardcoded copies that could silently drift from
#: the ranker it audits)
HYBRID_N_CANDIDATES = 20
HYBRID_ALPHA = 0.5


def hybrid_search(
    documents: DataFrame,
    embeddings: DataFrame,
    queries: dict[int, list[str]] | None = None,
    k: int = 5,
    n_candidates: int = HYBRID_N_CANDIDATES,
    alpha: float = HYBRID_ALPHA,
) -> DataFrame:
    """Two-stage hybrid retrieval: BM25 candidate generation, embedding
    cosine re-rank, min-max-normalized blend — the standard hybrid
    (lexical ∪ semantic) retrieval pattern.

      blend = α · norm(bm25) + (1-α) · norm(cos_sim)

    per query, where norm is min-max over that query's candidate set
    (scale-free: BM25 magnitudes and cosine live on different scales).
    Query vectors are the embeddings rows whose vec_id equals the
    query_id; candidate vectors join on doc_id = vec_id (the synthetic
    tables are key-aligned).

    Scale: the cosine re-rank touches only `n_candidates` rows per query
    — the embedding join is a semi-join of the candidate set, never a
    scan of the vector table; query vectors broadcast."""
    queries = DEFAULT_QUERIES if queries is None else queries
    scored = _candidates_with_cosine(documents, embeddings, queries, n_candidates)
    return _hybrid_rank(scored, k, alpha)


def _hybrid_rank(scored: DataFrame, k: int, alpha: float) -> DataFrame:
    """Min-max blend + top-k rank over a cosine-scored candidate table —
    the second half of `hybrid_search`, split out (r12) for callers that
    derive the candidates from a shared bm25 pass (rbo1)."""
    wq = Window.partitionBy("query_id")
    eps = F.lit(1e-12)
    norm_bm25 = (F.col("bm25") - F.min("bm25").over(wq)) / F.greatest(
        F.max("bm25").over(wq) - F.min("bm25").over(wq), eps
    )
    norm_cos = (F.col("cos_sim") - F.min("cos_sim").over(wq)) / F.greatest(
        F.max("cos_sim").over(wq) - F.min("cos_sim").over(wq), eps
    )
    blended = scored.withColumn(
        "blend", F.round(F.lit(alpha) * norm_bm25 + F.lit(1.0 - alpha) * norm_cos, 4)
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("blend").desc(), F.col("doc_id"))
    return (
        blended.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "bm25", "cos_sim", "blend", "rank")
    )


def tfidf_indexed_top_terms(spark, index_path: str, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms from the PERSISTED inverted index
    — the tfidf1 readout with ZERO corpus re-scan: tf rides the stored
    postings, df the stored dfreq snapshot, N the stats row. The probe
    is value-identical to recomputing from the same corpus with the
    index's own frame builders (_tf_frame/_corpus_stats — test-pinned),
    under the index's tokenization/live-doc contract (which differs
    from the documents-table tfidf1 query: BM25 tokens, whitespace-only
    docs excluded).

    Epoch discipline (bm25_search_indexed's): the manifest resolves ONE
    consistent snapshot up front — postings epochs in [base, epoch]
    with the SAME epoch's dfreq/stats — so a probe racing an append or
    compaction reads old or new, never a mix. idf = round(log2(N/df),
    9); score stays the raw tf x idf product (the tfidf1 half-way
    lesson); ties break on the term string."""
    m = manifest.checked_manifest(index_path, LAYOUT)
    epoch = m["epoch"]
    stats = spark.read.parquet(f"{index_path}/stats/epoch={epoch}").select(
        F.col("n_docs").cast("double").alias("n_docs")
    )
    postings = manifest.live(spark, index_path, m, LAYOUT, "postings").select(
        "doc_id", "tok", "tf"
    )
    dfreq = spark.read.parquet(f"{index_path}/dfreq/epoch={epoch}").select("tok", "df")
    idf = F.round(F.log2(F.col("n_docs") / F.col("df").cast("double")), 9)
    scored = (
        postings.join(dfreq, "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            (F.col("tf").cast("double") * idf).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "score", "rnk")
        .orderBy("doc_id", "rnk")
    )


def ndcg1_retrieval_quality(
    documents: DataFrame,
    queries: dict[int, list[str]] | None = None,
    k: int = 10,
) -> DataFrame:
    """Retrieval-effectiveness audit of the BM25 ranking: NDCG@k and
    reciprocal rank per query against a DETERMINISTIC graded-relevance
    label — rel(q, d) = the number of distinct query terms d contains.
    The standard eval loop of a retrieval stack (Järvelin & Kekäläinen
    2002), runnable without human judgments: term-coverage is the
    natural machine label for conjunctive intent, and because it is a
    pure function of the same tokenization BM25 reads, both engines
    derive identical labels.

    DCG@k = Σ_{rank≤k} (2^rel − 1)/log2(rank+1) over the BM25 top-k;
    IDCG@k re-ranks by (rel DESC) — computed from the per-grade
    HISTOGRAM, never a per-query global sort of matched docs: the
    grade-at-ideal-rank is read off cumulative grade counts joined to a
    rank spine, so the per-query window touches ≤|grade levels| rows
    even when a term matches half the corpus. rr = 1/rank of the first
    top-k hit carrying the query's maximum grade (0.0 if the ranking
    misses every best-grade doc).

    Cross-engine exactness: grades and counts are exact longs;
    2^rel − 1 is exact in doubles; each gain term rounds to 9 dp before
    the order-free DECIMAL(38,12) sum; ndcg is ONE double division of
    the two decimal sums; rr is one reciprocal of an exact int.
    Queries matching zero documents emit no row (they have no ranking
    to score).

    Scale shape — TWO corpus-posting passes, each consumed once:
    bm25_search produces the top-k (checkpointed at its bounded |q|·k
    size), and ONE lean matched-token agg produces the grades (the
    broadcast query-term join runs before the agg, so only matched
    postings move — no dl window, grades doesn't pay bm25's frame).
    The top-k is folded into the grades stream with a broadcast join
    INSIDE the same aggregation tree — the grouped `cells` frame
    (query, rel, rank) is ≤|q|·levels·(k+1) rows, checkpointed once
    (the mmd1/conc1 sanction), and every downstream readout (histogram,
    ideal ranking, DCG, first-best) runs at that bounded grain."""
    queries = DEFAULT_QUERIES if queries is None else queries
    spark = documents.sparkSession
    # ONE postings pass feeds BOTH the BM25 ranking and the relevance
    # grades (was: bm25_search's tf pass + a second full corpus explode
    # for the grades): the query-vocabulary semi-join bounds `matched`
    # to the postings the query terms touch, it checkpoints at that
    # grain, and the two consumers read the checkpoint. The BM25 tail
    # is _bm25_from_matched — textually shared with bm25_scores, so
    # the ranking is identical by construction; grades count DISTINCT
    # matched tokens per (query, doc), and the postings frame is
    # already distinct per (doc, tok), so count_distinct over it is
    # exactly the old token-stream count.
    qdf = _query_terms_df(spark, queries)
    matched = (
        _tf_frame(documents)
        .join(F.broadcast(_query_toks_df(spark, queries)), "tok", "left_semi")
        .localCheckpoint(eager=True)
    )
    scored = _bm25_from_matched(
        matched, _corpus_stats(documents), qdf, k1=1.2, b=0.75
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "bm25", "rank")
    )
    grades = (
        matched.join(F.broadcast(qdf), "tok")
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct(F.col("tok")).cast("long").alias("rel"))
    )
    cells = (
        grades.join(
            F.broadcast(topk.select("query_id", "doc_id", "rank")),
            ["query_id", "doc_id"],
            "left",
        )
        .groupBy("query_id", "rel", "rank")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # bounded ≤ |q|·|grade levels|·(k+1) rows; checkpointed so the
        # five readouts below read it instead of re-running the corpus agg
        .localCheckpoint(eager=True)
    )
    hist = cells.groupBy("query_id", "rel").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    # cumulative grade counts, best grade first — the window partition
    # holds ≤|grade levels| rows per query, never the matched-doc set
    wq = (
        Window.partitionBy("query_id")
        .orderBy(F.col("rel").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum_cnt", F.sum("cnt").over(wq))
    ranks = hist.select("query_id").distinct().crossJoin(
        F.broadcast(spark.range(1, k + 1).select(F.col("id").cast("int").alias("rank")))
    )
    ideal = ranks.join(cum, "query_id").filter(
        (F.col("rank") <= F.col("cum_cnt"))
        & (F.col("rank") > F.col("cum_cnt") - F.col("cnt"))
    )

    def _gain():
        return F.round(
            (F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0))
            / F.log2(F.col("rank") + F.lit(1.0)),
            9,
        ).cast("decimal(38,12)")

    idcg = ideal.groupBy("query_id").agg(F.sum(_gain()).alias("idcg"))
    dcgt = cells.filter(F.col("rank").isNotNull()).select("query_id", "rank", "rel")
    dcg = dcgt.groupBy("query_id").agg(F.sum(_gain()).alias("dcg"))
    mx = hist.groupBy("query_id").agg(
        F.max("rel").cast("int").alias("max_rel"),
        F.sum("cnt").cast("long").alias("n_graded"),
    )
    first_best = (
        dcgt.join(mx.select("query_id", "max_rel"), "query_id")
        .filter(F.col("rel") == F.col("max_rel"))
        .groupBy("query_id")
        .agg(F.min("rank").alias("first_best"))
    )
    return (
        mx.join(dcg, "query_id")
        .join(idcg, "query_id")
        .join(first_best, "query_id", "left")
        .select(
            "query_id",
            "n_graded",
            "max_rel",
            (F.round(F.col("dcg").cast("double"), 6) + F.lit(0.0)).alias("dcg"),
            (F.round(F.col("idcg").cast("double"), 6) + F.lit(0.0)).alias("idcg"),
            (
                F.round(F.col("dcg").cast("double") / F.col("idcg").cast("double"), 6)
                + F.lit(0.0)
            ).alias("ndcg"),
            (
                F.round(
                    F.coalesce(F.lit(1.0) / F.col("first_best"), F.lit(0.0)), 6
                )
                + F.lit(0.0)
            ).alias("rr"),
        )
        .orderBy("query_id")
    )


def rbo1_rank_agreement(
    documents: DataFrame,
    embeddings: DataFrame,
    queries: dict[int, list[str]] | None = None,
    k: int = 5,
) -> DataFrame:
    """Rank-agreement audit between the LEXICAL (BM25) and HYBRID
    (blended) top-k rankings — the readout that says what the semantic
    re-rank actually changes before anyone swaps rankers in production:
    per query, Jaccard@k of the two result sets and Fagin's average
    overlap AO@k = (1/k)·Σ_{d=1..k} |A_d ∩ B_d|/d (the prefix-weighted
    agreement the rank-biased-overlap family truncates to at finite
    depth). AO = 1 means the hybrid stage is a no-op (identical full-k
    prefixes — the fixed-depth-k denominator deliberately penalizes
    short result lists, so two identical 3-item rankings score 0.87 at
    k=5); AO ≈ 0 means the blend replaces the lexical order wholesale.

    Per matched doc the depth sum telescopes to the harmonic tail
    Σ_{d≥max(rank_a, rank_b)} 1/d, so AO needs no depth explosion —
    one join on (query, doc) and a ≤k-case weight.

    Cross-engine exactness: ranks are ints from the same 4-dp-rounded
    orderings both engines already hash-match (bm25_1_search / rag1);
    the harmonic weights are IDENTICALLY-WRITTEN left-associated sums
    of 1.0/d (same IEEE result), rounded to 9 dp into DECIMAL sums;
    Jaccard and AO are one double division each. Queries retrieved by
    neither system emit no row; a query with an empty hybrid side
    (e.g. no query vector) scores 0 agreement.

    Scale shape: both rankings are bounded |queries|·k rows
    (checkpointed); every join and rollup below runs at that grain —
    the corpus cost is the two rankers' own audited plans."""
    queries = DEFAULT_QUERIES if queries is None else queries
    # r12: ONE bm25 corpus pass feeds BOTH rankings (was two full
    # bm25_scores passes — 3.9 s → ~2.4 s cold at sf0.1). The lexical
    # top-k is by construction the first k rows of the hybrid stage's
    # own candidate ranking (identical window: bm25 DESC, doc_id), so
    # ranking `a` is a filter on the shared checkpointed candidate
    # table and ranking `b` is the unchanged blend over the same rows.
    # hybrid_search's default candidate depth, shared via the module
    # constant; rbo1 compares TOP-k prefixes of both rankers, so the
    # candidate table must be at least k deep for ranking `a` to be the
    # full lexical top-k (advice r12: a silent truncation at k > 20
    # would desynchronize the audit from the real rankers)
    n_candidates = max(k, HYBRID_N_CANDIDATES)
    w_cand = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    cand = (
        bm25_scores(documents, queries)
        .withColumn("rn", F.row_number().over(w_cand))
        .filter(F.col("rn") <= n_candidates)
        .localCheckpoint(eager=True)  # ≤ n_candidates·|queries| rows
    )
    a = cand.filter(F.col("rn") <= k).select(
        "query_id", "doc_id", F.col("rn").cast("int").alias("rank_a")
    )
    b = _hybrid_rank(
        _cosine_for_candidates(cand.drop("rn"), embeddings, queries),
        k=k,
        alpha=HYBRID_ALPHA,
    ).select("query_id", "doc_id", F.col("rank").alias("rank_b"))
    ca = a.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    cb = b.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    mx = F.greatest(F.col("rank_a"), F.col("rank_b"))
    # harmonic tail Σ_{d=m..k} 1/d, written as the same left-associated
    # 1.0/d chain the oracle spells out
    w = None
    for m in range(1, k + 1):
        tail = F.lit(1.0) / F.lit(float(m))
        for d in range(m + 1, k + 1):
            tail = tail + F.lit(1.0) / F.lit(float(d))
        w = F.when(mx == m, tail) if w is None else w.when(mx == m, tail)
    per = (
        a.join(b, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.round(w, 9).cast("decimal(38,12)")).alias("wsum"),
        )
    )
    zero = F.lit(0).cast("long")
    out = (
        ca.join(cb, "query_id", "full")
        .select(
            "query_id",
            F.coalesce(F.col("n_a"), zero).alias("n_a"),
            F.coalesce(F.col("n_b"), zero).alias("n_b"),
        )
        .join(per, "query_id", "left")
        .select(
            "query_id",
            "n_a",
            "n_b",
            F.coalesce(F.col("n_common"), zero).alias("n_common"),
            F.coalesce(F.col("wsum"), F.lit(0).cast("decimal(38,12)")).alias("wsum"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return out.select(
        "query_id",
        "n_a",
        "n_b",
        "n_common",
        (F.round(jac, 6) + F.lit(0.0)).alias("jaccard_k"),
        (
            F.round(F.col("wsum").cast("double") / F.lit(float(k)), 6) + F.lit(0.0)
        ).alias("avg_overlap"),
    ).orderBy("query_id")
