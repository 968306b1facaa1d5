"""Product quantization (PQ) ANN — the m-subspace learned vector codec
(Jegou/Douze/Schmid, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011), the compression behind production IVF-PQ
indexes, next to the repo's IVF coarse quantizer (ivf.py) and SQ8
scalar quantizer (similarity.vq_codes).

The embedding space splits into m contiguous subspaces; each subspace
learns its own k-entry codebook (k ≤ 256 → one byte per subspace). A
vector encodes to m small codes — at m=8 a 64-dim float32 vector
(256 B) becomes 8 B, the 32× compression that turns an exhaustive
candidate scan of a 100 TB embedding corpus into a RAM-tier operation
(SQ8's 4× keeps full dimensionality; PQ trades more precision for far
smaller codes — the two ends of the production quantization spectrum).

Search uses ASYMMETRIC distance computation (ADC): the query stays
full-precision; per (query, subspace) a k-entry table of partial dot
products is computed once (in a tiny Spark job over |q|·m·k rows with
the oracle's own rounded expression, then collected — bounded by the
≤10-query set, the ivf.knn_ivf sanction) and ships as a broadcast;
scoring a corpus vector is m table lookups + an exact integer
micro-unit sum — map-only over the code scan, no shuffle until the
final per-query top-k.

Round-9: the codebook fit is the DISTRIBUTED deterministic Lloyd's of
the kmeans1 family (first-k-by-vec_id init, 6-dp rounded-L2
assignment with lowest-code ties, DECIMAL per-dim means rounded to
12 dp, empty codes keep their previous entry) — whole-corpus, one
combining shuffle + bounded m·k-row collects per round, and exactly
reproducible in ANSI SQL, so pq1_quantized_knn is driver-checked
against a DuckDB oracle instead of rows-only. Also pinned by pytest:
  * ADC identity: with codebooks that contain every distinct subvector,
    encoding is lossless and ADC equals the exact dot product;
  * recall floor vs knn_bruteforce on the synthetic corpus;
  * code-shape invariants (m codes, each in [0, k)).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout, Ranged

#: codes: epoch-RANGED (vec_id, codes) rows; codebooks: the codec, one
#: snapshot per epoch
LAYOUT = Layout(
    ranged={"codes": Ranged()},
    snapshots={"codebooks": ()},
)


def fit_pq_codebooks(
    embeddings: DataFrame, m: int = 8, k: int = 16, iters: int = 2
) -> np.ndarray:
    """Per-subspace distributed Lloyd's k-means with the kmeans1
    determinism discipline (module docstring). Returns an
    (m, k', dim/m) codebook tensor, k' = min(k, #valid fit-width
    vectors); (m, 0, 0) on a corpus with no valid vector (callers
    degrade to empty results). Fit width = the FIRST valid vector's
    width (the kmeans-family `_FIT_W` convention the oracle mirrors);
    a width not divisible by m fails loudly."""
    from csv_crm_upload_spark.analytics.fitmemo import memo_fit

    # fit-memoized (r10 verdict ask #2): deterministic per the module
    # docstring, so repeat callers share one distributed Lloyd's run
    return memo_fit(
        "pq_codebooks",
        embeddings,
        (m, k, iters),
        lambda: _fit_pq_codebooks_impl(embeddings, m, k, iters),
    )


def _fit_pq_codebooks_impl(
    embeddings: DataFrame, m: int, k: int, iters: int
) -> np.ndarray:
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    valid = valid_vectors(embeddings)
    # ONE bounded collect serves both the fit-width probe (first valid
    # row's width) and — on the common all-one-width corpus — the
    # Lloyd's init rows, instead of a first() job followed by a second
    # limit(k) collect (round 13, guide §1.2: fewer blocking jobs per
    # fresh fit). A head containing a ragged row falls back to the
    # exact width-gated init query, so init semantics are unchanged:
    # first k valid fit-width vectors by vec_id.
    head = valid.orderBy("vec_id").limit(k).select("vec_id", "embedding").collect()
    if not head:
        return np.zeros((m, 0, 0))
    dim = len(head[0]["embedding"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    vf = valid.filter(F.size("embedding") == dim).select("vec_id", "embedding")
    init = head if all(len(r["embedding"]) == dim for r in head) else None
    return _fit_books_on_frame(vf, dim, m, k, iters, init_rows=init)


def _fit_books_on_frame(
    vf: DataFrame,
    dim: int,
    m: int,
    k: int,
    iters: int,
    init_rows: list | None = None,
) -> np.ndarray:
    """The distributed Lloyd's core over a PRE-GATED (vec_id, embedding)
    frame — shared by the raw fit (fit_pq_codebooks gates with
    valid_vectors + fit width) and the residual fit (ivfpq gates by cell
    membership and must NOT re-gate: a singleton cell's residual is a
    legitimate ~zero vector, and PQ's euclidean math has no division to
    protect — unlike the cosine family). The divisibility check lives
    HERE so no caller can silently truncate trailing dims (review r9:
    the residual path bypassed fit_pq_codebooks' check)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    if init_rows is None:
        init_rows = vf.orderBy("vec_id").limit(k).collect()
    books = [
        [[float(v) for v in r["embedding"][j * sub : (j + 1) * sub]] for r in init_rows]
        for j in range(m)
    ]
    if not books[0]:
        return np.zeros((m, 0, 0))
    sums = [
        F.round(
            F.sum(
                F.element_at("sv", d + 1).cast("double").cast("decimal(28,12)")
            ).cast("double")
            / F.count(F.lit(1)),
            12,
        ).alias(f"m_{d}")
        for d in range(sub)
    ]
    from csv_crm_upload_spark.analytics.arrowquant import fit_codes_longform

    for _ in range(iters - 1):
        # assignment as an Arrow-native map stage (round 13; guide §4.2)
        # emitting (j, code, sv) long-form rows directly — replaces the
        # r9 broadcast-join form (explode → join → min(struct(d2, code))
        # regroup), whose per-round cost was TWO shuffles plus the d2
        # expression's analysis. Semantics identical (pinned by
        # tests/test_arrowquant.py): rounded-d2 argmin, ties → lowest
        # code, all-invalid rows keep a code like the join-min did. The
        # decimal mean recompute below stays in the JVM — one combining
        # agg at (j, code) grain, bounded collect.
        rows = (
            fit_codes_longform(vf, books)
            .groupBy("j", "code")
            .agg(*sums)
            .collect()
        )
        got: dict[int, dict[int, list[float]]] = {}
        for r in rows:
            got.setdefault(int(r["j"]), {})[int(r["code"])] = [
                r[f"m_{d}"] for d in range(sub)
            ]
        # a code that lost all members keeps its previous entry (the
        # FAISS convention) so the tensor shape stays rectangular
        books = [
            [got.get(j, {}).get(c, books[j][c]) for c in range(len(books[j]))]
            for j in range(m)
        ]
    if not books[0]:
        return np.zeros((m, 0, 0))
    return np.array(books, dtype=np.float64)


def pq_encode(embeddings: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """vec_id → m codes: ONE map stage over the scan, no shuffle. Gated
    to valid vectors of the codec's width — a corrupt/ragged row
    degrades to absence from the code table (the assign_cells rule)
    rather than a NULL-code row that every downstream ranking would
    have to order around.

    Since round 13 the scoring runs as an Arrow-native map stage
    (arrowquant.encode_arrow): bit-identical decisions to the
    expression-form codes_expr in tests/_quantizer_reference.py (pinned
    by tests/test_arrowquant.py), without the m·k-literal tree
    whose py4j construction + Catalyst analysis + codegen dominated the
    cold cost of every encode (guide §4.2)."""
    from csv_crm_upload_spark.analytics.arrowquant import encode_arrow
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    m, _k, sub = codebooks.shape
    gated = valid_vectors(embeddings).filter(F.size("embedding") == int(m * sub))
    return encode_arrow(gated, codebooks)


def query_luts(spark, query_vectors, codebooks: np.ndarray) -> DataFrame:
    """One (query_id, lut) row per query: lut[j*k + c] = round(dot(q's
    j-th subvector, codebook[j][c]), 9) — the m·k-entry ADC table.
    Computed IN SPARK (one tiny job over |q|·m·k rows) with the exact
    expression the pq1 oracle uses — sequential-fold dot, 9-dp HALF_UP
    round — so every table value is cross-engine-identical, then
    collected (bounded by the ≤10-query sanction) and re-shipped as one
    array per query."""
    m, k, sub = codebooks.shape
    books_df = spark.createDataFrame(
        [
            (j, c, [float(v) for v in codebooks[j, c]])
            for j in range(m)
            for c in range(k)
        ],
        "j int, code int, entry array<double>",
    )
    qdf = spark.createDataFrame(
        [(int(qid), [float(v) for v in qvec]) for qid, qvec in query_vectors],
        "query_id long, q_emb array<double>",
    )
    term = F.round(
        F.aggregate(
            F.zip_with(
                F.slice(F.col("q_emb"), F.col("j") * sub + 1, sub),
                F.col("entry"),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        9,
    )
    rows = (
        qdf.crossJoin(F.broadcast(books_df))
        .select("query_id", "j", "code", term.alias("t"))
        .collect()
    )
    by_q: dict[int, dict[tuple[int, int], float]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[(r["j"], r["code"])] = r["t"]
    out = [
        (int(qid), [tbl[(j, c)] for j in range(m) for c in range(k)])
        for qid, tbl in sorted(by_q.items())
    ]
    return spark.createDataFrame(out, "query_id long, lut array<double>")


def adc_expr(m: int, k: int):
    """ADC dot-product column over (codes, lut): m table lookups + an
    EXACT integer micro-unit sum per row (each 9-dp table value scales
    to a nano-unit BIGINT — order-free, so DuckDB's unordered SUM and
    this fold agree bit-for-bit), rounded to 6 dp — map-only, no
    shuffle."""
    units = F.zip_with(
        F.col("codes"),
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda c, j: F.round(
            F.element_at(F.col("lut"), (j * k + c + 1).cast("int"))
            * F.lit(1000000000.0),
            0,
        ).cast("long"),
    )
    total = F.aggregate(
        units, F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    return F.round(total.cast("double") / F.lit(1000000000.0), 6)


def adc_scores(
    codes: DataFrame,
    query_vectors: list[tuple[int, list[float]]],
    codebooks: np.ndarray,
) -> DataFrame:
    """(query_id, vec_id, adc_dot): asymmetric dot product of each
    full-precision query against every encoded corpus vector — m lookups
    into the query's broadcast (m·k)-entry table per row, map-only."""
    m, k, _sub = codebooks.shape
    ludf = query_luts(codes.sparkSession, query_vectors, codebooks)
    return (
        codes.crossJoin(F.broadcast(ludf))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc_expr(m, k).alias("adc_dot"))
    )


def pq1_quantized_knn(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    n_candidates: int = 50,
) -> DataFrame:
    """Top-k neighbors per query via the production PQ two-stage shape:
    the 8-byte codes SELECT candidates, full precision DECIDES.

      1. fit codebooks (the distributed Lloyd's core) and encode the corpus —
         map-only over the scan;
      2. ADC-score every code against broadcast per-query lookup tables
         and keep the top `n_candidates` per query (the one wide pass,
         over m-byte codes instead of full vectors);
      3. exact-cosine rerank of the CANDIDATE SET only (a semi-join of
         ~n_candidates·queries rows against the full-precision vectors —
         never a second corpus scan at full width).

    This candidate-then-refine split is why PQ codes can be lossy: ADC
    only has to land true neighbors inside the candidate set, and the
    rerank restores exact ordering. Ties break on vec_id (total order).

    The fit+encode here runs per call (self-contained, ORACLE-PAIRED
    queries() entry — round 9); the build-once/query-many split of the same
    search lives in save_pq_index / pq_search_indexed.
    """
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    if query_ids is None:
        query_ids = list(range(10))  # same default query set as knn_bruteforce
    empty = "query_id long, vec_id long, cos_sim double, rank int"
    spark = embeddings.sparkSession
    # gate the QUERY SIDE first (a <=|query_ids|-row probe): with no
    # valid query the result is empty regardless, so skip the fit and
    # the corpus-wide encode entirely (review r9 — the eager checkpoint
    # otherwise paid a full encode scan to return nothing)
    if not valid_vectors(
        embeddings.filter(F.col("vec_id").isin(query_ids))
    ).limit(1).count():
        return spark.createDataFrame([], empty)
    books = fit_pq_codebooks(embeddings, m=m, k=n_codes)
    if books.shape[1] == 0:  # zero valid vectors: the oracle's empty result
        return spark.createDataFrame([], empty)
    # materialize the encode ONCE: downstream the ADC ranking and the
    # rerank's candidate join each consume the codes — left lazy, every
    # consumer re-ANALYZES the m·k-literal encode tree (bench r9: that
    # analysis, not data, dominated pq1's cold cost); the persisted-index
    # path gets the same effect from its parquet codes. The checkpointed
    # table is fit-memoized alongside the codebooks (r11): encoding is a
    # pure function of (corpus, books), so a repeat caller in one
    # process reuses the materialized codes instead of re-scanning.
    from csv_crm_upload_spark.analytics.fitmemo import memo_fit

    codes = memo_fit(
        "pq_codes",
        embeddings,
        (books.shape, books.tobytes()),
        lambda: pq_encode(embeddings, books).localCheckpoint(eager=True),
    )
    return _pq_search(codes, books, embeddings, query_ids, k, n_candidates)


def _pq_search(
    codes: DataFrame,
    books: np.ndarray,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    n_candidates: int,
) -> DataFrame:
    """Shared ADC-candidates → exact-cosine-rerank stage used by both the
    self-contained pq1_quantized_knn and the persisted-index probe
    (pq_search_indexed), so the two paths are identical by construction.
    Queries are gated to valid vectors of the codec's width (the
    knn_ivf rule the oracle mirrors): a corrupt/ragged query degrades
    to absence, and its lut is never built on a short slice."""
    from csv_crm_upload_spark.analytics.similarity import valid_vectors

    dim = int(books.shape[0] * books.shape[2])
    qrows = (
        valid_vectors(embeddings.filter(F.col("vec_id").isin(query_ids)))
        .filter(F.size("embedding") == dim)
        .select("vec_id", "embedding")
        .collect()
    )  # bounded: ≤ len(query_ids) rows, the ivf.knn_ivf sanction
    qvecs = [(r["vec_id"], [float(v) for v in r["embedding"]]) for r in qrows]
    if not qvecs:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, vec_id long, cos_sim double, rank int"
        )
    scored = adc_scores(codes, qvecs, books)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dot").desc(), F.col("vec_id")
    )
    cands = (
        scored.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= n_candidates)
        .select("query_id", "vec_id")
    )
    return exact_rerank(cands, embeddings, qvecs, k)


def exact_rerank(
    cands: DataFrame,
    embeddings: DataFrame,
    qvecs: list[tuple[int, list[float]]],
    k: int,
) -> DataFrame:
    """Full-precision cosine top-k over a (query_id, vec_id) CANDIDATE
    set — a semi-join of ~n_candidates·queries rows against the vector
    table, never a second corpus scan at full width. Ties break on
    vec_id (total order). Shared by the PQ and IVF-PQ search paths."""
    from csv_crm_upload_spark.analytics.similarity import cosine

    spark = embeddings.sparkSession
    qdf = spark.createDataFrame(qvecs, "query_id long, q_emb array<double>")
    reranked = (
        cands.join(embeddings.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "vec_id",
            (
                F.round(cosine(F.col("q_emb"), F.col("embedding")), 6)
                + F.lit(0.0)  # normalize IEEE -0.0 (the knn_bruteforce guard)
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def save_pq_index(
    embeddings: DataFrame,
    path: str,
    m: int = 8,
    n_codes: int = 16,
    **fit_kwargs,
) -> np.ndarray:
    """Persist a PQ index: the learned codebooks (one parquet of
    (subspace, code, entry array)) plus the encoded corpus. This is the
    build-once/query-many split of production PQ — fit + the wide
    encode scan (whose giant codegen expression dominates pq1's cold
    cost) run once per corpus snapshot; every probe afterwards reads
    only m-byte codes.

    Code files AND codebooks are EPOCH-VERSIONED (LAYOUT), so a
    REBUILD over a live index is atomic (manifest.rebuild): the new
    codebooks+codes land under the next epoch and the manifest's
    `epoch`/`base_epoch` advance together in one commit, so a
    racing reader pairs old codebooks with old codes or new with new,
    never a mix.

    Portability note: the layout is
    self-describing — codebooks ride the index and probes rebuild their
    ADC tables from them — but code assignment is float argmax,
    consistent for any reader repeating the same arithmetic, unlike the
    md5 integer conventions of the oracle-visible queries."""
    spark = embeddings.sparkSession
    books = fit_pq_codebooks(embeddings, m=m, k=n_codes, **fit_kwargs)
    if books.shape[1] == 0:
        # loud, BEFORE any epoch dir lands (the empty-tensor degrade is
        # for query entry points; an index build over a corpus with zero
        # valid vectors is a caller error, and letting it reach the
        # encoder produced a confusing Catalyst crash after partial
        # writes)
        raise ValueError(
            "save_pq_index: no valid vectors to fit a codebook on "
            "(corpus is empty or all embeddings are NULL/empty/zero-norm)"
        )
    mm, kk, _sub = books.shape

    def write(e: int) -> None:
        books_df = _codebook_frame(spark, books)
        manifest.write_epoch(books_df, path, LAYOUT, "codebooks", e)
        manifest.write_epoch(pq_encode(embeddings, books), path, LAYOUT, "codes", e)

    manifest.rebuild(path, LAYOUT, write, m=int(mm), k=int(kk))
    return books


def _codebook_frame(spark, books: np.ndarray) -> DataFrame:
    """The (subspace, code, entry) rows a codebook tensor persists as."""
    mm, kk, _sub = books.shape
    rows = [
        (int(j), int(c), [float(v) for v in books[j, c]])
        for j in range(mm)
        for c in range(kk)
    ]
    return spark.createDataFrame(rows, "subspace int, code int, entry array<double>")


def _load_codebooks(spark, path: str, epoch: int) -> np.ndarray:
    rows = spark.read.parquet(f"{path}/codebooks/epoch={epoch}").collect()
    mm = 1 + max(r["subspace"] for r in rows)  # bounded: m·k rows
    kk = 1 + max(r["code"] for r in rows)
    sub = len(rows[0]["entry"])
    books = np.zeros((mm, kk, sub))
    for r in rows:
        books[r["subspace"], r["code"]] = r["entry"]
    return books


def load_pq_index(spark, path: str) -> tuple[np.ndarray, DataFrame]:
    """(codebook tensor, codes DataFrame) from a saved index — the union
    of the committed epochs in [base_epoch, epoch], manifest-resolved so
    a racing rebuild is seen entirely or not at all."""
    man = manifest.read_manifest(path)
    books = _load_codebooks(spark, path, man["epoch"])
    codes = manifest.live(spark, path, man, LAYOUT, "codes").select("vec_id", "codes")
    return books, codes


def pq_search_indexed(
    spark,
    path: str,
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_candidates: int = 50,
) -> DataFrame:
    """Probe a persisted PQ index: identical semantics to
    pq1_quantized_knn (same _pq_search stage) minus the per-call fit +
    corpus encode. `embeddings` supplies the full-precision vectors for
    the query rows and the candidate rerank only — the wide ADC pass
    runs over the stored m-byte codes."""
    if query_ids is None:
        query_ids = list(range(10))
    books, codes = load_pq_index(spark, path)
    return _pq_search(codes, books, embeddings, query_ids, k, n_candidates)


def pqrec1_recall_audit(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    n_candidates: int = 50,
) -> DataFrame:
    """Recall@k of the PQ candidate-then-refine search against exact
    cosine brute-force — the eval that decides whether (m, n_codes,
    n_candidates) lets the 32x-compressed codes feed the reranker, the
    bqrec1 pattern applied to the learned codec. Composes the two
    oracle-paired operators verbatim (the distributed codebook fit made
    pq1 driver-checked — round-9); the exact side is the base relation
    so zero-overlap queries report recall 0, not an absent row."""
    from csv_crm_upload_spark.analytics.similarity import knn_bruteforce, recall_rollup

    return recall_rollup(
        knn_bruteforce(embeddings, query_ids, k),
        pq1_quantized_knn(embeddings, query_ids, k, m, n_codes, n_candidates),
    )
