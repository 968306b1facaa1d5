"""Deduplication family over `documents` — exact, n-gram Jaccard,
MinHash+LSH, SimHash. The LLM-training-pipeline workhorses, each built
shuffle-consciously:

  * exact: one hash-groupBy on a fingerprint — the cheapest possible
    dedup; at 100 TB this is a single shuffle on a 16-byte key.
  * n-gram Jaccard: shingle → explode → self-join on shingle → per-pair
    intersection counts. The frequent-shingle cap (max_df) bounds the
    worst-case pair blowup that kills naive token-joins at scale.
  * MinHash: k independent hash families realized as salted md5-derived
    60-bit shingle hashes (min over md5(i:shingle)); LSH bands
    hash-bucket signatures so candidate pairs are found with ONE shuffle
    on (band, bucket) instead of an all-pairs join — the standard
    sublinear near-dup path at 100 TB.
  * SimHash: 64-bit sign-aggregated token hashes; near-dups = small
    Hamming distance (here: identical 16-bit halves via banding).

All arithmetic uses md5-derived integers so the DuckDB oracle can
reproduce results bit-for-bit (no engine-private hash functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics.fitmemo import memo_fit
from csv_crm_upload_spark.operators import manifest
from csv_crm_upload_spark.operators.manifest import Layout, Ranged

MINHASH_K = 16  # signature length
LSH_BANDS = 4  # 16 hashes → 4 bands × 4 rows


def _with_content(documents: DataFrame) -> DataFrame:
    """Null-text docs carry no content signal: exclude them from content
    dedup explicitly (engines disagree on greatest(NULL,..) inside the
    shingle index arithmetic, so implicit behavior would be engine-
    specific)."""
    return documents.filter(F.col("text").isNotNull())


def _spread(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Repartition to full parallelism before CPU-heavy per-row hashing.

    Small-file inputs (one parquet file → one split) would otherwise run
    the whole md5/shingle map on a single core; the hash work dominates
    the one cheap shuffle this costs. On a cluster the same holds whenever
    upstream produced few/large splits."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, key)


def _norm_text() -> F.Column:
    return F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))


def _shingles(n: int = 3) -> F.Column:
    """Word n-gram shingles (distinct) of normalized text."""
    toks = F.split(_norm_text(), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


# deterministic 60-bit integer from md5 hex, reproducible in DuckDB via
# ('0x' || substr(md5(x),1,15))::BIGINT — the one canonical definition
from csv_crm_upload_spark.functions.hashing import md5_60 as _hash60  # noqa: E402


def d_exact_dups(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by content fingerprint: canonical (min)
    doc_id + duplicate count for every group with >1 member."""
    fp = F.md5(_norm_text())
    return (
        _with_content(documents).select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def xsrc1_cross_source_overlap(documents: DataFrame, n: int = 3) -> DataFrame:
    """Cross-source content-overlap matrix — the provenance view a
    corpus curator reads before setting mixing weights: for every
    unordered source pair, how many DISTINCT word n-gram shingles the
    two sources SHARE, and the overlap coefficient
    |A∩B| / min(|A|, |B|) (the containment-style measure that surfaces
    a small source wholly scraped into a big one — syndication, mirror
    sites, scrape overlap — where Jaccard would be union-diluted).

    Shape: ONE combining shuffle on the shingle key folds the corpus to
    per-shingle SORTED source sets (collect_set + array_sort — sources
    are a bounded dimension, tens not millions, so the set is tiny);
    each multi-source shingle expands to its C(|set|, 2) ordered pairs
    MAP-SIDE (a nested transform, no self-join, no second pass over the
    data); the pair counts and per-source set sizes are both tiny
    combining aggs off that one folded table. The naive alternative — a
    same-shingle self-join of the (source, shingle) set — shuffles the
    distinct set twice more and was measured 5.5 s vs ~2 s at sf0.1."""
    sg = (
        _spread(_with_content(documents))
        .select("source", F.explode(_shingles(n)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .localCheckpoint(eager=True)  # feeds both the pair count and sizes
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size(F.col("srcs"))),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    inter = (
        sg.filter(F.size("srcs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sizes = (
        sg.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("set_size"))
    )
    overlap = F.round(
        F.col("n_shared").cast("double") / F.least("size_a", "size_b"),
        6,
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(F.col("source").alias("source_a"), F.col("set_size").alias("size_a"))
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("source").alias("source_b"), F.col("set_size").alias("size_b"))
            ),
            "source_b",
        )
        .select("source_a", "source_b", "n_shared", overlap.alias("overlap_coef"))
        .orderBy("source_a", "source_b")
    )


def d_ngram_jaccard_pairs(
    documents: DataFrame, n: int = 3, threshold: float = 0.6, max_df: int = 50
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Shingles occurring in more than `max_df` docs are dropped before the
    self-join (stop-shingle cap): they contribute little discrimination
    but quadratic pairs. |A∩B| from the join, |A∪B| = |A|+|B|-|A∩B|.
    """
    sh = _spread(_with_content(documents)).select("doc_id", F.explode(_shingles(n)).alias("shingle"))
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(df_counts.filter(F.col("df") <= max_df), "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))

    a = rare.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = rare.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def d_containment_pairs(
    documents: DataFrame, n: int = 3, threshold: float = 0.8, max_df: int = 50
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle containment
    C(A→B) = |A∩B| / |A| — the sub-document duplication signal Jaccard
    misses: a short document quoted wholly inside a long one scores
    containment 1.0 while its Jaccard stays low (union-dominated). The
    standard second dedup pass of a training corpus (boilerplate pages
    embedding shared cores, partial scrapes, quote farms).

    Same bounded shape as d_ngram_jaccard_pairs: the max_df stop-shingle
    cap bounds the self-join, |A∩B| comes from one (shingle) join, sizes
    from one groupBy. Emits each unordered pair once (doc_a < doc_b)
    with BOTH directions' scores; kept when either direction ≥
    threshold."""
    sh = _spread(_with_content(documents)).select("doc_id", F.explode(_shingles(n)).alias("shingle"))
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(df_counts.filter(F.col("df") <= max_df), "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))

    a = rare.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = rare.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    c_a = F.round(F.col("n_inter").cast("double") / F.col("size_a"), 6)
    c_b = F.round(F.col("n_inter").cast("double") / F.col("size_b"), 6)
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")), "doc_b")
        .withColumn("containment_a", c_a)
        .withColumn("containment_b", c_b)
        .filter(
            (F.col("containment_a") >= threshold) | (F.col("containment_b") >= threshold)
        )
        .select("doc_a", "doc_b", "containment_a", "containment_b")
    )


def d_minhash_signatures(documents: DataFrame, n: int = 3) -> DataFrame:
    """k=16 MinHash values per document over n-gram shingles, built with
    DOUBLE HASHING (Kirsch–Mitzenmacher): one md5 per shingle split into
    h1 (60-bit) and h2 (56-bit), family i = h1 + i·h2. Equivalent quality
    to k independent families for MinHash, at 1/k the hash CPU — the map
    stage computes ONE md5 per shingle instead of 16 salted ones, and the
    generated agg code shrinks to k trivial linear mins (fast to JIT).
    Bit widths keep h1 + 15·h2 < 2^61, safe under ANSI int64 in both
    engines.

    Shape: one explode + one groupBy with k min-aggregates. The k mins
    combine MAP-SIDE (partial aggregation), so the shuffle carries only
    O(docs × k) partial rows, not the exploded shingle stream — this is
    the scalable idiom at 100 TB. (A zero-shuffle array_min(transform(..))
    formulation was tried and rejected: Catalyst's CollapseProject
    re-inlines the shingle-building expression into all k columns, 16×ing
    the tokenization work, and a map-only plan has no shuffle files for
    downstream consumers to reuse.)
    """
    sh = _spread(_with_content(documents)).select("doc_id", F.explode(_shingles(n)).alias("shingle"))
    md5hex = F.md5(F.col("shingle"))
    pro = sh.select(
        "doc_id",
        F.conv(F.substring(md5hex, 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md5hex, 16, 14), 16, 10).cast("long").alias("h2"),
    )
    aggs = [
        F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"mh_{i}")
        for i in range(MINHASH_K)
    ]
    return pro.groupBy("doc_id").agg(*aggs)


def _band_buckets(sig: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id[, *carry], band, bucket) — LSH banding of a signature
    table: each band's bucket is the md5 of its signature slice.
    `carry` names extra columns to ride through the explode (the inline
    pair query carries the signature array so its verification stays
    map-only; the persisted-index writer keeps the default narrow
    shape)."""
    k = MINHASH_K
    rows_per_band = k // LSH_BANDS
    mh_cols = [F.col(f"mh_{i}") for i in range(k)]
    bands = sig.select(
        "doc_id",
        *carry,
        *[
            F.md5(F.concat_ws("_", F.lit(bi), *mh_cols[bi * rows_per_band : (bi + 1) * rows_per_band])).alias(
                f"band_{bi}"
            )
            for bi in range(LSH_BANDS)
        ],
    )
    return bands.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(*[F.struct(F.lit(bi).alias("band"), F.col(f"band_{bi}").alias("bucket")) for bi in range(LSH_BANDS)])
        ).alias("bb"),
    ).select("doc_id", *carry, "bb.band", "bb.bucket")


def _verify_pairs(cand: DataFrame, sig: DataFrame, threshold: float) -> DataFrame:
    """Estimated-Jaccard verification of candidate (doc_a, doc_b) pairs:
    signature agreement rate ≥ threshold."""
    k = MINHASH_K
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(k)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(k)])
    agree = sum((F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(k))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", F.round(agree.cast("double") / k, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


#: Default per-(band, bucket) membership cap for the PERSISTED index
#: build path (save_dedup_index). The in-bucket
#: self-join is quadratic, so one boilerplate-heavy bucket of B docs
#: costs B²/2 candidate pairs — at 100 TB a single hot bucket would
#: dominate the whole build. 1000 members bounds any one bucket's
#: candidates at ~500k pairs while being far above what an honest
#: near-dup neighborhood produces. The INLINE oracle-paired query
#: (d_minhash_lsh_pairs) keeps max_bucket=None so its semantics stay
#: exactly what the DuckDB oracle replicates.
INDEX_MAX_BUCKET = 1000


def _filter_hot_buckets(stacked: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop (band, bucket) groups larger than `max_bucket` from candidate
    generation — the standard LSH hot-bucket guard. Members of a dropped
    bucket can still pair via their other bands."""
    if max_bucket is None:
        return stacked
    ok = (
        stacked.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bkt_n"))
        .filter(F.col("bkt_n") <= max_bucket)
        .select("band", "bucket")
    )
    return stacked.join(ok, ["band", "bucket"])


def d_minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding over MinHash signatures,
    verified by estimated Jaccard (signature agreement rate).

    Scale path: docs land in (band, bucket) groups — ONE shuffle on the
    bucket key; only same-bucket pairs are compared, never all pairs.

    `max_bucket` (opt-in; None keeps the exact default semantics the
    oracle replicates): the self-join is quadratic IN THE BUCKET, so a
    pathological template corpus (thousands of near-identical docs in
    one band bucket) costs |bucket|² pairs. Capping drops buckets larger
    than `max_bucket` from candidate generation — the standard LSH
    hot-bucket guard (recall trade documented: members of a dropped
    bucket can still pair via their OTHER bands, and genuinely giant
    duplicate groups are better handled by exact-dedup collapse first).
    """
    # Materialization point: signatures are tiny (17 longs/doc). The
    # inline query consumes them once, but repeat callers (the graph
    # family, mhcal1, benchmarks) reuse the persisted table instead of
    # recomputing the shingle+hash map stage. A bare persist() here
    # would have no owner to unpersist it; the fit memo owns it instead
    # (bounded, keyed by plan semantics + input files, evicted with
    # unpersist).
    sig = memo_fit(
        "minhash_sig", documents, (n,), lambda: d_minhash_signatures(documents, n).persist()
    )
    # Round 13 (guide §2.4 — remove shuffles outright): the signature
    # ARRAY rides through the band explode, so the in-bucket self-join
    # yields both pair members' signatures directly and the agreement
    # verification becomes MAP-ONLY — the previous shape re-joined the
    # signature table twice (once per pair side), two extra corpus-keyed
    # shuffles. The dedup (a pair can collide in several bands) moves
    # from distinct() to an equivalent groupBy(doc_a, doc_b) with
    # first(sig) (constant per doc) — same one pair-grain exchange.
    # agree = |{i : a_i = b_i}| via zip_with/filter ≡ the summed casts of
    # _verify_pairs; est_jaccard expression unchanged (oracle-identical).
    k = MINHASH_K
    sig_arr = F.array(*[F.col(f"mh_{i}") for i in range(k)])
    stacked = _filter_hot_buckets(
        _band_buckets(sig.withColumn("sig", sig_arr), carry=("sig",)), max_bucket
    )
    paired = (
        stacked.alias("x")
        .join(stacked.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.sig").alias("sig_a"),
            F.col("y.sig").alias("sig_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.first("sig_a").alias("sig_a"), F.first("sig_b").alias("sig_b"))
    )
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x)
    )
    return (
        paired.withColumn("est_jaccard", F.round(agree.cast("double") / k, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def mhcal1_minhash_calibration(documents: DataFrame, n: int = 3) -> DataFrame:
    """Estimator-calibration audit of the MinHash Jaccard ESTIMATE
    against the EXACT shingle Jaccard, per estimate decile, over the
    LSH candidate pairs — the lshrec1 discipline applied to VALUE
    calibration instead of recall: dd_minhash_lsh keeps pairs by the
    k=16 signature agreement rate, and this readout reports how far
    that estimate sits from the truth in each decile (Broder 1997's
    unbiasedness only holds marginally; banding SELECTS FOR collision-
    lucky pairs, so the low deciles of the candidate stream carry
    positive bias — the audit makes the production threshold's real
    meaning visible before anyone tunes it).

    Columns per decile bucket: n_pairs, mean_est, mean_exact,
    mae = mean |est − exact|, bias = mean (est − exact).

    Cross-engine exactness: est = agree/16 is BINARY-exact (dyadic);
    bucket = floor(est·10) clamped to 9 is exact arithmetic on dyadic
    doubles; the exact Jaccard is the one double division both engines
    share rounded to 6 dp; every per-pair term rounds to 9 dp into
    order-free DECIMAL(38,12) sums; one double division per mean.

    Scale shape: candidates come from the banded buckets (ONE shuffle
    on the bucket key — never all-pairs); the exact-Jaccard join is
    pair-ANCHORED (pairs → A-shingles → match B side on (doc_b,
    shingle)), so the intersection work is Σ_pairs |A| keyed-join rows,
    bounded by the candidate set — NOT the d_ngram all-rare-pairs
    self-join; set sizes are one combining agg. Readout is a ≤10-row
    rollup."""
    # the UNGATED production candidate stream — one encoding of the
    # banding/verification protocol (threshold=0.0 keeps every pair)
    est = d_minhash_lsh_pairs(documents, n, threshold=0.0)
    sh = _spread(_with_content(documents)).select(
        "doc_id", F.explode(_shingles(n)).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("set_size"))
    inter = (
        est.select("doc_a", "doc_b")
        .join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0)).cast("long")
    scored = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")), "doc_b")
        .select(
            F.col("est_jaccard").alias("est"),
            F.round(
                ni.cast("double") / (F.col("size_a") + F.col("size_b") - ni),
                6,
            ).alias("exact"),
        )
    )
    def _dsum(c):
        return F.sum(F.round(c, 9).cast("decimal(38,12)"))
    return (
        scored.groupBy(
            F.least(F.floor(F.col("est") * 10), F.lit(9)).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            _dsum(F.col("est")).alias("s_est"),
            _dsum(F.col("exact")).alias("s_exact"),
            _dsum(F.abs(F.col("est") - F.col("exact"))).alias("s_mae"),
            _dsum(F.col("est") - F.col("exact")).alias("s_bias"),
        )
        .select(
            "bucket",
            "n_pairs",
            (F.round(F.col("s_est").cast("double") / F.col("n_pairs"), 6) + F.lit(0.0)).alias("mean_est"),
            (F.round(F.col("s_exact").cast("double") / F.col("n_pairs"), 6) + F.lit(0.0)).alias("mean_exact"),
            (F.round(F.col("s_mae").cast("double") / F.col("n_pairs"), 6) + F.lit(0.0)).alias("mae"),
            (F.round(F.col("s_bias").cast("double") / F.col("n_pairs"), 6) + F.lit(0.0)).alias("bias"),
        )
        .orderBy("bucket")
    )


def dd4_source_neardup_rates(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-source near-duplication rates — the provenance rollup a
    curator reads next to xsrc1's overlap matrix: for each source, how
    many of its documents participate in at least one MinHash-LSH
    near-dup pair, and the rate. A source with a high rate is scrape
    overlap or template spam; its mixing weight (mix1/mix3) should see
    this first.

    `pairs` (optional) consumes the persisted candidate-pair index like
    the rest of the graph family — the production path; derived inline
    when omitted. The rollup itself is one explode of the pair table to
    its member ids (pair-bounded, corpus-free), a distinct, a join back
    to the doc→source projection, and a sources-sized readout."""
    if pairs is None:
        pairs = d_minhash_lsh_pairs(documents, n=n, threshold=threshold)
    members = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    per_doc = documents.select("doc_id", "source").join(members, "doc_id", "left")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("long").alias("n_neardup_docs"),
        )
        .withColumn(
            "neardup_rate",
            F.round(F.col("n_neardup_docs").cast("double") / F.col("n_docs"), 6),
        )
        .orderBy("source")
    )


def d_simhash(documents: DataFrame) -> DataFrame:
    """64-bit SimHash per document from token hashes: bit b of the hash is
    1 iff the sum of per-token signs at b is positive. Expressed as 64
    conditional sums in one aggregation (single shuffle)."""
    toks = _spread(_with_content(documents)).select(
        "doc_id", F.explode(F.array_distinct(F.split(_norm_text(), " "))).alias("tok")
    ).withColumn("h", _hash60(F.col("tok")))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"s_{b}")
        for b in range(60)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    simhash = sum(
        F.when(F.col(f"s_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(60)
    )
    return agg.select("doc_id", simhash.alias("simhash"))


#: derived-key format stamp for the persisted pair index
#: (manifest.check_key_format): the pairs derive from md5-60 minhash
#: signatures over ' '-joined word 3-shingles of _norm_text. A
#: tokenization/shingle/hash change makes stored pairs incompatible
#: with freshly derived signatures — bump this so the mismatch fails
#: loudly instead of silently pairing nothing.
DEDUP_KEY_FORMAT = "normtext-spaceshingle-md560-minhash-v1"

#: pairs: epoch-RANGED (doc_a, doc_b, est_jaccard) rows, the columns
#: _verify_pairs selects; declared so an open infers nothing from footers
DEDUP_LAYOUT = Layout(
    ranged={"pairs": Ranged(schema="doc_a long, doc_b long, est_jaccard double, epoch int")},
    key_format=DEDUP_KEY_FORMAT,
    missing_ok=True,
)


def save_dedup_index(
    documents: DataFrame,
    path: str,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = INDEX_MAX_BUCKET,
) -> None:
    """Materialize the MinHash-LSH near-dup PAIR TABLE once — the
    build-once artifact every graph-family consumer (d_dup_clusters,
    tri1_triangle_counts, pr1_doc_pagerank, dd2_dedup_corpus,
    prepare_training_corpus) shares via their `pairs=` parameter,
    exactly like the BM25/IVF persisted indexes.

    At 100 TB the shingle+minhash map stage is the dominant cost of the
    whole graph family; deriving the pairs once per corpus snapshot
    instead of once per query is the difference between one corpus pass
    and four.

    Layout is EPOCH-VERSIONED (DEDUP_LAYOUT, atomic rebuild over a live
    index via manifest.rebuild): per-epoch `pairs`. The manifest records
    the build parameters so a consumer can detect a mismatched probe.

    Unlike the inline oracle query, the PRODUCTION build caps hot
    buckets by default (`max_bucket=INDEX_MAX_BUCKET`): a (band, bucket)
    group larger than the cap is dropped from candidate generation, so
    one boilerplate-heavy template bucket can't go quadratic in the
    build join. The recall trade (a dropped bucket's members can still
    pair via their other bands; giant exact-duplicate groups belong to
    exact-dedup collapse anyway) is recorded in the manifest as
    `max_bucket` so consumers know the artifact's contract."""

    def write(e: int) -> None:
        sig = d_minhash_signatures(documents, n).persist()
        try:
            bands = _band_buckets(sig)
            capped = _filter_hot_buckets(bands, max_bucket)
            cand = (
                capped.alias("x")
                .join(capped.alias("y"), ["band", "bucket"])
                .filter(F.col("x.doc_id") < F.col("y.doc_id"))
                .select(
                    F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
                )
                .distinct()
            )
            pairs = _verify_pairs(cand, sig, threshold)
            manifest.write_epoch(pairs, path, DEDUP_LAYOUT, "pairs", e)
        finally:
            sig.unpersist()

    manifest.rebuild(
        path,
        DEDUP_LAYOUT,
        write,
        shingle_n=n,
        threshold=float(threshold),
        minhash_k=MINHASH_K,
        lsh_bands=LSH_BANDS,
        max_bucket=max_bucket,
    )


def load_dedup_index(spark, path: str) -> DataFrame:
    """The persisted (doc_a, doc_b, est_jaccard) near-dup pair table —
    the union of the committed epochs in [base_epoch, epoch]
    (manifest-resolved, so a racing rebuild is invisible: old-or-new,
    never a partial epoch)."""
    m = manifest.checked_manifest(path, DEDUP_LAYOUT)
    return manifest.live(spark, path, m, DEDUP_LAYOUT, "pairs")


def pr1_doc_pagerank(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    iters: int = 5,
    damping: float = 0.85,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """PageRank over the MinHash-LSH near-dup graph — centrality of each
    document inside its duplicate neighborhood (the canonical-pick signal
    that's robust to chains, unlike min-doc_id). The iterative
    power-method pattern: each round is one join + one map-side-combining
    aggregation over the edges, lineage truncated per round.

    Determinism contract (the oracle unrolls the SAME fixed iteration
    count): per-edge contributions are rounded to 12 decimals and summed
    as DECIMAL (exact, order-independent); the damping arithmetic is
    plain IEEE double ops both engines execute identically. The node
    count enters as one scalar — bounded driver value, standard for
    iterative algorithms (cf. the convergence probe in d_dup_clusters).

    `pairs`: a pre-built near-dup pair table (see save_dedup_index) —
    skips the per-query LSH derivation; identical results asserted in
    tests. When omitted the pairs are derived inline.
    """
    own_pairs = pairs is None
    if own_pairs:
        pairs = d_minhash_lsh_pairs(documents, n=n, threshold=threshold).persist()
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .persist()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    try:
        n_nodes = deg.count()
        if n_nodes == 0:
            return documents.sparkSession.createDataFrame(
                [], "doc_id long, n_neighbors bigint, pagerank double"
            )
        nodes = deg.select(F.col("src").alias("doc_id"))
        teleport = (F.lit(1.0) - F.lit(damping)) / F.lit(float(n_nodes))
        # fold deg into the edge table ONCE before the power iterations
        # (guide §2.4: two operations keyed the same way share one
        # exchange) — each round then pays a single rank join instead of
        # re-joining deg every time; values are identical, deg is just
        # carried on the edge row.
        edges_deg = (
            edges.join(deg, "src")
            .select("src", "dst", "deg")
            .localCheckpoint(eager=True)
        )
        ranks = nodes.withColumn(
            "rank", F.round(F.lit(1.0) / F.lit(float(n_nodes)), 12)
        ).localCheckpoint(eager=True)
        for _ in range(iters):
            contrib = (
                edges_deg.join(ranks, edges_deg["src"] == ranks["doc_id"])
                .select(
                    F.col("dst"),
                    F.round(F.col("rank") / F.col("deg"), 12)
                    .cast("decimal(28,12)")
                    .alias("c"),
                )
            )
            sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            ranks = (
                nodes.join(sums, nodes["doc_id"] == sums["dst"], "left")
                .select(
                    "doc_id",
                    F.round(
                        teleport
                        + F.lit(damping)
                        * F.coalesce(F.col("s").cast("double"), F.lit(0.0)),
                        12,
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
        # materialized → safe to return after the inputs are unpersisted
        return (
            ranks.join(deg, ranks["doc_id"] == deg["src"])
            .select(
                "doc_id",
                F.col("deg").alias("n_neighbors"),
                F.round(F.col("rank"), 8).alias("pagerank"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        edges.unpersist()
        deg.unpersist()
        if own_pairs:
            pairs.unpersist()


def d_component_labels(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_iter: int = 20,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-document connected-component labels (doc_id, component) over
    the MinHash-LSH near-dup graph — the shared core of d_dup_clusters
    (cluster inventory) and dd2_dedup_corpus (canonical-only corpus).
    Only docs that appear in ≥1 near-dup pair are returned; singletons
    are implicitly their own component. The result is lineage-truncated
    (localCheckpoint), so callers can build on it freely.

    Spark has no graph operator; components come from iterative min-label
    propagation: every node starts as its own label, then each round
    takes the min of its label and its neighbors' labels, until a round
    changes nothing. Each round is one join + one map-side-combining min
    aggregation on doc_id — O(E) per round, rounds bounded by the
    component diameter (near-dup clusters are shallow; max_iter caps
    pathology). The convergence probe is a single-row count, never a
    data collect. This is the standard large-scale connected-components
    loop (cf. the hash-to-min variants in the literature).

    `pairs`: a pre-built near-dup pair table (see save_dedup_index).
    """
    own_pairs = pairs is None
    if own_pairs:
        pairs = d_minhash_lsh_pairs(documents, n=n, threshold=threshold).persist()
    # Size the loop's shuffles from the DATA, not a constant: the label
    # tables carry one row per doc-in-a-pair, so wide shuffles of a few
    # thousand rows are pure scheduling overhead locally, while a fixed
    # small constant would serialize a billion-edge graph on a cluster.
    # Target ~100k edges per partition, capped at 4x the cluster's
    # parallelism; the count also materializes the persisted pairs once
    # before the loop fans out over them.
    n_pairs = pairs.count()
    sc = documents.sparkSession.sparkContext
    n_parts = max(1, min(4 * sc.defaultParallelism, 1 + (2 * n_pairs) // 100_000))
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .repartition(n_parts, "dst")
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .repartition(n_parts, "doc_id")
        .localCheckpoint(eager=True)
    )
    try:
        prev_sum = None
        for _ in range(max_iter):
            # step 1 — neighbor min: pull the smallest label across edges
            neighbor_min = (
                edges.join(labels, edges["dst"] == labels["doc_id"])
                .groupBy("src")
                .agg(F.min("component").alias("nbr_min"))
            )
            stepped = (
                labels.join(neighbor_min, labels["doc_id"] == F.col("src"), "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                    ).alias("component"),
                )
            )
            # step 2 — pointer halving: component := label(component). This
            # jump along the label graph halves chain length every round,
            # so rounds are O(log diameter) instead of O(diameter).
            ptr = stepped.select(
                F.col("doc_id").alias("p_doc"), F.col("component").alias("p_comp")
            )
            halved = (
                stepped.join(ptr, stepped["component"] == ptr["p_doc"], "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
                    ).alias("component"),
                )
                .repartition(n_parts, "doc_id")
            )
            # localCheckpoint (eager): materializes this round AND truncates
            # lineage — without it the plan grows per round and analysis
            # time dominates (the classic iterative-algorithm trap).
            new_labels = halved.localCheckpoint(eager=True)
            # convergence probe: labels only ever DECREASE, so the label
            # sum strictly decreases iff any row changed — one aggregate
            # over the tiny checkpointed table, no join
            new_sum = new_labels.agg(F.sum("component")).first()[0]
            labels = new_labels
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        # labels is localCheckpoint-materialized → safe to return after
        # the lineage inputs are unpersisted
        return labels
    finally:
        edges.unpersist()
        if own_pairs:
            pairs.unpersist()


def d_dup_clusters(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_iter: int = 20,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Duplicate CLUSTERS from MinHash-LSH near-dup pairs: connected
    components, each labeled by its minimum doc_id — the cluster
    inventory view (canonical id + size). See d_component_labels for the
    algorithm; this is one map-side-combining count on its output."""
    labels = d_component_labels(
        documents, n=n, threshold=threshold, max_iter=max_iter, pairs=pairs
    )
    return (
        labels.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .select(
            F.col("component").alias("canonical_doc_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
        .orderBy("canonical_doc_id")
    )


def dd2_dedup_corpus(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """The end deliverable of the dedup family: the corpus AFTER near-dup
    removal — every LSH cluster collapsed to its canonical (minimum
    doc_id) member, all other members dropped, singletons untouched.

    One anti join of the (tiny) non-canonical label set against the
    corpus scan: at 100 TB the expensive part is the clustering itself;
    the removal pass is a broadcast anti join that rides the scan."""
    labels = d_component_labels(documents, n=n, threshold=threshold, pairs=pairs)
    drop = labels.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return (
        documents.join(drop, "doc_id", "left_anti")
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    )


def tri1_triangle_counts(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-document triangle participation over the LSH near-dup graph —
    the graph-analytics primitive behind clustering-coefficient /
    community-density audits of a dedup candidate graph ("are my
    near-dup clusters cliquish or chains?").

    Algorithm: degree-oriented triangle enumeration (the standard
    distributed formulation): orient every edge from its lower-degree
    endpoint to the higher (id as tiebreak — a strict total order, so the
    oriented graph is acyclic); enumerate wedges as pairs of OUT-edges of
    a common source; close each wedge against the canonical edge set.
    Every triangle then has exactly ONE vertex with two out-edges, so it
    is counted exactly once, and the wedge count per vertex is bounded by
    its out-degree² — out-degrees are O(sqrt(m)) under this orientation,
    which is what keeps hub vertices from exploding the wedge join at
    100 TB (the naive id-orientation puts all wedges on low-id hubs).
    Three shuffles: degree agg, wedge self-join on the source, and the
    closing semi-join on the (min,max) edge key.

    Output: (doc_id, n_triangles) for every document in ≥1 triangle.
    The DuckDB oracle enumerates triangles with the textbook 3-way join —
    different enumeration order, identical triangle set.

    `pairs`: a pre-built near-dup pair table (see save_dedup_index).
    """
    if pairs is None:
        pairs = d_minhash_lsh_pairs(documents, n, threshold)
    edges = pairs.select("doc_a", "doc_b").persist()
    both = edges.select(F.col("doc_a").alias("node")).unionAll(
        edges.select(F.col("doc_b").alias("node"))
    )
    deg = both.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    with_deg = (
        edges.join(deg.select(F.col("node").alias("doc_a"), F.col("deg").alias("deg_a")), "doc_a")
        .join(deg.select(F.col("node").alias("doc_b"), F.col("deg").alias("deg_b")), "doc_b")
    )
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    # persist: the oriented edge table feeds BOTH sides of the wedge
    # self-join; without a materialization point the degree join above
    # recomputes once per side
    oriented = with_deg.select(
        F.when(lower_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
        F.when(lower_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
    ).persist()
    wedges = (
        oriented.alias("o1")
        .join(oriented.alias("o2"), "src")
        .filter(F.col("o1.dst") < F.col("o2.dst"))
        .select(
            F.col("src").alias("s"),
            F.col("o1.dst").alias("x"),
            F.col("o2.dst").alias("y"),
        )
    )
    # close the wedge: (x, y) is already canonical (x < y) and the edge
    # list is canonical (doc_a < doc_b), so one semi-join key
    tri = wedges.join(
        edges.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y")),
        ["x", "y"],
        "left_semi",
    )
    corners = (
        tri.select(F.col("s").alias("doc_id"))
        .unionAll(tri.select(F.col("x").alias("doc_id")))
        .unionAll(tri.select(F.col("y").alias("doc_id")))
    )
    counts = (
        corners.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("doc_id")
    )
    try:
        # materialized → safe to return after the inputs are unpersisted
        return counts.localCheckpoint(eager=True)
    finally:
        edges.unpersist()
        oriented.unpersist()


def linedd1_span_dedup(documents: DataFrame, span: int = 8) -> DataFrame:
    """Exact SPAN-level dedup — the line/passage dedup of Lee et al.
    2021 ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499) adapted to the corpus's newline-free text: each
    doc is cut into non-overlapping `span`-token windows, and every
    window that already occurred earlier in the corpus (ordered by
    (doc_id, span_idx)) is REMOVED from the doc rather than the doc
    being dropped — the surgical cousin of d_exact_dups, catching
    boilerplate headers/footers and quoted passages whole-doc dedup
    cannot touch.

    Output: one row per non-empty doc — (doc_id, n_spans, n_kept_spans,
    n_tokens_kept, cleaned_text) where cleaned_text is the doc with
    every repeated span excised (kept spans rejoined in order; '' if
    nothing survives).

    Scale shape: two shuffles total — one on the span hash key (global
    first-occurrence via row_number, the same partition-by-content
    pattern as d_exact_dups), one back on doc_id to reassemble. The
    span explode is map-only Column algebra (sequence + posexplode +
    slice, exactly chunk1's machinery with stride == chunk). At 100 TB
    the span-key shuffle is the dominant cost and is what the published
    pipelines pay too; hot spans (the boilerplate being hunted) skew
    that shuffle, but each group only needs its MIN — map-side combine
    keeps the skew at the combiner, not the reducer."""
    from pyspark.sql import Window

    toks = F.split(_norm_text(), " ")
    base = documents.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ).select("doc_id", toks.alias("l"))
    starts = F.sequence(F.lit(1), F.size("l"), F.lit(span))
    piece = F.slice(F.col("l"), F.col("start"), span)
    spans = base.select(
        "doc_id", F.col("l"), F.posexplode(starts).alias("span_idx", "start")
    ).select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.size(piece).cast("bigint").alias("n_span_tokens"),
        F.array_join(piece, "\x01").alias("span_key"),
    )
    w = Window.partitionBy("span_key").orderBy("doc_id", "span_idx")
    flagged = spans.withColumn("keep", F.row_number().over(w) == F.lit(1))
    kept_piece = F.when(
        F.col("keep"),
        F.struct(
            F.col("span_idx"), F.replace(F.col("span_key"), F.lit("\x01"), F.lit(" ")).alias("txt")
        ),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.col("keep").cast("long")).alias("n_kept_spans"),
            F.coalesce(
                F.sum(F.when(F.col("keep"), F.col("n_span_tokens"))), F.lit(0)
            ).cast("bigint").alias("n_tokens_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_piece)), lambda x: x["txt"]
                ),
                " ",
            ).alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


def xsd1_exact_substring_dedup(documents: DataFrame, min_len: int = 10) -> DataFrame:
    """ExactSubstr dedup readout (Lee et al. 2021, arXiv:2107.06499 §4.1)
    at token granularity: a position is DUPLICATED iff it lies inside a
    substring of >= `min_len` tokens that occurs at least twice in the
    corpus — which holds exactly when some repeated `min_len`-gram covers
    it, so sliding grams are a complete (not approximate) reduction of
    the suffix-array formulation at fixed L. Generalizes linedd1 beyond
    its fixed non-overlapping windows: overlapping grams catch repeats at
    ANY offset, and merged coverage reports the true maximal spans.

    Output: one row per doc that CONTAINS duplicated text —
    (doc_id, n_tokens, n_dup_spans, n_dup_tokens, dup_fraction), where
    spans are maximal merged runs of covered positions.

    Scale shape (the published pipeline's cost profile): the sliding-gram
    explode is map-only Column algebra; ONE shuffle on the gram key
    scores occurrence counts (window count, no join back); one keyed
    shuffle on doc_id merges coverage islands via lag/gaps-and-islands
    (per-doc windows — bounded partitions); a final per-doc combining
    agg. Hot boilerplate grams skew the gram-key shuffle exactly as in
    linedd1 — the count-only window keeps the skew at the combiner."""
    from pyspark.sql import Window

    L = min_len
    # overlapping L-gram start positions 1..n-L+1 (docs shorter than L
    # emit nothing — they cannot contain a length-L repeat); one shared
    # derivation with the persisted index (substr_gram_frame)
    grams = substr_gram_frame(documents, min_len=L)
    dup = (
        grams.withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
        .filter(F.col("cnt") > 1)
        .select("doc_id", "n_tokens", "start")
    )
    return coverage_spans(dup, L)


def coverage_spans(dup: DataFrame, L: int) -> DataFrame:
    """Merged maximal-span rollup of duplicated gram START positions —
    the shared tail of inline xsd1 and the persisted-index probe
    (substr.xsd_indexed_dup_spans), so the two paths are identical by
    construction. Input: (doc_id, n_tokens, start).

    Gaps-and-islands: coverage [start, start+L-1] merges with the
    previous gram's unless start > prev_start + L (a gap of >= 1
    uncovered position); island id = running sum of gap flags. Per-doc
    windows only — bounded partitions."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("start")
    flagged = dup.withColumn(
        "new_island",
        F.when(F.col("start") > F.lag("start").over(w) + L, 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = flagged.groupBy("doc_id", "island").agg(
        F.min("start").alias("s0"),
        F.max("start").alias("s1"),
        F.first("n_tokens").alias("n_tokens"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
            F.sum(F.col("s1") - F.col("s0") + L).cast("bigint").alias("n_dup_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_dup_spans",
            "n_dup_tokens",
            F.round(
                F.col("n_dup_tokens").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


def substr_gram_frame(documents: DataFrame, min_len: int = 10) -> DataFrame:
    """(doc_id, n_tokens, start, gram) — the overlapping L-gram frame
    xsd1 scores; factored out so the persisted gram-count index
    (analytics/substr.py) derives ITS grams from the identical
    tokenization and windowing (one definition, the norm_tokens rule)."""
    L = min_len
    toks = F.split(_norm_text(), " ")
    from csv_crm_upload_spark.analytics.fanout import fan_out

    base = fan_out(
        documents.filter(
            F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
        ).select("doc_id", toks.alias("t"))
    )
    starts = F.sequence(F.lit(1), F.size("t") - (L - 1))
    return (
        base.filter(F.size("t") >= L)
        .select(
            "doc_id",
            F.size("t").cast("bigint").alias("n_tokens"),
            F.explode(starts).alias("start"),
            F.col("t"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "start",
            # ' ' is the one separator-safe join character: tokens come
            # from splitting normalized text on ' ', so no token can
            # contain it — and the DuckDB oracle joins grams with ' '
            # too, so both engines build the identical gram key even for
            # adversarial text containing control characters like \x01
            # (which _norm_text's \s+ collapse does NOT strip).
            F.array_join(F.slice(F.col("t"), F.col("start"), L), " ").alias(
                "gram"
            ),
        )
    )


def deg1_dup_degree_hist(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Degree histogram of the near-dup pair graph: how many documents
    have exactly d near-duplicates — the curator's one-glance read on
    dup STRUCTURE (a fat tail here means template/boilerplate families
    that cluster-level views like dd_dup_clusters summarize away; a
    spike at d=1 means isolated pairs). Composes the same banded LSH
    candidate table as the rest of the graph family (pass `pairs` to
    reuse a persisted index; never all-pairs).

    Scale shape: explode each pair into its two endpoints, ONE
    map-side-combining count per doc, ONE count per degree — both
    bounded by the pair table, which the banding already bounded.

    Cross-engine exactness: pure integer counting."""
    p = pairs if pairs is not None else d_minhash_lsh_pairs(documents, n, threshold)
    ends = p.select(F.col("doc_a").alias("doc_id")).unionByName(
        p.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("degree")
    )
