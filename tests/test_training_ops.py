"""Behavioral tests for the training-data pipeline operators: planted
near-duplicates must be found, LSH candidates must cover high-similarity
pairs, simhash must be locality-sensitive, multimodal plumbing must
preserve batch shape and never ship payloads to the driver."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import dedup as dd
from csv_crm_upload_spark.analytics import multimodal as mm
from csv_crm_upload_spark.analytics import similarity as sim
from csv_crm_upload_spark.analytics import textstats as ts
from csv_crm_upload_spark.analytics.fitmemo import clear_fit_memo

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm window sill and the birds sing in the old oak tree"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one shingle neighborhood changed
FAR = "completely different text about spark query engines and shuffle partitioning strategies for large scale data"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "en", "src0", len(BASE)),
        (2, BASE, "en", "src1", len(BASE)),  # exact dup of 1
        (3, NEAR, "en", "src2", len(NEAR)),  # near dup of 1
        (4, FAR, "en", "src3", len(FAR)),
        (5, "short text", "en", "src4", 10),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])


def test_exact_dedup_finds_planted_dup(docs):
    groups = dd.d_exact_dups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["canonical_doc_id"] == 1
    assert groups[0]["n_dups"] == 2


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dd.d_ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0  # near dup
    assert (1, 4) not in pairs  # unrelated


def test_minhash_lsh_recovers_high_jaccard_pairs(docs):
    got = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in dd.d_minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert got[(1, 2)] == 1.0  # identical signatures
    assert (1, 3) in got  # near-dup lands in a shared band
    assert (1, 4) not in got


def test_simhash_locality(docs):
    h = {r["doc_id"]: r["simhash"] for r in dd.d_simhash(docs).collect()}
    assert h[1] == h[2]  # identical docs → identical hash

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(h[1], h[3]) < hamming(h[1], h[4])  # near closer than far


def test_lsh_knn_recall_vs_bruteforce(spark, sf_dir):
    from csv_crm_upload_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = sim.knn_bruteforce(emb, k=5)
    approx = sim.knn_lsh(emb, k=5, n_planes=4)  # coarse buckets → higher recall
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3  # sanity floor: buckets must capture true neighbors
    # every approx result's cosine must match the exact computation
    exact_sims = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["vec_id"])
        if key in exact_sims:
            assert exact_sims[key] == r["cos_sim"]


def test_quality_score_ranges(docs):
    rows = {r["doc_id"]: r for r in ts.t2_quality_score(docs).collect()}
    for r in rows.values():
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert 0.0 <= r["quality_score"] <= 1.0
    assert rows[5]["quality_score"] == 0.0  # <5 tokens → floor
    assert rows[1]["stopword_ratio"] > rows[4]["stopword_ratio"]  # 'the'-heavy text


def test_media_decode_wav_roundtrip():
    """REAL decode: a synthesized PCM WAV parses back to its true sample
    rate, channel count, duration, and a nonzero RMS for a sine tone."""
    wav = mm.synthesize_wav(7, sample_rate=8000, duration_s=0.1)
    sr, nch, dur, rms = mm.decode_media(wav, "audio")
    assert (sr, nch) == (8000.0, 1.0)
    assert abs(dur - 0.1) < 1e-6
    # PCM16 sine at amplitude 12000 → RMS ≈ 12000/(32768·√2) ≈ 0.259
    assert 0.2 < rms < 0.32


def test_media_decode_bmp_roundtrip():
    bmp = mm.synthesize_bmp(5, width=8, height=8)
    w, h, bpp, mean = mm.decode_media(bmp, "image")
    assert (w, h, bpp) == (8.0, 8.0, 24.0)
    assert 0.0 < mean < 1.0


def test_media_decode_codec_formats_still_stubbed():
    """Compressed formats remain the honest stub: no codec libs here."""
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"\x89PNG\r\n\x1a\nrest-of-a-png", "image")


def test_real_media_pipeline_quarantines_codec_rows(docs):
    """Distributed real-decode: WAV/BMP rows decode for real, the
    codec-bound 'video' rows quarantine with decode_ok=false."""
    feats = {r["media_id"]: r for r in mm.extract_real_features(mm.media_table_real(docs)).collect()}
    assert set(feats) == {1, 2, 3, 4, 5}
    for media_id, r in feats.items():
        if r["kind"] in ("image", "audio"):
            assert r["decode_ok"] is True
            assert r["features"] is not None and len(r["features"]) == 4
            if r["kind"] == "audio":
                assert r["features"][0] == 8000.0  # real sample rate
            else:
                assert r["features"][2] == 24.0  # real bit depth
        else:
            assert r["decode_ok"] is False and r["features"] is None


def test_approx_sketches_error_envelope(spark, sf_dir):
    """Sketches have no cross-engine oracle; pin their error bounds vs
    exact answers instead."""
    from csv_crm_upload_spark.analytics.tpch import (
        approx_distinct_users,
        approx_value_percentiles,
    )
    from csv_crm_upload_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for r in approx_distinct_users(events).collect():
        rel_err = abs(r["approx_users"] - exact[r["event_type"]]) / exact[r["event_type"]]
        assert rel_err < 0.1, (r["event_type"], r["approx_users"], exact[r["event_type"]])

    exact_p50 = {
        r["event_type"]: r["p"]
        for r in events.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("p")).collect()
    }
    for r in approx_value_percentiles(events).collect():
        assert abs(r["p50"] - exact_p50[r["event_type"]]) <= max(1.0, 0.1 * abs(exact_p50[r["event_type"]]))
        assert r["p50"] <= r["p95"] <= r["p99"]


def test_null_text_docs_excluded_from_dedup(spark):
    docs = spark.createDataFrame(
        [(1, None, "en", "s", 0), (2, "hello world one two", "en", "s", 19),
         (3, "hello world one two", "en", "s", 19)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sigs = dd.d_minhash_signatures(docs)
    assert {r["doc_id"] for r in sigs.collect()} == {2, 3}
    groups = dd.d_exact_dups(docs).collect()
    assert len(groups) == 1 and groups[0]["n_dups"] == 2


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """With nprobe = n_cells, IVF scans every cell → must equal exact."""
    from csv_crm_upload_spark.analytics.ivf import knn_ivf
    from csv_crm_upload_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in sim.knn_bruteforce(emb, k=5).collect()}
    full = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in knn_ivf(emb, k=5, n_cells=8, nprobe=8).collect()}
    assert full == exact


def test_ivf_partial_probe_recall(spark, sf_dir):
    from csv_crm_upload_spark.analytics.ivf import knn_ivf
    from csv_crm_upload_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r["query_id"], r["vec_id"]) for r in sim.knn_bruteforce(emb, k=5).collect()}
    approx = {(r["query_id"], r["vec_id"]) for r in knn_ivf(emb, k=5, n_cells=16, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_sequence_packing_sharded_skewed_source(spark):
    """A single giant source serializes into one window partition; with
    n_shards the source splits into doc_id%k sub-streams, each with its
    own contiguous offsets — verified against a per-shard recompute."""
    from csv_crm_upload_spark.analytics.textstats import pack1_sequence_packing

    rows = [(i, "w " * (i % 7 + 1), "en", "big", 2 * (i % 7 + 1)) for i in range(60)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = pack1_sequence_packing(docs, budget=8, n_shards=4).collect()
    assert {r["shard"] for r in out} == {0, 1, 2, 3}
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        cum = 0
        for r in rs:
            assert r["doc_id"] % 4 == shard
            assert r["stream_offset"] == cum, (shard, r)
            assert r["bin_id"] == cum // 8
            cum += r["n_tokens"]
    # default (unsharded) path keeps its schema: no shard column
    assert "shard" not in pack1_sequence_packing(docs).columns


def test_heavy_hitter_guarantee(spark):
    """Misra–Gries invariant: any token with true frequency above
    N/threshold_k + N/k must be reported, with its count within N/k of
    truth — regardless of how rows land in partitions."""
    from csv_crm_upload_spark.analytics.textstats import hh1_heavy_hitter_tokens

    # 400 docs of 10 unique junk tokens each + "hot" in every doc ×3:
    # N = 400*13 = 5200, freq(hot) = 1200 >> N/50 + N/100
    rows = [
        (i, ("hot hot hot " + " ".join(f"junk{i}_{j}" for j in range(10))), "en", "s", 0)
        for i in range(400)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r["tok"]: r for r in hh1_heavy_hitter_tokens(docs, k=100, threshold_k=50).collect()}
    assert "hot" in out
    n_total = out["hot"]["n_total"]
    assert n_total == 400 * 13
    assert 1200 - n_total // 100 <= out["hot"]["est_count"] <= 1200
    # nothing rare sneaks past the threshold filter
    assert all(r["est_count"] * 50 > n_total for r in out.values())


def test_pagerank_mass_and_centrality(spark):
    """PageRank over the near-dup graph: total rank mass ≈ 1 (no dangling
    nodes in an undirected graph) and a hub node outranks leaves."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega one two"
    )
    rows = [(1, base, "en", "s", len(base))]
    # 3 leaves, each a small perturbation of base: near base (hub), not
    # necessarily near each other
    for i, repl in enumerate([("one two", "one three"), ("alpha beta", "alpha zeta"), ("psi omega", "psi delta")]):
        txt = base.replace(*repl)
        rows.append((2 + i, txt, "en", "s", len(txt)))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    pr = {r["doc_id"]: r for r in dd.pr1_doc_pagerank(docs, threshold=0.3).collect()}
    assert set(pr) == {1, 2, 3, 4}
    assert abs(sum(r["pagerank"] for r in pr.values()) - 1.0) < 1e-6
    # the hub touches every leaf; leaves may also interconnect (they are
    # all perturbations of the same base), so assert >= with hub at max —
    # exact VALUES are hash-verified against the DuckDB unrolled oracle
    hub = pr[1]
    assert hub["n_neighbors"] == 3
    assert all(hub["pagerank"] >= pr[d]["pagerank"] for d in (2, 3, 4))


def test_pagerank_empty_graph(spark):
    docs = spark.createDataFrame(
        [(1, "totally unique text here", "en", "s", 24)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    assert dd.pr1_doc_pagerank(docs).count() == 0


def test_dup_clusters_are_transitive(spark):
    """A≈B and B≈C must land in ONE cluster even when A,C don't share a
    band directly — the property pairwise output can't give you."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega one two"
    )
    mid = base.replace("one two", "one three")       # near base
    far = mid.replace("alpha beta gamma", "a b c")   # near mid, further from base
    other = "unrelated corpus text about engines shuffles partitions buckets joins windows aggregates"
    rows = [
        (1, base, "en", "s", len(base)),
        (2, mid, "en", "s", len(mid)),
        (3, far, "en", "s", len(far)),
        (10, other, "en", "s", len(other)),
        (11, other, "en", "s", len(other)),  # exact dup pair, separate cluster
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    pairs = {(r["doc_a"], r["doc_b"]) for r in dd.d_minhash_lsh_pairs(docs, threshold=0.3).collect()}
    clusters = {r["canonical_doc_id"]: r["cluster_size"] for r in dd.d_dup_clusters(docs, threshold=0.3).collect()}
    # the 1-2-3 chain collapses into one cluster rooted at 1
    assert clusters.get(1) == 3
    assert clusters.get(10) == 2
    # and the chain was genuinely transitive if (1,3) wasn't a direct pair
    if (1, 3) not in pairs:
        assert True  # label propagation bridged the missing edge


def test_repetition_stats_flags_boilerplate(spark):
    rows = [
        (1, "spam spam spam spam spam", "en", "s", 24),     # all bigrams identical
        (2, "one two three four five", "en", "s", 23),      # all bigrams unique
        (3, "solo", "en", "s", 4),                          # < 2 tokens → excluded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r["doc_id"]: r for r in ts.rep1_repetition_stats(df).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_ngrams"] == 4 and out[1]["n_uniq_ngrams"] == 1
    assert out[1]["dup_ngram_ratio"] == 0.75 and out[1]["top_ngram_frac"] == 1.0
    assert out[2]["dup_ngram_ratio"] == 0.0 and out[2]["top_ngram_frac"] == 0.25


def test_decontamination_flags_benchmark_overlap(docs):
    # doc 2 (src1) is an exact copy of the src0 benchmark doc; doc 3 is a
    # near-copy (shares most trigrams); doc 4 shares none.
    out = {r["doc_id"]: r["n_shared_ngrams"] for r in ts.decon1_benchmark_overlap(docs).collect()}
    assert 2 in out and 3 in out and 4 not in out and 5 not in out
    assert out[2] > out[3] > 0


def test_chunking_covers_every_token_with_overlap(spark):
    text = " ".join(f"tok{i}" for i in range(150))
    df = spark.createDataFrame([(1, text, "en", "s", len(text))],
                               ["doc_id", "text", "lang", "source", "n_chars"])
    chunks = sorted(ts.chunk1_doc_chunks(df).collect(), key=lambda r: r["chunk_idx"])
    # starts at 1, 49, 97, 145 → 4 chunks; last is ragged (150-145+1 = 6 tokens)
    assert [c["n_chunk_tokens"] for c in chunks] == [64, 64, 54, 6]
    assert chunks[0]["chunk_text"].startswith("tok0 ") and chunks[3]["chunk_text"] == " ".join(
        f"tok{i}" for i in range(144, 150)
    )
    # consecutive chunks overlap by chunk - stride = 16 tokens
    assert chunks[0]["chunk_text"].split()[48:] == chunks[1]["chunk_text"].split()[:16]


def test_sq8_codes_bounded_and_knn_recall(spark, sf_dir):
    from csv_crm_upload_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    codes = sim.vq_codes(emb)
    bounds = codes.select(
        F.min(F.array_min("codes")).alias("lo"), F.max(F.array_max("codes")).alias("hi")
    ).collect()[0]
    assert 0 <= bounds["lo"] and bounds["hi"] <= 255
    # quantized ranking must still find most true neighbors (SQ8 keeps
    # relative geometry; exact tie-free integer scoring)
    exact = {(r["query_id"], r["vec_id"]) for r in sim.knn_bruteforce(emb, k=5).collect()}
    quant = {(r["query_id"], r["vec_id"]) for r in sim.vq1_quantized_knn(emb, k=5).collect()}
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.5


def test_hll_sketch_estimates_within_error(spark, sf_dir):
    from csv_crm_upload_spark.analytics import tpch
    from csv_crm_upload_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    est = {r["day"]: r["est_unique_users"] for r in tpch.hll1_mergeable_daily_uniques(events).collect()}
    exact_total = events.select("user_id").distinct().count()
    # default lgConfigK=12 → relative error ~1.6%; allow 5%
    assert abs(est["all_days"] - exact_total) <= max(2, 0.05 * exact_total)
    exact_day = {
        str(r["day"]): r["n"]
        for r in events.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for day, e in est.items():
        if day == "all_days":
            continue
        assert abs(e - exact_day[day]) <= max(2, 0.05 * exact_day[day])


def test_containment_catches_subdocument_duplication(spark):
    """A short document wholly embedded in a long one: containment of
    the short side is 1.0 while Jaccard stays union-dominated below any
    dedup threshold — the signal this operator exists for."""
    core = "alpha beta gamma delta epsilon zeta eta theta"
    long_doc = core + " " + " ".join(f"filler{i} pad{i} extra{i}" for i in range(12))
    rows = [
        (1, core, "en", "s", len(core)),
        (2, long_doc, "en", "s", len(long_doc)),
        (3, "unrelated text about other things entirely different", "en", "s", 50),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    got = {(r["doc_a"], r["doc_b"]): r for r in dd.d_containment_pairs(docs, threshold=0.8).collect()}
    assert (1, 2) in got
    assert got[(1, 2)]["containment_a"] == 1.0  # every shingle of the core is in the long doc
    assert got[(1, 2)]["containment_b"] < 0.5
    assert not any(3 in k for k in got)
    # and Jaccard alone would have missed it at its default threshold
    jac = {(r["doc_a"], r["doc_b"]) for r in dd.d_ngram_jaccard_pairs(docs, threshold=0.6).collect()}
    assert (1, 2) not in jac


def test_lsh_hot_bucket_cap(spark):
    """The opt-in max_bucket guard: a template corpus flooding one band
    bucket must not force |bucket|^2 candidates — capped, its intra-
    bucket pairs drop from candidate generation (recall trade explicit),
    while pairs in small buckets survive unchanged. Default (None) keeps
    the oracle-verified semantics exactly."""
    template = "one two three four five six seven eight nine ten " * 3
    rows = [(i, template, "en", "s", len(template)) for i in range(30)]  # one hot group
    rows += [
        (100, "totally different words appear here in this document body", "en", "s", 60),
        (101, "totally different words appear here in this document body", "en", "s", 60),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])

    uncapped = dd.d_minhash_lsh_pairs(docs, threshold=0.5).collect()
    capped = dd.d_minhash_lsh_pairs(docs, threshold=0.5, max_bucket=10).collect()
    assert len(uncapped) == 30 * 29 // 2 + 1  # full template clique + the small pair
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert (100, 101) in capped_pairs  # small bucket unaffected
    assert not any(a < 100 and b < 100 for a, b in capped_pairs)  # hot clique dropped


def test_span_dedup_excises_repeated_boilerplate(spark):
    """linedd1: a boilerplate 8-token span planted at the head of three
    docs survives only in the earliest (doc_id, span_idx) occurrence;
    unique spans are untouched; a doc that is ALL boilerplate collapses
    to an empty cleaned_text."""
    from csv_crm_upload_spark.analytics.dedup import linedd1_span_dedup

    bp = "one two three four five six seven eight"  # exactly one 8-token span
    rows = [
        (1, bp + " alpha beta gamma delta epsilon zeta eta theta", "en", "s", 0),
        (2, bp + " unique words in the second document only here", "en", "s", 0),
        (3, bp, "en", "s", 0),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r["doc_id"]: r for r in linedd1_span_dedup(docs).collect()}

    assert out[1]["n_spans"] == 2 and out[1]["n_kept_spans"] == 2
    assert out[1]["cleaned_text"] == rows[0][1]
    # doc 2: boilerplate span removed, its own tail kept
    assert out[2]["n_spans"] == 2 and out[2]["n_kept_spans"] == 1
    assert out[2]["cleaned_text"] == "unique words in the second document only here"
    assert out[2]["n_tokens_kept"] == 8
    # doc 3: nothing left
    assert out[3]["n_kept_spans"] == 0 and out[3]["cleaned_text"] == ""


def test_temperature_mixture_upweights_small_sources(spark):
    """mix3: with alpha<1 a small source's kept FRACTION must exceed a
    big source's (the whole point of temperature rebalancing), targets
    are met exactly by the rank gate, and the kept set is deterministic
    across runs."""
    from csv_crm_upload_spark.analytics.textstats import mix3_temperature_mixture

    rows = [(i, f"tok{i} text body", "en", "big", 0) for i in range(900)] + [
        (1000 + i, f"tok{i} small body", "en", "small", 0) for i in range(100)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = mix3_temperature_mixture(docs).collect()
    kept = {"big": 0, "small": 0}
    targets = {}
    for r in out:
        kept[r["source"]] += 1
        targets[r["source"]] = r["target_docs"]
    assert kept == {s: targets[s] for s in kept}  # rank gate hits targets exactly
    assert kept["small"] / 100 > kept["big"] / 900  # upweighted
    assert sum(kept.values()) <= 500 + len(kept)  # budget ± per-source rounding
    again = mix3_temperature_mixture(docs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_unimax_allocation_caps_small_sources_exactly(spark):
    """mix4 on a PLANTED skewed corpus (the oracle fixture's near-equal
    sources never reach the cap, so the capped prefix is pinned here):
    3 one-token docs in 'tiny', 1000 in 'big'/'huge'. totals = 2003,
    B = 1001, caps = (12, 4000, 4000). Water-filling: tiny caps at 12
    (12·3 = 36 ≤ 1001); remaining 989 splits 495/494 over big/huge with
    the +1 remainder going to the earlier rank (big — cap tie broken by
    source name). Σ alloc must equal B exactly."""
    from csv_crm_upload_spark.analytics.textstats import mix4_unimax_allocation

    rows = (
        [(i, "t", "en", "tiny", 0) for i in range(3)]
        + [(100 + i, "t", "en", "big", 0) for i in range(1000)]
        + [(2000 + i, "t", "en", "huge", 0) for i in range(1000)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r["source"]: r for r in mix4_unimax_allocation(docs).collect()}
    assert out["tiny"]["cap_tokens"] == 12
    assert out["tiny"]["alloc_tokens"] == 12  # fully capped
    assert out["tiny"]["epochs"] == 4.0
    assert {out["big"]["alloc_tokens"], out["huge"]["alloc_tokens"]} == {495, 494}
    assert out["big"]["alloc_tokens"] == 495  # remainder to the earlier rank
    assert sum(r["alloc_tokens"] for r in out.values()) == 1001  # == B exactly
    assert all(r["alloc_tokens"] <= r["cap_tokens"] for r in out.values())


def test_unimax_all_capped_edge(spark):
    """mix4 when the budget exceeds every cap (epoch_cap=1, denominator
    1 → B = total = Σ n_s, caps = n_s, Σ caps = B): every source is
    capped at exactly its own tokens and the uncapped branch (whose
    share divides by k − t = 0) must never evaluate."""
    from csv_crm_upload_spark.analytics.textstats import mix4_unimax_allocation

    rows = [(i, "a b c", "en", f"s{i % 4}", 0) for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = mix4_unimax_allocation(docs, epoch_cap=1, budget_frac_denom=1).collect()
    assert len(out) == 4
    for r in out:
        assert r["alloc_tokens"] == r["cap_tokens"] == r["n_tokens"]
        assert r["epochs"] == 1.0


def test_winnowing_guarantee_shared_run_yields_shared_fingerprint(spark):
    """The winnowing theorem (Schleimer et al. 2003): two documents that
    share a token run of at least w + k - 1 tokens MUST share at least
    one selected fingerprint (every length-w gram window inside the run
    is identical in both docs, and selection picks a minimum from one
    such window). Planted: distinct prefixes/suffixes around one shared
    9-token run (k=4, w=5 -> threshold 8)."""
    from csv_crm_upload_spark.analytics.textstats import winnow_prints

    shared = "alpha beta gamma delta epsilon zeta eta theta iota"  # 9 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} red blue", "en", "a", 0),
            (2, f"nine eight seven six {shared} green", "en", "b", 0),
            (3, "totally unrelated words with no overlap at all here", "en", "c", 0),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    prints = winnow_prints(docs, k=4, w=5)
    by_doc = {
        r["doc_id"]: set()
        for r in docs.select("doc_id").collect()
    }
    for r in prints.collect():
        by_doc[r["doc_id"]].add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared run produced no shared fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_span_corruption_stats_are_deterministic_and_bounded(spark):
    """msk1: the mask plan is a pure function of (doc_id, block) — two
    runs agree exactly — and per-doc invariants hold (n_masked <=
    n_tokens, n_spans <= ceil(n_tokens/3), mask decisions change when
    the doc_id changes)."""
    import math

    from csv_crm_upload_spark.analytics.textstats import msk1_span_corruption_stats

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(5 + i)), "en", "s", 0) for i in range(40)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    a = {r["doc_id"]: tuple(r) for r in msk1_span_corruption_stats(docs).collect()}
    b = {r["doc_id"]: tuple(r) for r in msk1_span_corruption_stats(docs).collect()}
    assert a == b
    for doc_id, (_, n_tokens, n_masked, n_spans, rate) in a.items():
        assert 0 <= n_masked <= n_tokens
        assert 0 <= n_spans <= math.ceil(n_tokens / 3)
    # the gate actually fires somewhere across 40 docs (p ~ 1-0.85^blocks)
    assert any(row[2] > 0 for row in a.values())


def test_exact_substring_dedup_planted_spans(spark):
    """xsd1: a 12-token passage planted in two docs at DIFFERENT offsets
    (the any-offset case linedd1's fixed windows miss), an internal
    within-doc repeat, and a clean doc. Coverage must be the true merged
    maximal spans at min_len=10."""
    from csv_crm_upload_spark.analytics.dedup import xsd1_exact_substring_dedup

    passage = " ".join(f"p{i}" for i in range(12))  # 12 shared tokens
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        # doc 0: passage at offset 5
        (0, uniq("a", 5) + " " + passage + " " + uniq("b", 8)),
        # doc 1: same passage at offset 0
        (1, passage + " " + uniq("c", 20)),
        # doc 2: internal repeat — one 10-token run appearing twice
        (2, uniq("r", 10).replace("r", "z") + " " + uniq("m", 3) + " " + uniq("r", 10).replace("r", "z")),
        # doc 3: clean, long enough to emit grams but no repeats
        (3, uniq("q", 30)),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in xsd1_exact_substring_dedup(docs, min_len=10).collect()}
    assert set(out) == {0, 1, 2}, "clean doc must not appear"
    # docs 0/1: exactly the 12 planted tokens covered, one span each
    assert out[0]["n_dup_spans"] == 1 and out[0]["n_dup_tokens"] == 12
    assert out[1]["n_dup_spans"] == 1 and out[1]["n_dup_tokens"] == 12
    assert out[0]["n_tokens"] == 25 and out[1]["n_tokens"] == 32
    # doc 2: both copies of the internal 10-token run covered (two spans
    # separated by the m-gap), 20 covered positions
    assert out[2]["n_dup_spans"] == 2 and out[2]["n_dup_tokens"] == 20
    assert abs(out[2]["dup_fraction"] - round(20 / 23, 6)) < 1e-9


def test_doremi_weights_lift_hard_domains(spark):
    """drm1: a domain whose text is rare under the corpus LM (high
    excess loss) must end ABOVE its raw token share; an easy domain of
    pure boilerplate ends below; weights are a distribution (sum ~ 1,
    every weight >= the smoothing floor c/k * (1-c)... i.e. > 0)."""
    from csv_crm_upload_spark.analytics.textstats import drm1_doremi_weights

    common = " ".join(["the data table row scan"] * 10)
    rows = (
        # easy: three near-identical boilerplate docs
        [(i, common, "en", "easy", 0) for i in range(3)]
        # hard: rare vocabulary, same volume
        + [
            (10 + i, " ".join(f"w{i}_{j}" for j in range(50)), "en", "hard", 0)
            for i in range(3)
        ]
    )
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    )
    out = {r["source"]: r for r in drm1_doremi_weights(docs).collect()}
    assert set(out) == {"easy", "hard"}
    total = sum(r["weight"] for r in out.values())
    assert abs(total - 1.0) < 1e-4
    assert all(r["weight"] > 0 for r in out.values())
    assert out["hard"]["excess_bits"] > 0 > out["easy"]["excess_bits"]
    assert out["hard"]["weight"] > out["hard"]["token_share"]
    assert out["easy"]["weight"] < out["easy"]["token_share"]


def test_cartography_and_rho_selection_fixture_properties(spark, sf_dir):
    """cart1: coordinates bounded, above_chance consistent with the mean,
    and BOTH map regions populated on the fixture (the label signal is
    real). rho1: the keep band drops BOTH tails (far-negative memorized
    boilerplate AND far-positive noise) while keeping a majority middle."""
    from csv_crm_upload_spark.analytics.logreg import cart1_dataset_cartography
    from csv_crm_upload_spark.analytics.textstats import rho1_excess_loss_selection
    from csv_crm_upload_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cart = cart1_dataset_cartography(docs).collect()
    assert cart, "empty cartography"
    for r in cart:
        assert 0.0 <= r["mean_conf"] <= 1.0
        assert r["variability"] >= 0.0
        assert r["above_chance"] == (r["mean_conf"] >= 0.5 or
                                     abs(r["mean_conf"] - 0.5) < 1e-6)
    n_above = sum(r["above_chance"] for r in cart)
    assert 0 < n_above < len(cart), "cartography degenerate: one region only"

    rho = rho1_excess_loss_selection(docs).collect()
    kept = [r for r in rho if r["keep"]]
    neg_drop = [r for r in rho if not r["keep"] and r["excess_bits"] < 0]
    pos_drop = [r for r in rho if not r["keep"] and r["excess_bits"] > 0]
    assert kept and neg_drop and pos_drop, (
        f"band must bite both tails: kept={len(kept)} "
        f"neg={len(neg_drop)} pos={len(pos_drop)}"
    )
    for r in rho:
        assert abs((r["bigram_bpt"] - r["unigram_bpt"]) - r["excess_bits"]) < 2e-6


def test_lexical_diversity_counts_hapax_exactly(spark):
    """lex1 on crafted docs: 'a a b c' has 4 tokens, 3 types, 2 hapax
    (b, c); an all-same-token doc has 0 hapax; a single-token doc is
    its own hapax (both boundary paddings fire)."""
    from csv_crm_upload_spark.analytics.textstats import lex1_lexical_diversity

    docs = spark.createDataFrame(
        [
            (1, "a a b c", "en", "s", 0),
            (2, "x x x x x", "en", "s", 0),
            (3, "solo", "en", "s", 0),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["doc_id"]: r for r in lex1_lexical_diversity(docs).collect()}
    assert (rows[1]["n_tokens"], rows[1]["n_types"], rows[1]["n_hapax"]) == (4, 3, 2)
    assert rows[1]["ttr"] == 0.75 and rows[1]["hapax_frac"] == 0.5
    assert (rows[2]["n_types"], rows[2]["n_hapax"]) == (1, 0)
    assert (rows[3]["n_tokens"], rows[3]["n_hapax"]) == (1, 1)


def test_heaps_vocab_growth_is_monotone_and_exact_at_the_end(spark):
    """heaps1: cum_types is non-decreasing, the last checkpoint equals
    the corpus-wide distinct-type count, cum_tokens equals the total
    token count, and a type repeated in later docs is counted ONCE (at
    its first doc)."""
    from csv_crm_upload_spark.analytics.textstats import heaps1_vocab_growth

    docs = spark.createDataFrame(
        [
            (1, "alpha beta", "en", "s", 0),
            (2, "alpha gamma", "en", "s", 0),
            (3, "alpha beta gamma delta", "en", "s", 0),
            (4, "epsilon", "en", "s", 0),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = heaps1_vocab_growth(docs, buckets=4).collect()
    types = [r["cum_types"] for r in rows]
    assert types == sorted(types)
    assert types[-1] == 5  # alpha beta gamma delta epsilon
    assert rows[-1]["cum_tokens"] == 9
    # doc 2 contributes exactly ONE new type (gamma)
    assert types[1] - types[0] == 1


def test_vocab_coverage_curve_top1_and_total(spark):
    """cov1 with checkpoints (1, 10): the V=1 band covers exactly the
    modal type's share; the terminal band reaches coverage 1.0 when V
    >= |vocab|; covered_tokens is cumulative across bands."""
    from csv_crm_upload_spark.analytics.textstats import cov1_vocab_coverage

    docs = spark.createDataFrame(
        [(1, "the the the cat sat", "en", "s", 0), (2, "the dog", "en", "s", 0)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["v"]: r for r in cov1_vocab_coverage(docs, checkpoints=(1, 10)).collect()}
    assert rows[1]["n_types"] == 1 and rows[1]["covered_tokens"] == 4
    assert rows[1]["coverage"] == round(4 / 7, 6)
    assert rows[10]["n_types"] == 4 and rows[10]["coverage"] == 1.0


def test_tfidf_ubiquitous_terms_score_zero_and_rank_below_rare(spark):
    """tfidf1: a term in EVERY doc has idf = log2(N/N) = 0 so its score
    is 0 regardless of tf; each doc's rank-1 term is one of its
    distinctive words, never the ubiquitous one."""
    from csv_crm_upload_spark.analytics.textstats import tfidf1_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common rare1 rare1 common", "en", "s", 0),
            (2, "common rare2 common common", "en", "s", 0),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = tfidf1_top_terms(docs, k=2).collect()
    top = {r["doc_id"]: r["term"] for r in out if r["rnk"] == 1}
    assert top == {1: "rare1", 2: "rare2"}
    assert all(r["score"] == 0.0 for r in out if r["term"] == "common")


def test_js_divergence_identical_zero_disjoint_one(spark):
    """js1: two sources with IDENTICAL unigram distributions diverge by
    0 bits; two sources with DISJOINT vocabularies diverge by exactly
    1 bit (the JS upper bound); output is one row per unordered pair."""
    from csv_crm_upload_spark.analytics.textstats import js1_source_divergence

    docs = spark.createDataFrame(
        [
            (1, "a a b", "en", "s1", 0),
            (2, "a b a", "en", "s2", 0),  # same distribution as s1
            (3, "x y z", "en", "s3", 0),  # disjoint from both
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {(r["source_a"], r["source_b"]): r for r in js1_source_divergence(docs).collect()}
    assert set(rows) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    assert rows[("s1", "s2")]["js_bits"] == 0.0
    assert rows[("s1", "s3")]["js_bits"] == 1.0
    assert rows[("s2", "s3")]["js_bits"] == 1.0


def test_ccnet_buckets_are_per_language(spark):
    """ccnet1: within each language the head bucket's max bits-per-token
    never exceeds the tail bucket's min (quantiles are loss-ordered),
    and BOTH languages get their own head — the defining CCNet property
    cur1's global curriculum lacks."""
    from csv_crm_upload_spark.analytics.textstats import ccnet1_perplexity_buckets

    docs = spark.createDataFrame(
        [
            # 'en': three docs of increasingly rare vocabulary
            (1, "the the the the", "en", "s", 0),
            (2, "the the cat cat", "en", "s", 0),
            (3, "one weird trick", "en", "s", 0),
            # 'fr': three docs, same construction
            (4, "le le le le", "fr", "s", 0),
            (5, "le le chat chat", "fr", "s", 0),
            (6, "un truc bizarre", "fr", "s", 0),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = ccnet1_perplexity_buckets(docs, q=3).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, buckets in by_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}, f"{lang}: {set(buckets)}"
        assert buckets["head"]["max_bpt"] <= buckets["middle"]["min_bpt"]
        assert buckets["middle"]["max_bpt"] <= buckets["tail"]["min_bpt"]


def test_binary_hamming_knn_matches_numpy_exact(spark):
    """bq1's packed-word Hamming distances equal the straightforward
    numpy sign-mismatch count for every returned pair, on a corpus
    whose dimension (70) straddles a 32-bit word boundary; self-matches
    excluded; ranks are 1..k ordered by (distance, vec_id)."""
    import numpy as np

    from csv_crm_upload_spark.analytics.similarity import bq1_binary_hamming_knn

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((30, 70)).astype("float32")
    rows = [(int(i), [float(x) for x in vecs[i]], 0) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = bq1_binary_hamming_knn(emb, query_ids=[0, 5], k=4).collect()
    signs = vecs > 0
    for r in out:
        expected = int((signs[r["query_id"]] != signs[r["vec_id"]]).sum())
        assert r["hamming"] == expected, (r, expected)
        assert r["vec_id"] != r["query_id"]
    for q in (0, 5):
        ranks = sorted(r["rank"] for r in out if r["query_id"] == q)
        assert ranks == [1, 2, 3, 4]


def test_lsh_recall_audit_bounds_and_planted_duplicate(spark):
    """lshrec1: recall in [0,1] with n_hit <= n_exact <= k for every
    query; a planted EXACT duplicate of a query vector is that query's
    true rank-1 neighbor AND always lands in the same LSH buckets
    (identical hyperplane signs), so that query's n_hit >= 1."""
    import struct
    import random

    from csv_crm_upload_spark.analytics.similarity import lshrec1_recall_audit

    rng = random.Random(11)

    def vec():
        return [
            struct.unpack("f", struct.pack("f", rng.random() * 2 - 1))[0]
            for _ in range(8)
        ]

    vs = [vec() for _ in range(25)]
    vs[20] = list(vs[0])  # exact duplicate of query 0
    emb = spark.createDataFrame(
        [(i, vs[i], i % 3) for i in range(25)], ["vec_id", "embedding", "label"]
    )
    rows = {r["query_id"]: r for r in lshrec1_recall_audit(emb, query_ids=[0, 1, 2]).collect()}
    assert set(rows) == {0, 1, 2}
    for r in rows.values():
        assert 0 <= r["n_hit"] <= r["n_exact"] <= 5
        assert abs(r["recall_at_k"] - round(r["n_hit"] / r["n_exact"], 6)) < 1e-9
    assert rows[0]["n_hit"] >= 1  # the duplicate is rank-1 and same-bucket


def test_ks_drift_identical_zero_disjoint_one(spark):
    """ks1: identical value distributions across the two types give
    D ~ 1/n at most (equal CDFs on the shared grid → 0 exactly here);
    fully separated distributions give D = 1; a missing side gives an
    EMPTY frame, not an abort."""
    import datetime

    from csv_crm_upload_spark.analytics.tpch import ks1_value_drift

    ts = datetime.datetime(2024, 1, 1)
    same = [(i, ts, 0, "view" if i % 2 == 0 else "purchase", float((i // 2) % 10), None)
            for i in range(40)]
    cols = ("event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string")
    r = ks1_value_drift(spark.createDataFrame(same, cols)).collect()
    assert len(r) == 1 and r[0]["ks_d"] == 0.0 and r[0]["n_a"] == 20

    apart = [(i, ts, 0, "view", float(i), None) for i in range(10)] + [
        (100 + i, ts, 0, "purchase", 1000.0 + i, None) for i in range(10)
    ]
    r2 = ks1_value_drift(spark.createDataFrame(apart, cols)).collect()
    assert len(r2) == 1 and r2[0]["ks_d"] == 1.0

    one_side = [(i, ts, 0, "view", float(i), None) for i in range(5)]
    assert ks1_value_drift(spark.createDataFrame(one_side, cols)).count() == 0


def test_balanced_shards_snake_bounds_imbalance(spark, sf_dir):
    """shard1: token totals across shards sum to the corpus total, every
    shard gets docs, and snake packing bounds the imbalance by (a small
    multiple of) the largest document — the property that makes the
    layout safe at any corpus size."""
    from pyspark.sql import functions as F

    from csv_crm_upload_spark.analytics.textstats import (
        _norm_tokens,
        shard1_balanced_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = shard1_balanced_shards(docs, n_shards=8).collect()
    sized = docs.filter(F.col("text").isNotNull()).select(
        F.size(_norm_tokens()).alias("n")
    )
    total = sized.agg(F.sum("n")).first()[0]
    biggest = sized.agg(F.max("n")).first()[0]
    assert sum(r["total_tokens"] for r in rows) == total
    assert len(rows) == 8
    loads = [r["total_tokens"] for r in rows]
    assert max(loads) - min(loads) <= 2 * biggest


def test_readability_crafted_doc_and_formula_identity(spark):
    """rd1 on a crafted doc: exact word/sentence/vowel-group counts, and
    the flesch column equals the same IEEE expression computed in
    Python (both engines and the test share one double tree)."""
    from csv_crm_upload_spark.analytics.textstats import rd1_readability

    docs = spark.createDataFrame(
        [(1, "The cat sat. The dog ran! Did it?", "en", "s", 0),
         (2, "unpunctuated stream of words", "en", "s", 0)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["doc_id"]: r for r in rd1_readability(docs).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 8 and r1["n_sentences"] == 3
    expected = 206.835 - 1.015 * (r1["n_words"] / r1["n_sentences"]) - 84.6 * (
        r1["n_vowel_groups"] / r1["n_words"]
    )
    assert r1["flesch"] == expected
    assert rows[2]["n_sentences"] == 1


def test_exact_percentiles_match_numpy_nearest_rank(spark):
    """pctl2 equals numpy's nearest-rank percentile (sort, pick element
    ceil(q*n) 1-indexed) on a crafted distribution with duplicates."""
    import datetime
    import math

    from csv_crm_upload_spark.analytics.tpch import pctl2_exact_value_percentiles

    ts = datetime.datetime(2024, 3, 1)
    vals = [float(x) for x in [5, 1, 9, 1, 7, 3, 3, 3, 8, 2, 6, 4, 10, 2, 7]]
    rows = [(i, ts, 0, "view", v, None) for i, v in enumerate(vals)]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = pctl2_exact_value_percentiles(spark.createDataFrame(rows, schema)).first()
    s = sorted(vals)
    n = len(s)
    for q, col in ((25, "p25"), (50, "p50"), (90, "p90"), (99, "p99")):
        want = s[(q * n + 99) // 100 - 1]
        assert out[col] == want, (q, out[col], want)
    assert out["n_values"] == n

    empty = [(0, ts, 0, "view", None, None)]
    assert pctl2_exact_value_percentiles(spark.createDataFrame(empty, schema)).count() == 0


def test_mutual_information_independence_zero_dependence_log2(spark):
    """mi1: an independent (lang, source) joint has every PMI
    contribution 0; a perfectly dependent one (each lang locked to one
    source, uniform) sums to log2(k) bits exactly."""
    import math

    from csv_crm_upload_spark.analytics.textstats import mi1_lang_source_mi

    # independent: every (lang, source) cell has the same count
    indep = [
        (i, "t", lang, src, 0)
        for i, (lang, src) in enumerate(
            (l, s) for l in ("en", "fr") for s in ("web", "wiki") for _ in range(5)
        )
    ]
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    out = mi1_lang_source_mi(spark.createDataFrame(indep, cols)).collect()
    assert all(r["mi_contrib_bits"] == 0.0 for r in out)

    # dependent: lang i appears ONLY in source i, 4 langs uniform
    dep = [
        (i, "t", f"l{i % 4}", f"s{i % 4}", 0) for i in range(40)
    ]
    out2 = mi1_lang_source_mi(spark.createDataFrame(dep, cols)).collect()
    total = sum(r["mi_contrib_bits"] for r in out2)
    assert abs(total - math.log2(4)) < 1e-6


def test_binary_recall_audit_bounds(spark):
    """bqrec1: recall in [0,1], n_hit <= n_exact <= k, one row per valid
    query; a planted exact duplicate of a query is rank-1 in BOTH the
    exact and Hamming orders (identical signs -> distance 0), so that
    query's n_hit >= 1."""
    import random
    import struct

    from csv_crm_upload_spark.analytics.similarity import bqrec1_binary_recall_audit

    rng = random.Random(3)

    def vec():
        return [
            struct.unpack("f", struct.pack("f", rng.random() * 2 - 1))[0]
            for _ in range(8)
        ]

    vs = [vec() for _ in range(25)]
    vs[20] = list(vs[1])
    emb = spark.createDataFrame(
        [(i, vs[i], i % 3) for i in range(25)], ["vec_id", "embedding", "label"]
    )
    rows = {r["query_id"]: r for r in bqrec1_binary_recall_audit(emb, query_ids=[0, 1]).collect()}
    assert set(rows) == {0, 1}
    for r in rows.values():
        assert 0 <= r["n_hit"] <= r["n_exact"] <= 5
    assert rows[1]["n_hit"] >= 1


def test_psi1_identical_and_shifted_populations(spark):
    """PSI semantics pinned on constructed data: an identical pair
    reports psi_term 0.0 in every bin (same proportions); a shifted
    pair concentrates reference mass below and current mass above, and
    every bin's term is >= 0 (the symmetric-KL sign guarantee). Exact
    decile edges put exactly n/10 reference values per bin for a
    100-distinct-value reference."""
    from csv_crm_upload_spark.analytics.tpch import psi1_population_stability

    def ev(rows):
        return spark.createDataFrame(
            rows, "event_id long, event_type string, value double"
        )

    # identical populations: values 1..100 on both sides
    same = ev(
        [(i, "view", float(i % 100 + 1)) for i in range(300)]
        + [(1000 + i, "purchase", float(i % 100 + 1)) for i in range(300)]
    )
    out = psi1_population_stability(same).collect()
    assert [r["bin"] for r in out] == list(range(10))
    assert all(r["psi_term"] == 0.0 for r in out), out
    assert all(r["n_a"] == 30 and r["n_b"] == 30 for r in out)

    # shifted current population: reference 1..100, current 51..150
    shifted = ev(
        [(i, "view", float(i % 100 + 1)) for i in range(300)]
        + [(1000 + i, "purchase", float(i % 100 + 51)) for i in range(300)]
    )
    out2 = {r["bin"]: r for r in psi1_population_stability(shifted).collect()}
    assert all(r["psi_term"] >= 0.0 for r in out2.values())
    assert sum(r["psi_term"] for r in out2.values()) > 0.25  # "act" threshold
    assert out2[0]["n_b"] == 0  # nothing current below the first decile
    assert out2[9]["n_b"] > out2[9]["n_a"]  # mass pushed into the top bin

    # one side empty -> EMPTY frame (PSI undefined), never a div-by-zero
    only_a = ev([(i, "view", float(i)) for i in range(10)])
    assert psi1_population_stability(only_a).count() == 0
    assert psi1_population_stability(ev([])).count() == 0


def test_chi21_independence_and_zero_cells(spark):
    """Chi-square cell semantics pinned on constructed data: a perfectly
    independent table reports every term 0.0; a (lang, source) pair that
    never occurs still gets a cell whose term equals its full expected
    count (the zero-cell contribution MI drops but chi2 requires)."""
    from csv_crm_upload_spark.analytics.textstats import chi21_lang_source_chi2

    def docs(rows):
        return spark.createDataFrame(
            [(i, "t", lg, src, 1) for i, (lg, src) in enumerate(rows)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    # independent: every (lang, source) cell has exactly 5 docs
    indep = docs([(lg, src) for lg in ("en", "fr") for src in ("a", "b") for _ in range(5)])
    out = chi21_lang_source_chi2(indep).collect()
    assert len(out) == 4
    assert all(r["chi2_term"] == 0.0 and r["n_exp"] == 5.0 for r in out)

    # ('fr', 'b') never occurs: expected = 10*10/30, term = e itself
    dep = docs(
        [("en", "a")] * 10 + [("en", "b")] * 10 + [("fr", "a")] * 10
    )
    cells = {(r["lang"], r["source"]): r for r in chi21_lang_source_chi2(dep).collect()}
    assert set(cells) == {("en", "a"), ("en", "b"), ("fr", "a"), ("fr", "b")}
    zc = cells[("fr", "b")]
    assert zc["n_obs"] == 0
    assert abs(zc["n_exp"] - 10 * 10 / 30) < 1e-9
    assert abs(zc["chi2_term"] - zc["n_exp"]) < 1e-9
    assert chi21_lang_source_chi2(docs([])).count() == 0


def test_iqr1_fence_semantics(spark):
    """Tukey-fence audit pinned on constructed data: a tight cluster
    with two extreme points flags exactly those two; a constant-length
    source (IQR 0) flags anything off the constant; NULLs excluded."""
    from csv_crm_upload_spark.analytics.textstats import (
        iqr1_source_length_outliers,
    )

    rows = (
        # source "a": lengths 100..119 (tight) + 1 and 10000 (outliers)
        [(i, "t", "en", "a", 100 + i % 20) for i in range(40)]
        + [(100, "t", "en", "a", 1), (101, "t", "en", "a", 10000)]
        # source "b": all the same length -> IQR 0, fence collapses to
        # the constant; one off-constant doc is an outlier
        + [(200 + i, "t", "en", "b", 500) for i in range(10)]
        + [(299, "t", "en", "b", 501)]
        + [(300, "t", "en", None, 5), (301, "t", "en", "a", None)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["source"]: r for r in iqr1_source_length_outliers(df).collect()}
    assert set(out) == {"a", "b"}
    a = out["a"]
    assert a["n_docs"] == 42 and a["n_outliers"] == 2
    assert 100 <= a["q1"] <= a["q3"] <= 119
    b = out["b"]
    assert b["q1"] == 500 and b["q3"] == 500 and b["n_outliers"] == 1
    assert abs(b["outlier_rate"] - 1 / 11) < 1e-6


def test_conc1_gini_and_hhi_semantics(spark):
    """Concentration readout pinned on constructed data: equal sources
    -> gini 0, hhi 1/S; total monopoly of S sources approaches
    (S-1)/S; the discrete two-source 90/10 split has closed forms."""
    from csv_crm_upload_spark.analytics.textstats import (
        conc1_source_concentration,
    )

    def docs(counts):
        rows, i = [], 0
        for src, c in counts.items():
            for _ in range(c):
                rows.append((i, "t", "en", src, 1)); i += 1
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )

    even = conc1_source_concentration(docs({"a": 10, "b": 10, "c": 10, "d": 10})).first()
    assert even["n_sources"] == 4 and even["n_docs"] == 40
    assert even["gini"] == 0.0 and abs(even["hhi"] - 0.25) < 1e-9

    # 90/10 two-source split: G = (2*1*10 + 2*2*90 - 3*100)/(2*100) = 0.4
    skew = conc1_source_concentration(docs({"big": 90, "small": 10})).first()
    assert abs(skew["gini"] - 0.4) < 1e-9
    assert abs(skew["hhi"] - (0.81 + 0.01)) < 1e-9

    # no live sources -> EMPTY, never a 0/0 NaN row
    none = spark.createDataFrame(
        [(0, "t", "en", None, 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert conc1_source_concentration(none).count() == 0


def test_acf1_planted_weekly_cycle(spark):
    """ACF semantics pinned on constructed data: a strict 7-day cycle
    (high weekends) peaks at lag 7 and dips negative at the half-cycle;
    a constant series (zero variance) reports NO rows; missing days are
    zero-filled observations, not absent rows."""
    import datetime as dt

    from csv_crm_upload_spark.analytics.tpch import acf1_daily_autocorrelation

    def ev(day_counts):
        rows, eid = [], 0
        for off, c in day_counts.items():
            t = dt.datetime(2026, 1, 1) + dt.timedelta(days=off)
            for _ in range(c):
                rows.append((eid, t)); eid += 1
        return spark.createDataFrame(rows, "event_id long, ts timestamp")

    # 8 full weeks, counts cycle 1,1,1,1,1,20,20
    cyc = ev({d: (20 if d % 7 >= 5 else 1) for d in range(56)})
    out = {r["lag"]: r for r in acf1_daily_autocorrelation(cyc).collect()}
    assert set(out) == set(range(1, 8))
    assert out[7]["acf"] > 0.8                    # weekly peak
    assert out[7]["acf"] > out[3]["acf"]          # half-cycle dip below peak
    assert out[1]["n_pairs"] == 55                # 56 days -> 55 lag-1 pairs

    # a skipped day is a ZERO observation: spine still spans it
    gappy = ev({0: 5, 2: 5})
    g = {r["lag"]: r for r in acf1_daily_autocorrelation(gappy).collect()}
    assert g[1]["n_pairs"] == 2  # 3 spine days (one zero-filled)

    # constant series -> zero variance -> empty frame
    flat = ev({d: 3 for d in range(10)})
    assert acf1_daily_autocorrelation(flat).count() == 0
    assert acf1_daily_autocorrelation(ev({})).count() == 0


def _daily_events(spark, day_counts):
    """events frame with `count` rows on day-offset `off` from 2026-01-01."""
    import datetime as dt

    rows, eid = [], 0
    for off, c in day_counts.items():
        t = dt.datetime(2026, 1, 1) + dt.timedelta(days=off)
        for _ in range(c):
            rows.append((eid, t)); eid += 1
    return spark.createDataFrame(rows, "event_id long, ts timestamp")


def test_dow1_weekly_profile_semantics(spark):
    """Seasonality index pinned on a planted weekly cycle: weekend days
    index above 1, weekdays below; a skipped day is a ZERO observation
    of its weekday (the spine fills it); empty input -> empty frame.
    2026-01-01 is a Thursday (isodow 4)."""
    from csv_crm_upload_spark.analytics.tpch import dow1_weekly_profile

    # 2 full weeks; offsets 2,3 / 9,10 are Sat/Sun (isodow 6,7)
    cyc = _daily_events(
        spark, {d: (30 if d % 7 in (2, 3) else 10) for d in range(14)}
    )
    out = {r["isodow"]: r for r in dow1_weekly_profile(cyc).collect()}
    assert set(out) == set(range(1, 8))
    assert out[6]["dow_index"] > 1.5 and out[7]["dow_index"] > 1.5
    assert out[1]["dow_index"] < 1.0
    assert out[6]["n_dow_days"] == 2 and out[6]["n_events"] == 60
    assert out[6]["mean_daily"] == 30.0

    # offset 1 (Friday) missing entirely -> still a spine day at count 0
    gap = dow1_weekly_profile(_daily_events(spark, {0: 4, 2: 4}))
    rows = {r["isodow"]: r for r in gap.collect()}
    assert rows[5]["n_dow_days"] == 1 and rows[5]["n_events"] == 0
    assert rows[5]["mean_daily"] == 0.0

    assert dow1_weekly_profile(_daily_events(spark, {})).count() == 0


def test_tsen1_daily_trend_semantics(spark):
    """Theil-Sen slope pinned on constructed series: an exact linear
    ramp reports its slope with Mann-Kendall S = n_pairs; ONE wild
    outlier day does not move the median slope (the robustness the
    estimator exists for); a flat series reports slope 0 / S 0; a
    single-day span has no pairs -> empty."""
    from csv_crm_upload_spark.analytics.tpch import tsen1_daily_trend

    ramp = tsen1_daily_trend(
        _daily_events(spark, {d: 10 + 2 * d for d in range(12)})
    ).first()
    assert ramp["sen_slope"] == 2.0
    assert ramp["n_pairs"] == 66 and ramp["mk_s"] == 66

    spiked = {d: 10 + 2 * d for d in range(12)}; spiked[5] = 500
    rob = tsen1_daily_trend(_daily_events(spark, spiked)).first()
    assert abs(rob["sen_slope"] - 2.0) < 0.5  # median ignores the spike

    flat = tsen1_daily_trend(_daily_events(spark, {d: 7 for d in range(6)})).first()
    assert flat["sen_slope"] == 0.0 and flat["mk_s"] == 0

    assert tsen1_daily_trend(_daily_events(spark, {0: 5})).count() == 0
    assert tsen1_daily_trend(_daily_events(spark, {})).count() == 0


def test_cpd1_mean_shift_semantics(spark):
    """CUSUM change point pinned on a planted step: the best split is
    the LAST day of the low regime, and the before/after means read the
    two levels exactly. A flat series scores 0 with the earliest-day
    tie-break; spans under 2 days are empty."""
    import datetime as dt

    from csv_crm_upload_spark.analytics.tpch import cpd1_mean_shift

    step = cpd1_mean_shift(
        _daily_events(spark, {d: (5 if d < 10 else 50) for d in range(20)})
    ).first()
    assert step["best_day"] == dt.date(2026, 1, 10)  # offset 9: low regime's last day
    assert step["mean_before"] == 5.0 and step["mean_after"] == 50.0
    assert step["shift"] == 45.0 and step["n_days"] == 20
    # max |S| at the boundary: 10 days * (27.5 - 5) = 225
    assert step["cusum_stat"] == 225.0

    flat = cpd1_mean_shift(_daily_events(spark, {d: 3 for d in range(5)})).first()
    assert flat["cusum_stat"] == 0.0 and flat["best_day"] == dt.date(2026, 1, 1)
    assert flat["shift"] == 0.0

    assert cpd1_mean_shift(_daily_events(spark, {0: 9})).count() == 0
    assert cpd1_mean_shift(_daily_events(spark, {})).count() == 0


def test_ben1_benford_audit_semantics(spark):
    """Benford audit pinned on constructed prices: the leading digit
    comes from exact integer cents (1234.56 -> digit 1), absent digits
    densify to 0-count rows, non-positive prices are excluded, and the
    expectation column is log10(1 + 1/d)."""
    from csv_crm_upload_spark.analytics.tpch import ben1_benford_audit

    orders = spark.createDataFrame(
        [(1, 1234.56), (2, 0.97), (3, 2.00), (4, 250.0), (5, -3.0), (6, 0.0)],
        "o_orderkey long, o_totalprice double",
    )
    out = {r["digit"]: r for r in ben1_benford_audit(orders).collect()}
    assert set(out) == set(range(1, 10))
    assert out[1]["n_orders"] == 1      # 123456 cents
    assert out[9]["n_orders"] == 1      # 97 cents
    assert out[2]["n_orders"] == 2      # 200 and 25000 cents
    assert out[3]["n_orders"] == 0      # densified zero row
    assert abs(out[1]["exp_share"] - 0.30103) < 1e-6
    assert abs(out[1]["obs_share"] - 0.25) < 1e-9
    assert out[1]["dev"] == round(0.25 - 0.30103, 6)

    empty = spark.createDataFrame([], "o_orderkey long, o_totalprice double")
    assert ben1_benford_audit(empty).count() == 0


def test_mhcal1_calibration_semantics(spark):
    """Calibration readout pinned on planted clones: an exact duplicate
    pair lands in the top decile with est = exact = 1.0 and zero
    error; per-bucket mae >= |bias| by construction; a corpus with no
    LSH candidates (or no text) reports an empty frame."""
    base = "the quick brown fox jumps over the lazy dog again today"
    docs = spark.createDataFrame(
        [
            (0, base, "en", "s0", len(base)),
            (1, base, "en", "s0", len(base)),          # exact clone of 0
            (2, "completely different words " * 4, "en", "s0", 100),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    clear_fit_memo()
    out = dd.mhcal1_minhash_calibration(docs).collect()
    assert out, "clone pair must surface as a candidate"
    by_bucket = {r["bucket"]: r for r in out}
    top = by_bucket[9]
    assert top["n_pairs"] >= 1
    assert top["mean_est"] == 1.0 and top["mean_exact"] == 1.0
    assert top["mae"] == 0.0 and top["bias"] == 0.0
    for r in out:
        assert r["mae"] >= abs(r["bias"]) - 1e-9

    lonely = spark.createDataFrame(
        [(0, "just one doc", "en", "s0", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    clear_fit_memo()
    assert dd.mhcal1_minhash_calibration(lonely).count() == 0


def test_stl1_strengths_on_constructed_shapes(spark):
    """Decomposition strengths pinned on the canonical shapes: a strict
    weekly cycle scores seasonal ~1 / trend 0 (deseasonalized series is
    flat); a pure linear ramp scores trend ~1 / seasonal 0 (the
    centered 7-day MA absorbs a line exactly); a flat series reports
    both 0; spans under 8 days have <2 interior days -> empty."""
    from csv_crm_upload_spark.analytics.tpch import stl1_seasonal_strength

    cyc = stl1_seasonal_strength(
        _daily_events(spark, {d: (20 if d % 7 >= 5 else 1) for d in range(35)})
    ).first()
    assert cyc["seasonal_strength"] > 0.99
    assert cyc["trend_strength"] == 0.0
    assert cyc["n_interior"] == 35 - 6

    ramp = stl1_seasonal_strength(
        _daily_events(spark, {d: 10 + 3 * d for d in range(35)})
    ).first()
    assert ramp["trend_strength"] > 0.99
    assert ramp["seasonal_strength"] == 0.0

    flat = stl1_seasonal_strength(
        _daily_events(spark, {d: 5 for d in range(20)})
    ).first()
    assert flat["seasonal_strength"] == 0.0 and flat["trend_strength"] == 0.0

    assert stl1_seasonal_strength(_daily_events(spark, {d: d for d in range(7)})).count() == 0
    assert stl1_seasonal_strength(_daily_events(spark, {})).count() == 0


def test_hurst1_long_memory_shapes(spark):
    """R/S exponent pinned on constructed series: a strongly trending
    ramp scores high H (persistent), a strict alternation scores near 0
    (anti-persistent), and a deterministic hash-noise series sits in
    the middle band; short spans (<16 days: fewer than two dyadic
    sizes) and constant series report empty."""
    from csv_crm_upload_spark.analytics.tpch import hurst1_long_memory

    ramp = hurst1_long_memory(
        _daily_events(spark, {d: 1 + d for d in range(128)})
    ).first()
    assert ramp["n_sizes"] == 5 and ramp["hurst"] > 0.8

    alt = hurst1_long_memory(
        _daily_events(spark, {d: (10 if d % 2 else 0) for d in range(128)})
    ).first()
    assert alt["hurst"] < 0.3

    import random

    rng = random.Random(12345)
    noise = hurst1_long_memory(
        _daily_events(spark, {d: rng.randrange(0, 97) for d in range(128)})
    ).first()
    assert 0.25 < noise["hurst"] < 0.85

    assert hurst1_long_memory(_daily_events(spark, {d: d for d in range(15)})).count() == 0
    assert hurst1_long_memory(_daily_events(spark, {d: 5 for d in range(64)})).count() == 0
    assert hurst1_long_memory(_daily_events(spark, {})).count() == 0
