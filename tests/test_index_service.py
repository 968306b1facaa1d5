"""Corpus index maintenance riding the service ticker: a shard dropped
into the watch directory is folded into ALL registered persisted
indexes on the next tick via their O(new docs) update paths — after
which it is BM25-searchable, ANN-searchable, and dedup-visible. Quiet
ticks are free, restarts don't re-fold (cursor), and the new epochs
contain ONLY the appended rows (the O(new docs) evidence)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import dedup as dd
from csv_crm_upload_spark.analytics import ivf as _ivf
from csv_crm_upload_spark.analytics import ivfpq as _ivfpq
from csv_crm_upload_spark.analytics import pq as _pq
from csv_crm_upload_spark.analytics import retrieval as rtr
from csv_crm_upload_spark.sources.tables import load_table
from csv_crm_upload_spark.streaming.index_service import CorpusIndexService


def _epochs(path):
    from csv_crm_upload_spark.operators.manifest import read_manifest

    return read_manifest(path)["epoch"]


def test_dropped_shard_indexed_on_next_tick(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    docs_a = docs.filter(F.col("doc_id") % 2 == 0)
    docs_b = docs.filter(F.col("doc_id") % 2 == 1)
    emb_a = emb.filter(F.col("vec_id") % 2 == 0)
    emb_b = emb.filter(F.col("vec_id") % 2 == 1)

    text_idx = str(tmp_path / "text_idx")
    dedup_idx = str(tmp_path / "dedup_idx")
    ivf_idx = str(tmp_path / "ivf_idx")
    pq_idx = str(tmp_path / "pq_idx")
    ivfpq_idx = str(tmp_path / "ivfpq_idx")
    rtr.save_text_index(docs_a, text_idx, n_buckets=16)
    dd.save_dedup_index(docs_a, dedup_idx)
    _ivf.save_index(emb_a, ivf_idx, n_cells=8)
    _pq.save_pq_index(emb_a, pq_idx, m=8, n_codes=16)
    _ivfpq.save_ivfpq_index(emb_a, ivfpq_idx, n_cells=8, m=8, n_codes=16)

    docs_drop = str(tmp_path / "docs_drop")
    emb_drop = str(tmp_path / "emb_drop")
    os.makedirs(docs_drop)
    os.makedirs(emb_drop)
    svc = CorpusIndexService(
        spark,
        docs_dir=docs_drop,
        emb_dir=emb_drop,
        text_index=text_idx,
        dedup_index=dedup_idx,
        ivf_index=ivf_idx,
        pq_index=pq_idx,
        ivfpq_index=ivfpq_idx,
    )

    # tick with nothing landed: free and a no-op
    assert svc.tick() == {"docs": [], "embeddings": [], "events": []}
    assert all(
        _epochs(p) == 0 for p in (text_idx, dedup_idx, ivf_idx, pq_idx, ivfpq_idx)
    )

    # a corpus append lands as one shard per drop dir
    docs_b.write.parquet(f"{docs_drop}/shard_b")
    emb_b.write.parquet(f"{emb_drop}/shard_b")
    folded = svc.tick()
    assert folded["docs"] and folded["embeddings"]
    assert all(
        _epochs(p) == 1 for p in (text_idx, dedup_idx, ivf_idx, pq_idx, ivfpq_idx)
    )

    # BM25: the freshened index answers exactly like an inline pass over
    # the FULL corpus (the appended docs are searchable)
    indexed = sorted(
        map(tuple, rtr.bm25_search_indexed(spark, text_idx).collect()),
        key=lambda t: (t[0], t[-1]),
    )
    inline = sorted(
        map(tuple, rtr.bm25_search(docs).collect()), key=lambda t: (t[0], t[-1])
    )
    assert indexed == inline

    # dedup: the pair table equals the inline derivation over the full
    # corpus — appended docs participate in near-dup pairs
    got_pairs = sorted(map(tuple, dd.load_dedup_index(spark, dedup_idx).collect()))
    want_pairs = sorted(map(tuple, dd.d_minhash_lsh_pairs(docs).collect()))
    assert got_pairs == want_pairs

    # ANN: appended vec_ids are reachable through every vector index
    ivf_hits = _ivf.knn_ivf(emb, k=5, nprobe=8, index_path=ivf_idx)
    assert ivf_hits.filter(F.col("vec_id") % 2 == 1).count() > 0
    pq_hits = _pq.pq_search_indexed(spark, pq_idx, emb, k=5)
    assert pq_hits.filter(F.col("vec_id") % 2 == 1).count() > 0
    ivfpq_hits = _ivfpq.ivfpq_search(spark, ivfpq_idx, emb, k=5, nprobe=8)
    assert ivfpq_hits.filter(F.col("vec_id") % 2 == 1).count() > 0

    # O(new docs): the appended epoch holds ONLY the shard's rows —
    # the indexed corpus was not re-hashed/re-encoded
    new_ids = {r["doc_id"] for r in docs_b.select("doc_id").collect()}
    sig1 = {
        r["doc_id"]
        for r in spark.read.parquet(f"{dedup_idx}/signatures/epoch=1").collect()
    }
    assert sig1 == new_ids
    new_vecs = {r["vec_id"] for r in emb_b.select("vec_id").collect()}
    for idx, sub in ((ivf_idx, "cells"), (pq_idx, "codes"), (ivfpq_idx, "codes")):
        got = {
            r["vec_id"] for r in spark.read.parquet(f"{idx}/{sub}/epoch=1").collect()
        }
        assert got == new_vecs, f"{idx}/{sub} epoch-1 is not shard-only"

    # second tick: nothing new, nothing re-folded
    assert svc.tick() == {"docs": [], "embeddings": [], "events": []}
    assert all(
        _epochs(p) == 1 for p in (text_idx, dedup_idx, ivf_idx, pq_idx, ivfpq_idx)
    )

    # service restart: the cursor survives, the shard is not re-folded
    svc2 = CorpusIndexService(
        spark,
        docs_dir=docs_drop,
        emb_dir=emb_drop,
        text_index=text_idx,
        dedup_index=dedup_idx,
        ivf_index=ivf_idx,
        pq_index=pq_idx,
        ivfpq_index=ivfpq_idx,
    )
    assert svc2.tick() == {"docs": [], "embeddings": [], "events": []}
    assert all(
        _epochs(p) == 1 for p in (text_idx, dedup_idx, ivf_idx, pq_idx, ivfpq_idx)
    )


def test_index_service_rides_upload_service_ticker(spark, sf_dir, tmp_path):
    """run_upload_service(index_service=...) folds a landed shard as part
    of its maintenance tick — corpus freshness without a manual step."""
    from csv_crm_upload_spark.operators.store import CustomerStore
    from csv_crm_upload_spark.streaming.pipeline import run_upload_service

    docs = load_table(spark, sf_dir, "documents")
    docs_a = docs.filter(F.col("doc_id") % 2 == 0)
    docs_b = docs.filter(F.col("doc_id") % 2 == 1)
    text_idx = str(tmp_path / "text_idx")
    rtr.save_text_index(docs_a, text_idx, n_buckets=16)

    docs_drop = str(tmp_path / "docs_drop")
    os.makedirs(docs_drop)
    docs_b.write.parquet(f"{docs_drop}/shard_b")
    svc = CorpusIndexService(spark, docs_dir=docs_drop, text_index=text_idx)

    store = CustomerStore(spark, str(tmp_path / "store"))  # empty: no uploads
    run_upload_service(
        store,
        "http://127.0.0.1:9",  # never contacted — pending set is empty
        max_cycles=1,
        sleep=lambda s: None,
        tick_sleep=lambda s: None,
        index_service=svc,
    )
    assert _epochs(text_idx) == 1
    indexed = sorted(
        map(tuple, rtr.bm25_search_indexed(spark, text_idx).collect()),
        key=lambda t: (t[0], t[-1]),
    )
    inline = sorted(
        map(tuple, rtr.bm25_search(docs).collect()), key=lambda t: (t[0], t[-1])
    )
    assert indexed == inline


def test_update_txn_guard_across_index_families(spark, sf_dir, tmp_path):
    """Every update_* is exactly-once per (app, batch): the second call
    with the same txn must not add an epoch, for the vector indexes and
    the pair index alike."""
    from csv_crm_upload_spark.analytics import ivf as _ivf2
    from csv_crm_upload_spark.analytics import ivfpq as _ivfpq2
    from csv_crm_upload_spark.analytics import pq as _pq2
    from csv_crm_upload_spark.operators.manifest import read_manifest

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    docs = load_table(spark, sf_dir, "documents")
    da = docs.filter(F.col("doc_id") % 2 == 0)
    db = docs.filter(F.col("doc_id") % 2 == 1)

    cases = []
    p = str(tmp_path / "ivf"); _ivf2.save_index(a, p, n_cells=8)
    cases.append((p, lambda t: _ivf2.update_index(b, p, txn=t)))
    p2 = str(tmp_path / "pq"); _pq2.save_pq_index(a, p2, m=8, n_codes=16)
    cases.append((p2, lambda t: _pq2.update_pq_index(b, p2, txn=t)))
    p3 = str(tmp_path / "ivfpq"); _ivfpq2.save_ivfpq_index(a, p3, n_cells=8)
    cases.append((p3, lambda t: _ivfpq2.update_ivfpq_index(b, p3, txn=t)))
    p4 = str(tmp_path / "dd"); dd.save_dedup_index(da, p4)
    cases.append((p4, lambda t: dd.update_dedup_index(db, p4, txn=t)))

    for path, update in cases:
        update(("app", 1))
        e1 = read_manifest(path)["epoch"]
        update(("app", 1))  # replay
        assert read_manifest(path)["epoch"] == e1, path
        assert read_manifest(path)["last_txn"]["app"] == 1, path


def test_in_flight_shard_directories_are_not_folded(spark, sf_dir, tmp_path):
    """A part-file directory without its _SUCCESS marker is in-flight:
    the tick must skip it (and NOT mark it seen), then fold it once the
    marker lands — no partial shard ever reaches an index."""
    from csv_crm_upload_spark.operators.manifest import read_manifest

    docs = load_table(spark, sf_dir, "documents")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "text_idx")
    rtr.save_text_index(half_a, idx, n_buckets=16)

    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    half_b.write.parquet(f"{drop}/shard_b")
    success = f"{drop}/shard_b/_SUCCESS"
    os.remove(success)  # simulate the writer mid-flight

    svc = CorpusIndexService(spark, docs_dir=drop, text_index=idx)
    assert svc.tick() == {"docs": [], "embeddings": [], "events": []}
    assert read_manifest(idx)["epoch"] == 0  # nothing folded, nothing seen

    open(success, "w").close()  # writer finishes
    folded = svc.tick()
    assert folded["docs"] == [f"{drop}/shard_b"]
    assert read_manifest(idx)["epoch"] == 1


def test_soak_sustained_appends_bounded_epochs_and_vacuum(spark, sf_dir, tmp_path):
    """Retention under SUSTAINED appends — the thousands-of-ticks story
    scaled to ten: with compact_after=3, every ranged index's live epoch
    chain stays bounded (epoch − base_epoch < 3 after each tick's
    auto-compact), and one vacuum() at the end reclaims EVERY superseded
    epoch dir — including all the NB model's every-epoch-is-a-snapshot
    copies — leaving exactly the manifest-referenced dirs on disk. This
    is what bounds read fan-out and disk growth for a service that folds
    shards forever."""
    from csv_crm_upload_spark.analytics.bpe import save_bpe_model
    from csv_crm_upload_spark.analytics.pca import save_pca_model
    from csv_crm_upload_spark.analytics.nbayes import save_nb_model
    from csv_crm_upload_spark.analytics.ngramlm import save_ngramlm_model
    from csv_crm_upload_spark.analytics.auditlog import (
        read_audit_rows,
        save_audit_log,
    )
    from csv_crm_upload_spark.analytics.rollup import save_daily_rollup
    from csv_crm_upload_spark.analytics.substr import save_substr_index
    from csv_crm_upload_spark.analytics.winnow import save_winnow_index
    from csv_crm_upload_spark.operators.manifest import read_manifest
    from csv_crm_upload_spark.streaming.index_service import INDEXES

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    events = load_table(spark, sf_dir, "events")
    base_docs = docs.filter(F.col("doc_id") % 12 == 0)
    base_emb = emb.filter(F.col("vec_id") % 12 == 0)
    base_events = events.filter(F.col("event_id") % 12 == 0)

    paths = {k: str(tmp_path / k) for k in INDEXES}
    rtr.save_text_index(base_docs, paths["text_index"], n_buckets=16)
    dd.save_dedup_index(base_docs, paths["dedup_index"])
    _ivf.save_index(base_emb, paths["ivf_index"], n_cells=4)
    _pq.save_pq_index(base_emb, paths["pq_index"], m=8, n_codes=16)
    _ivfpq.save_ivfpq_index(
        base_emb, paths["ivfpq_index"], n_cells=4, m=8, n_codes=16
    )
    save_nb_model(base_docs, paths["nb_model"])
    save_winnow_index(base_docs, paths["winnow_index"])
    save_bpe_model(base_docs, paths["bpe_model"], steps=2)
    save_pca_model(base_emb, paths["pca_model"], r=4)
    save_substr_index(base_docs, paths["substr_index"])
    save_ngramlm_model(base_docs, paths["ngram_model"])
    save_daily_rollup(base_events, paths["daily_rollup"])
    save_audit_log(spark, paths["audit_log"])

    docs_drop = str(tmp_path / "docs_drop")
    emb_drop = str(tmp_path / "emb_drop")
    events_drop = str(tmp_path / "events_drop")
    os.makedirs(docs_drop)
    os.makedirs(emb_drop)
    os.makedirs(events_drop)
    COMPACT_AFTER = 3
    svc = CorpusIndexService(
        spark,
        docs_dir=docs_drop,
        emb_dir=emb_drop,
        events_dir=events_drop,
        compact_after=COMPACT_AFTER,
        **paths,
    )

    N_TICKS = 10
    for t in range(1, N_TICKS + 1):
        docs.filter(F.col("doc_id") % 12 == t % 12).write.parquet(
            f"{docs_drop}/shard_{t}"
        )
        emb.filter(F.col("vec_id") % 12 == t % 12).write.parquet(
            f"{emb_drop}/shard_{t}"
        )
        events.filter(F.col("event_id") % 12 == t % 12).write.parquet(
            f"{events_drop}/shard_{t}"
        )
        folded = svc.tick()
        assert folded["docs"] and folded["embeddings"] and folded["events"], (
            f"tick {t} folded nothing"
        )
        # the boundedness invariant: auto-compact keeps every live chain
        # short no matter how many ticks have passed
        for kind, path in paths.items():
            m = read_manifest(path)
            live = m["epoch"] - m.get("base_epoch", 0)
            assert live < COMPACT_AFTER, f"{kind}: live chain {live} after tick {t}"

    # the audit LOG kept pace with the folds: every tick's event batch
    # logged its verdict rows exactly once, traceable by batch_key, and
    # compaction (a plain fold for facts) never dropped or doubled one
    audit = read_audit_rows(spark, paths["audit_log"]).collect()
    keys = {r["batch_key"] for r in audit}
    assert len(keys) == N_TICKS, f"expected {N_TICKS} logged batches, got {keys}"
    assert all(k.startswith("tick-events-") for k in keys)
    assert all(r["abs_err"] >= 0 and r["rel_err"] >= 0.0 for r in audit)

    removed = svc.vacuum()
    assert removed, "ten ticks of appends/compactions left nothing to vacuum?"

    # post-vacuum disk state == exactly what the manifests reference
    for kind, path in paths.items():
        m = read_manifest(path)
        layout = INDEXES[kind].layout
        lo, hi = m.get("base_epoch", 0), m["epoch"]
        for sub in [*layout.ranged, *layout.snapshots]:
            on_disk = sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(os.path.join(path, sub))
                if d.startswith("epoch=")
            )
            assert on_disk == list(range(lo, hi + 1)), (
                f"{kind}/{sub}: {on_disk} vs manifest [{lo},{hi}]"
            )
            assert len(on_disk) <= COMPACT_AFTER + 1
        for sub, key in layout.pinned.items():
            on_disk = [
                d for d in os.listdir(os.path.join(path, sub)) if d.startswith("epoch=")
            ]
            assert on_disk == [f"epoch={m[key]}"], f"{kind}/{sub}: {on_disk}"

    # NB snapshots: every superseded copy reclaimed (one live epoch)
    nb_m = read_manifest(paths["nb_model"])
    for sub in INDEXES["nb_model"].layout.snapshots:
        dirs = [
            d
            for d in os.listdir(os.path.join(paths["nb_model"], sub))
            if d.startswith("epoch=")
        ]
        assert dirs == [f"epoch={nb_m['epoch']}"], f"nb/{sub}: {dirs}"

    # the surviving index still answers: text search over the full folded
    # corpus equals the inline derivation
    folded_ids = [0] + [t % 12 for t in range(1, N_TICKS + 1)]
    cond = (F.col("doc_id") % 12).isin(sorted(set(folded_ids)))
    inline = sorted(
        map(tuple, rtr.bm25_search(docs.filter(cond)).collect()),
        key=lambda t: (t[0], t[-1]),
    )
    indexed = sorted(
        map(tuple, rtr.bm25_search_indexed(spark, paths["text_index"]).collect()),
        key=lambda t: (t[0], t[-1]),
    )
    assert indexed == inline


def test_tick_crash_between_fold_and_cursor_does_not_double_fold(
    spark, sf_dir, tmp_path
):
    """The exactly-once protocol under the worst crash: every index
    fold COMMITTED but the cursor write died. The restarted service
    must replay the intent-logged batch with the SAME txn seq — every
    update no-ops via its manifest guard — and the additive models
    (here NB + PCA) must equal a clean rebuild, not a double-fold."""
    import json

    from csv_crm_upload_spark.analytics.nbayes import save_nb_model
    from csv_crm_upload_spark.analytics.pca import (
        load_pca_loadings,
        save_pca_model,
    )
    from csv_crm_upload_spark.operators.manifest import read_manifest

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    nb = str(tmp_path / "nb")
    pca = str(tmp_path / "pca")
    save_nb_model(docs.filter(F.col("doc_id") < 300), nb, n_buckets=8)
    save_pca_model(emb.filter(F.col("vec_id") < 300), pca, r=4)

    docs_drop = str(tmp_path / "docs_drop")
    emb_drop = str(tmp_path / "emb_drop")
    os.makedirs(docs_drop)
    os.makedirs(emb_drop)
    docs.filter(F.col("doc_id") >= 300).write.parquet(f"{docs_drop}/shard_a")
    emb.filter(F.col("vec_id") >= 300).write.parquet(f"{emb_drop}/shard_a")

    svc = CorpusIndexService(
        spark, docs_dir=docs_drop, emb_dir=emb_drop, nb_model=nb, pca_model=pca
    )

    # crash simulation: the FINAL cursor commit (the one clearing the
    # intent) raises after all index folds committed
    real_commit = svc._commit_cursor
    calls = {"n": 0}

    def dying_commit(inflight=None):
        if inflight is None:
            calls["n"] += 1
            raise RuntimeError("crash before cursor commit")
        real_commit(inflight=inflight)

    svc._commit_cursor = dying_commit
    try:
        svc.tick()
        raise AssertionError("tick should have crashed")
    except RuntimeError:
        pass
    assert calls["n"] == 1
    nb_epoch = read_manifest(nb)["epoch"]
    pca_epoch = read_manifest(pca)["epoch"]
    assert nb_epoch == 1 and pca_epoch == 1, "folds committed before the crash"

    # restart: a fresh service over the same cursor finds the intent
    svc2 = CorpusIndexService(
        spark, docs_dir=docs_drop, emb_dir=emb_drop, nb_model=nb, pca_model=pca
    )
    assert svc2._inflight, "write-ahead intent must survive the crash"
    folded = svc2.tick()
    assert folded["docs"] and folded["embeddings"], "recovery reports the batch"
    # replay no-opped: epochs did NOT advance a second time
    assert read_manifest(nb)["epoch"] == nb_epoch
    assert read_manifest(pca)["epoch"] == pca_epoch
    # cursor is clean and a further tick is quiet
    cur = json.load(open(svc2.cursor_path))
    assert cur["inflight"] == {} and cur["txn_seq"] == 1
    assert svc2.tick() == {"docs": [], "embeddings": [], "events": []}

    # the additive models equal a clean rebuild over the union
    full_pca = str(tmp_path / "pca_full")
    save_pca_model(emb, full_pca, r=4)
    assert load_pca_loadings(spark, pca) == load_pca_loadings(spark, full_pca)
    n_docs = spark.read.parquet(f"{nb}/model_stats/epoch=1").first()["n_docs"]
    assert n_docs == docs.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ).count(), "NB totals double-counted — the batch folded twice"


def test_lost_cursor_fails_loudly_not_silent_noop(spark, sf_dir, tmp_path):
    """The exactly-once seq lives only in the cursor file while each
    artifact's manifest guard is monotonic under the fixed app names
    tick-docs/tick-emb. A LOST (or foreign) cursor would restart seq at
    1 and every update would silently no-op — shards marked seen
    without ever folding. Init must refuse that state loudly; the
    explicit adopt_artifact_seq=True opt-in fast-forwards the seq so a
    legitimately adopted service folds NEW shards for real."""
    import json

    import pytest as _pytest

    from csv_crm_upload_spark.analytics.nbayes import save_nb_model
    from csv_crm_upload_spark.operators.manifest import read_manifest

    docs = load_table(spark, sf_dir, "documents")
    nb = str(tmp_path / "nb")
    save_nb_model(docs.filter(F.col("doc_id") < 200), nb, n_buckets=8)

    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300)).write.parquet(
        f"{drop}/shard_a"
    )
    svc = CorpusIndexService(spark, docs_dir=drop, nb_model=nb)
    assert svc.tick()["docs"], "first fold"
    assert read_manifest(nb)["last_txn"]["tick-docs"] == 1

    # simulate the lost cursor
    os.remove(svc.cursor_path)
    with _pytest.raises(ValueError, match="lost, replaced"):
        CorpusIndexService(spark, docs_dir=drop, nb_model=nb)

    # a second service with its OWN cursor on the same artifact: same refusal
    with _pytest.raises(ValueError, match="lost, replaced"):
        CorpusIndexService(
            spark,
            docs_dir=drop,
            nb_model=nb,
            cursor_path=str(tmp_path / "other_cursor.json"),
        )

    # explicit adoption: seq fast-forwards past the artifact's txns, a
    # genuinely new shard folds for REAL (epoch advances — the silent
    # no-op this guard exists to prevent)
    svc2 = CorpusIndexService(
        spark, docs_dir=drop, nb_model=nb, adopt_artifact_seq=True
    )
    assert svc2._txn_seq == 1
    # shard_a is unseen to the adopted cursor; mark it seen the way the
    # opt-in contract demands (its rows are already folded into nb)
    svc2._seen.add(f"{drop}/shard_a")
    docs.filter(F.col("doc_id") >= 300).write.parquet(f"{drop}/shard_b")
    epoch_before = read_manifest(nb)["epoch"]
    folded = svc2.tick()
    assert folded["docs"] == [f"{drop}/shard_b"]
    m = read_manifest(nb)
    assert m["epoch"] == epoch_before + 1, "adopted fold must not no-op"
    assert m["last_txn"]["tick-docs"] == 2
    cur = json.load(open(svc2.cursor_path))
    assert cur["txn_seq"] == 2


def test_concurrent_probes_see_old_or_new_through_crash_recovery(
    spark, sf_dir, tmp_path
):
    """Readers probing the persisted artifacts WHILE a tick crashes and
    recovers must always see a fully consistent epoch — the pre-fold or
    the post-fold snapshot, never an error or a torn state. Probes a
    BM25 search (text index), the winnow print set, and the PCA
    loadings in a loop from a second thread across: fold → crash before
    the clearing cursor commit → restart → recovery replay (VERDICT r6
    ask 7: the visibility half of the exactly-once soak)."""
    import threading

    from csv_crm_upload_spark.analytics.pca import load_pca_loadings, save_pca_model
    from csv_crm_upload_spark.analytics.retrieval import (
        bm25_search_indexed,
        save_text_index,
    )
    from csv_crm_upload_spark.analytics.winnow import (
        load_winnow_prints,
        save_winnow_index,
    )
    from csv_crm_upload_spark.operators.manifest import read_manifest

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    text = str(tmp_path / "text")
    winnow = str(tmp_path / "winnow")
    pca = str(tmp_path / "pca")
    base_docs = docs.filter(F.col("doc_id") < 300)
    save_text_index(base_docs, text, n_buckets=8)
    save_winnow_index(base_docs, winnow)
    save_pca_model(emb.filter(F.col("vec_id") < 300), pca, r=4)
    base_prints = load_winnow_prints(spark, winnow).count()
    base_loadings = load_pca_loadings(spark, pca)

    docs_drop = str(tmp_path / "docs_drop")
    emb_drop = str(tmp_path / "emb_drop")
    os.makedirs(docs_drop)
    os.makedirs(emb_drop)
    docs.filter(F.col("doc_id") >= 300).write.parquet(f"{docs_drop}/shard_a")
    emb.filter(F.col("vec_id") >= 300).write.parquet(f"{emb_drop}/shard_a")

    stop = threading.Event()
    failures: list[str] = []
    probes = {"n": 0}

    def reader():
        while not stop.is_set():
            try:
                hits = bm25_search_indexed(
                    spark, text, {0: ["the", "data"]}, k=3
                ).collect()
                assert isinstance(hits, list)
                n_prints = load_winnow_prints(spark, winnow).count()
                assert n_prints >= base_prints, (
                    f"winnow prints went backwards: {n_prints} < {base_prints}"
                )
                w, _ = load_pca_loadings(spark, pca)
                assert len(w) == 4 and len(w[0]) == 64
                probes["n"] += 1
            except AssertionError as e:  # pragma: no cover - failure path
                failures.append(str(e))
                stop.set()
            except Exception as e:  # pragma: no cover - failure path
                failures.append(f"{type(e).__name__}: {e}")
                stop.set()

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        svc = CorpusIndexService(
            spark,
            docs_dir=docs_drop,
            emb_dir=emb_drop,
            text_index=text,
            winnow_index=winnow,
            pca_model=pca,
        )
        real_commit = svc._commit_cursor

        def dying_commit(inflight=None):
            if inflight is None:
                raise RuntimeError("crash before cursor commit")
            real_commit(inflight=inflight)

        svc._commit_cursor = dying_commit
        try:
            svc.tick()
            raise AssertionError("tick should have crashed")
        except RuntimeError:
            pass
        # restart + recovery replay while the reader keeps probing
        svc2 = CorpusIndexService(
            spark,
            docs_dir=docs_drop,
            emb_dir=emb_drop,
            text_index=text,
            winnow_index=winnow,
            pca_model=pca,
        )
        assert svc2._inflight
        svc2.tick()
        assert svc2.tick() == {"docs": [], "embeddings": [], "events": []}
    finally:
        stop.set()
        t.join(timeout=120)
    assert not failures, failures[:3]
    assert probes["n"] >= 3, f"reader only completed {probes['n']} probes"

    # end state: the fold landed exactly once and is reader-visible
    assert read_manifest(text)["last_txn"]["tick-docs"] == 1
    assert load_winnow_prints(spark, winnow).count() > base_prints
    new_loadings = load_pca_loadings(spark, pca)
    assert new_loadings != base_loadings, "PCA fold must be visible"
