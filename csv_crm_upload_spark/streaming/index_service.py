"""Corpus index maintenance riding a service ticker — the production
shape of incremental indexing: corpus appends land as parquet shards in
a drop directory, and each service tick folds ONLY the unseen shards
into every registered persisted index or model (the 13 artifacts of
INDEXES) via their O(new docs) `update_*` entry points. The build-once artifacts stay
fresh without a manual rebuild step, exactly the way a lakehouse
schedules OPTIMIZE/VACUUM alongside the workload (cf.
pipeline.run_upload_service's auto-compact/vacuum, which this service
plugs into via its `index_service` hook).

Scale story: a tick's cost is driven entirely by the NEW shards — each
registered index's update reads only the new rows (their incremental
contracts are pinned per-index: incremental ≡ rebuild for dedup/text,
fixed-quantizer assignment for IVF/PQ/IVF-PQ) — plus each index's
bounded merge state (vocab-sized dfreq for BM25, nothing for the
others). A quiet tick costs one directory listing.

Crash contract — EXACTLY-ONCE per shard batch: before any fold, the
exact shard list is written to the cursor as a WRITE-AHEAD INTENT
together with the batch's txn sequence number; every index update then
commits ("tick-docs"/"tick-emb"/"tick-events", seq) inside its own
atomic manifest (the txn guard of manifest.append); the final cursor
commit marks the
batch seen and clears the intent. A crash at ANY point replays
precisely the intent-logged batch with the same seq on restart —
updates that already committed no-op, the rest fold — so no index
double-folds a shard (which would double-count the additive NB/BPE/PCA
sums) and none misses one. The per-index epoch commits are atomic, so
readers are never corrupted at any point in this protocol.
"""

from __future__ import annotations

import json
import os
from typing import Callable, NamedTuple

from csv_crm_upload_spark.analytics import (
    auditlog,
    bpe,
    dedup,
    ivf,
    ivfpq,
    nbayes,
    ngramlm,
    pca,
    pq,
    retrieval,
    rollup,
    substr,
    winnow,
)
from csv_crm_upload_spark.operators.manifest import (
    Layout,
    gc_stale_epochs,
    read_manifest,
)


def _append_audit(new_events, path: str, txn: tuple[str, int]) -> None:
    # batch_key names the fold txn so a log row is traceable to the
    # exact shard batch (cursor intent / micro-batch) it audits
    auditlog.append_batch_audit(new_events, path, f"{txn[0]}-{txn[1]}", txn=txn)


class Index(NamedTuple):
    layout: Layout
    stream: str  # the drop dir that feeds it: "docs" | "embeddings" | "events"
    update: Callable  # update(new_frame, path, txn=(app, seq))
    compact: Callable | None  # compact(spark, path); None: snapshot-only model


#: Every persisted artifact the service maintains, keyed by the
#: CorpusIndexService argument that names its path. Folding, auto-
#: compaction, vacuum and the cursor cross-check all loop over this one
#: declaration; adding an artifact is one entry here (plus its argument).
#: The NB/BPE/PCA models keep base_epoch == epoch (every epoch is a
#: fully-merged snapshot), so they never need compaction.
INDEXES: dict[str, Index] = {
    "text_index": Index(
        retrieval.LAYOUT,
        "docs",
        retrieval.update_text_index,
        retrieval.compact_text_index,
    ),
    "dedup_index": Index(
        dedup.DEDUP_LAYOUT, "docs", dedup.update_dedup_index, dedup.compact_dedup_index
    ),
    "nb_model": Index(nbayes.LAYOUT, "docs", nbayes.update_nb_model, None),
    "winnow_index": Index(
        winnow.LAYOUT, "docs", winnow.update_winnow_index, winnow.compact_winnow_index
    ),
    "bpe_model": Index(bpe.LAYOUT, "docs", bpe.update_bpe_model, None),
    "substr_index": Index(
        substr.LAYOUT, "docs", substr.update_substr_index, substr.compact_substr_index
    ),
    "ngram_model": Index(
        ngramlm.LAYOUT,
        "docs",
        ngramlm.update_ngramlm_model,
        ngramlm.compact_ngramlm_model,
    ),
    "ivf_index": Index(ivf.LAYOUT, "embeddings", ivf.update_index, ivf.compact_index),
    "pq_index": Index(pq.LAYOUT, "embeddings", pq.update_pq_index, pq.compact_pq_index),
    "ivfpq_index": Index(
        ivfpq.LAYOUT,
        "embeddings",
        ivfpq.update_ivfpq_index,
        ivfpq.compact_ivfpq_index,
    ),
    "pca_model": Index(pca.LAYOUT, "embeddings", pca.update_pca_model, None),
    "daily_rollup": Index(
        rollup.LAYOUT, "events", rollup.update_daily_rollup, rollup.compact_daily_rollup
    ),
    "audit_log": Index(
        auditlog.LAYOUT, "events", _append_audit, auditlog.compact_audit_log
    ),
}


class CorpusIndexService:
    """Folds newly landed corpus shards into registered persisted
    indexes on each tick().

    Parameters
    ----------
    docs_dir / emb_dir / events_dir: drop directories watched for
        document, embedding and event shards, each consumed by the
        INDEXES entries of that stream. At least one is required.
    text_index ... audit_log: one argument per INDEXES entry — the path
        of an already-BUILT index/model (save_* must have run); None
        skips it.
    cursor_path: where the processed-shard cursor lives; defaults to
        `<first drop dir>/_index_service_cursor.json`.
    compact_after: auto-OPTIMIZE threshold — after folding, any
        registered index whose live epoch chain has grown past this many
        appends (epoch − base_epoch ≥ compact_after) is compacted back
        to one epoch via its compact_* entry point (each a single
        atomic manifest commit). None disables. This is the read-side
        half of the maintenance loop: appends keep writes O(new docs),
        compaction keeps probes O(one dir per partition).
    """

    def __init__(
        self,
        spark,
        docs_dir: str | None = None,
        emb_dir: str | None = None,
        events_dir: str | None = None,
        text_index: str | None = None,
        dedup_index: str | None = None,
        ivf_index: str | None = None,
        pq_index: str | None = None,
        ivfpq_index: str | None = None,
        nb_model: str | None = None,
        winnow_index: str | None = None,
        bpe_model: str | None = None,
        pca_model: str | None = None,
        substr_index: str | None = None,
        ngram_model: str | None = None,
        daily_rollup: str | None = None,
        audit_log: str | None = None,
        cursor_path: str | None = None,
        compact_after: int | None = None,
        adopt_artifact_seq: bool = False,
    ) -> None:
        # the registered artifacts: every INDEXES argument that was given
        args = locals()
        self.paths = {k: args[k] for k in INDEXES if args[k] is not None}
        if docs_dir is None and emb_dir is None and events_dir is None:
            raise ValueError(
                "at least one of docs_dir/emb_dir/events_dir is required"
            )
        self.spark = spark
        self.docs_dir = docs_dir
        self.emb_dir = emb_dir
        self.events_dir = events_dir
        self.cursor_path = cursor_path or os.path.join(
            docs_dir or emb_dir or events_dir, "_index_service_cursor.json"
        )
        self.compact_after = compact_after
        self._seen: set[str] = set()
        self._txn_seq = 0
        self._inflight: dict = {}
        if os.path.exists(self.cursor_path):
            with open(self.cursor_path) as f:
                cur = json.load(f)
            self._seen = set(cur["seen"])
            # pre-upgrade cursors lack these keys — start the seq at 0
            # with no pending intent
            self._txn_seq = cur.get("txn_seq", 0)
            self._inflight = cur.get("inflight", {}) or {}
        # LOST/FOREIGN-CURSOR GUARD: the exactly-once protocol keys every
        # fold txn as ("tick-docs"/"tick-emb"/"tick-events", seq) with seq living ONLY
        # in the cursor file, while each artifact's manifest guard is
        # monotonic (last_txn[app] >= seq no-ops). If the cursor is lost
        # or a second service brings its own cursor to the same artifact
        # paths, seq restarts below the artifacts' recorded txns and
        # every subsequent update SILENTLY no-ops — shards get marked
        # seen without ever folding. Neither silent outcome is safe
        # (fast-forwarding alone would double-fold any shards the lost
        # cursor had already seen), so a behind-cursor is a loud error;
        # `adopt_artifact_seq=True` is the explicit opt-in for the
        # legitimate adoption case (fresh service over artifacts whose
        # prior folds are known to be baked in and whose drop dirs hold
        # only genuinely-new shards): it fast-forwards seq so new folds
        # are not swallowed by the manifest guard.
        # a pending write-ahead intent legitimately leaves the artifacts
        # ONE seq ahead of the cursor (crash after the folds, before the
        # clearing cursor commit) — that is the recovery path, not a
        # lost cursor; the replay no-ops via the manifest guards.
        expected = self._txn_seq + (1 if self._inflight else 0)
        recorded = self._max_artifact_tick_seq()
        if recorded > expected:
            if not adopt_artifact_seq:
                raise ValueError(
                    f"index-service cursor at {self.cursor_path} records "
                    f"txn_seq={self._txn_seq} but a registered artifact has "
                    f"already committed tick txn {recorded} — the cursor was "
                    "lost, replaced, or belongs to another service instance. "
                    "Continuing would silently no-op future folds. Restore "
                    "the original cursor, or pass adopt_artifact_seq=True "
                    "ONLY if every shard already folded into the artifacts "
                    "is absent from (or marked seen in) the drop dirs."
                )
            self._txn_seq = recorded

    def _max_artifact_tick_seq(self) -> int:
        """Highest ("tick-docs"/"tick-emb"/"tick-events") txn seq any registered
        artifact has committed — the cross-check that detects a cursor
        file running BEHIND the artifacts it coordinates (see __init__).
        Artifacts without a readable manifest are skipped: save_* may
        not have run yet, which the first fold will surface on its own."""
        mx = 0
        for path in self.paths.values():
            try:
                last = read_manifest(path).get("last_txn", {})
            except Exception:
                continue
            mx = max(
                mx,
                last.get("tick-docs", 0),
                last.get("tick-emb", 0),
                last.get("tick-events", 0),
            )
        return mx

    def _commit_cursor(self, inflight: dict | None = None) -> None:
        """Atomic cursor write. `inflight` non-None is the WRITE-AHEAD
        INTENT record: the exact shard batch about to fold, persisted
        BEFORE any index update so a crash mid-fold replays precisely
        that batch (with the same txn seq) instead of re-listing a
        possibly different one."""
        tmp = self.cursor_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "seen": sorted(self._seen),
                    "txn_seq": self._txn_seq,
                    "inflight": inflight or {},
                },
                f,
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.cursor_path)

    @staticmethod
    def _new_shards(drop_dir: str | None, seen: set[str]) -> list[str]:
        """Unseen COMPLETE data entries in the drop dir. A bare .parquet
        file is complete by the atomic-rename convention (producers must
        move files in, the same contract Spark's file sources assume); a
        part-file DIRECTORY counts only once its _SUCCESS marker exists
        — listing an in-flight df.write.parquet() dir would fold a
        partial shard and permanently mark it seen, silently losing the
        late rows from every index."""
        if drop_dir is None or not os.path.isdir(drop_dir):
            return []
        out = []
        for name in sorted(os.listdir(drop_dir)):
            if name.startswith((".", "_")):
                continue
            full = os.path.join(drop_dir, name)
            if full in seen:
                continue
            if name.endswith(".parquet") and os.path.isfile(full):
                out.append(full)
            elif os.path.isdir(full) and os.path.exists(
                os.path.join(full, "_SUCCESS")
            ):
                out.append(full)
        return out

    def _fold_batch(self, batch: dict) -> None:
        """Fold one intent-logged shard batch into every registered
        index with this batch's txn seq, then commit the cursor with
        the intent cleared — the EXACTLY-ONCE protocol:

          1. intent (shard list + seq) is on disk BEFORE any fold;
          2. every update commits (app, seq) inside its own manifest;
          3. the cursor commit marks the batch seen and clears intent.

        A crash anywhere replays exactly this batch with the same seq
        on restart: updates that already committed hit their
        manifest's txn guard and no-op, the rest fold — so no index
        ever double-folds a shard (which would double-count the
        additive models) and none misses one."""
        seq = self._txn_seq + 1
        for stream, app in (
            ("docs", "tick-docs"),
            ("embeddings", "tick-emb"),
            ("events", "tick-events"),
        ):
            if batch.get(stream):
                frame = self.spark.read.parquet(*batch[stream])
                for kind, path in self.paths.items():
                    if INDEXES[kind].stream == stream:
                        INDEXES[kind].update(frame, path, txn=(app, seq))
        self._seen.update(batch.get("docs", []))
        self._seen.update(batch.get("embeddings", []))
        self._seen.update(batch.get("events", []))
        self._txn_seq = seq
        self._commit_cursor()

    def tick(self) -> dict:
        """One maintenance tick: recover any interrupted batch first,
        then fold every unseen shard batch into the registered indexes
        under the intent-log exactly-once protocol (see _fold_batch).
        Returns {"docs": [...folded...], "embeddings": [...folded...]}
        (empty lists on a quiet tick, which costs one listing)."""
        recovered = {}
        if self._inflight:
            recovered, self._inflight = self._inflight, {}
            self._fold_batch(recovered)

        doc_shards = self._new_shards(self.docs_dir, self._seen)
        emb_shards = self._new_shards(self.emb_dir, self._seen)
        event_shards = self._new_shards(self.events_dir, self._seen)
        if doc_shards or emb_shards or event_shards:
            batch = {
                "docs": doc_shards,
                "embeddings": emb_shards,
                "events": event_shards,
            }
            self._commit_cursor(inflight=batch)  # write-ahead intent
            self._fold_batch(batch)
        if self.compact_after is not None:
            self._maybe_compact()
        return {
            "docs": recovered.get("docs", []) + doc_shards,
            "embeddings": recovered.get("embeddings", []) + emb_shards,
            "events": recovered.get("events", []) + event_shards,
        }

    def _maybe_compact(self) -> None:
        """OPTIMIZE any registered index whose live epoch chain has
        outgrown `compact_after` appends — each compactor is its own
        atomic manifest commit, so a crash between indexes leaves every
        index individually consistent."""
        for kind, path in self.paths.items():
            compact = INDEXES[kind].compact
            m = read_manifest(path)
            if compact and m["epoch"] - m.get("base_epoch", 0) >= self.compact_after:
                compact(self.spark, path)

    def vacuum(self) -> list[str]:
        """Delete stale epoch dirs every registered index's CURRENT
        manifest can no longer reference (pre-compaction/pre-rebuild
        chains). Deliberately NOT on the tick: like store.vacuum, the
        caller asserts no probe still holds an older manifest. Returns
        the removed paths."""
        removed: list[str] = []
        for kind, path in self.paths.items():
            removed += gc_stale_epochs(path, INDEXES[kind].layout)
        return removed
