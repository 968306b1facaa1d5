"""The epoch-manifest protocol of the 11 persisted indexes and models
(BM25 text index, LSH pair index, PQ / IVF-PQ indexes, NB / BPE / PCA
models, winnow prints, substr gram counts, daily event rollup,
sketch-audit log).

Each artifact module declares its directory layout once (`Layout`) and
keeps only its own math; this module runs every protocol step from the
layout:

  rebuild   — `rebuild`: write the next epoch, then one commit of a
              fresh manifest (epoch, stamp, build params);
  append    — `append`: stamp check, stage the delta from the new input
              only (empty → return with nothing touched), remove
              orphans, write epoch+1, one commit;
  live read — `live`: the [base_epoch, epoch] range of a ranged subdir;
  gc        — `gc_stale_epochs`: drop dirs the manifest no longer names.

The manifest is the ONLY commit point of an epoch-versioned artifact:
all epoch-K+1 files land first, then one atomic os.replace publishes
K+1. A reader resolves its epoch from the manifest once and reads one
fully written snapshot — old or new, never a mix; a crash leaves the
manifest at K and only orphan K+1 dirs, which the next writer removes.
On a real cluster this pointer is a metastore entry / table-format
commit log; the fsync'd single-file swap is the local-filesystem
equivalent.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable


@dataclass(frozen=True)
class Ranged:
    """An epoch-RANGED subdir: every epoch in [base_epoch, epoch] is
    live, and appends add one epoch each. `partition` is the physical
    partition columns; `schema` an explicit read schema (data +
    partition columns + `epoch int`) for subdirs whose epochs may hold
    no data file, which schema inference cannot read. Non-empty `keys`
    declares ADDITIVE counts: the same key may appear in several epochs,
    so the merged live view SUMs `sums` per key."""

    partition: tuple[str, ...] = ()
    schema: str | None = None
    keys: tuple[str, ...] = ()
    sums: tuple[str, ...] = ()


@dataclass(frozen=True)
class Layout:
    """One artifact's directory layout.

    ranged    — subdir → Ranged;
    snapshots — subdir → partition columns, for tables every epoch
                rewrites in full (only the current epoch is read). An
                artifact with no ranged subdir keeps base_epoch == epoch;
    key_format / format_field / missing_ok — the derived-key stamp
                (see `check_key_format`); None for artifacts whose keys
                are not derived from text."""

    ranged: dict[str, Ranged] = field(default_factory=dict)
    snapshots: dict[str, tuple[str, ...]] = field(default_factory=dict)
    key_format: str | None = None
    format_field: str = "key_format"
    missing_ok: bool = False

    def partition(self, sub: str) -> tuple[str, ...]:
        if sub in self.ranged:
            return self.ranged[sub].partition
        return self.snapshots.get(sub, ())


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, "MANIFEST")) as f:
        return json.load(f)


def still_committed(built: tuple[str, dict]) -> bool:
    """fitmemo validate hook for a memoized artifact build that returned
    (path, manifest it committed): hit only while the manifest at path
    still EQUALS it. Existence alone is not enough — in an A→B→A corpus
    alternation at one path, B's rebuild overwrites the artifact while
    A's memo entry stays live. Any manifest change (epoch advance,
    rebuild, external delete) misses and re-builds."""
    path, stamped = built
    try:
        return read_manifest(path) == stamped
    except Exception:
        return False


def checked_manifest(path: str, layout: Layout) -> dict:
    """The current manifest, with the layout's key-format stamp checked
    (and backfilled in place where `missing_ok`)."""
    m = read_manifest(path)
    if layout.key_format is not None:
        check_key_format(
            m, path, layout.key_format, layout.format_field, layout.missing_ok
        )
    return m


def rebuild(path: str, layout: Layout, write: Callable[[int], None], **fields) -> None:
    """Build (or atomically rebuild over a live artifact): `write(epoch)`
    lands every subdir of the next epoch — 0 on a fresh path, one past
    the committed epoch otherwise — then one commit of a FRESH manifest
    advances epoch and base_epoch together, stamps the key format and
    records `fields` (build parameters). Nothing of the
    prior manifest but its epoch carries over: every caller passes its
    parameters explicitly. A racing reader pairs old data with old
    quantizers/stats or new with new."""
    try:
        epoch = read_manifest(path)["epoch"] + 1
    except FileNotFoundError:
        epoch = 0
    write(epoch)
    stamp = {layout.format_field: layout.key_format} if layout.key_format else {}
    _commit(
        path,
        {
            "epoch": epoch,
            "base_epoch": epoch,
            **stamp,
            **fields,
        },
    )


def append(path: str, layout: Layout, stage: Callable, write: Callable) -> None:
    """Fold an APPEND as epoch+1, in this order:

      1. read the manifest and check the key-format stamp;
      2. `stage(m)` builds the delta DataFrame from the NEW input only;
         an empty delta returns with NOTHING touched;
      3. remove orphan epoch>current dirs a crashed writer left;
      4. `write(delta, m, epoch + 1)` lands the new epoch (reads of the
         stored tree belong here, after step 3);
      5. one commit of epoch+1.

    The no-op rule is the point of the order: orphan self-heal must not
    run on a no-op append, or a no-op deletes an in-flight concurrent
    writer's epoch dir."""
    m = checked_manifest(path, layout)
    delta = stage(m)
    if not delta.limit(1).count():
        return
    nxt = m["epoch"] + 1
    _remove_orphans(path, layout, m["epoch"])
    write(delta, m, nxt)
    payload = {**m, "epoch": nxt}
    if not layout.ranged:
        payload["base_epoch"] = nxt
    _commit(path, payload)


def write_epoch(df, path: str, layout: Layout, sub: str, epoch: int) -> None:
    """Land `df` as `<path>/<sub>/epoch=<epoch>`, partitioned BY the
    subdir's declared columns after `cluster_for_write` on them."""
    from csv_crm_upload_spark.analytics.fanout import cluster_for_write

    cols = layout.partition(sub)
    if cols:
        df = cluster_for_write(df, *cols)
    writer = df.write.mode("overwrite")
    if cols:
        writer = writer.partitionBy(*cols)
    writer.parquet(f"{path}/{sub}/epoch={epoch}")


def live(spark, path: str, m: dict, layout: Layout, sub: str, merged: bool = False):
    """The live [base_epoch, epoch] rows of a ranged subdir under
    manifest `m` (resolved once by the caller, so a racing append or
    rebuild is invisible), `epoch` column dropped. `merged=True`
    SUM-merges an additive subdir per key — exactly the table a rebuild
    would store."""
    from pyspark.sql import functions as F

    spec = layout.ranged[sub]
    reader = spark.read.option("basePath", f"{path}/{sub}")
    if spec.schema is not None:
        reader = reader.schema(spec.schema)
    df = (
        reader.parquet(f"{path}/{sub}")
        .filter(
            (F.col("epoch") >= m.get("base_epoch", 0)) & (F.col("epoch") <= m["epoch"])
        )
        .drop("epoch")
    )
    if not merged:
        return df
    return df.groupBy(*spec.keys).agg(
        *[F.sum(c).cast("long").alias(c) for c in spec.sums]
    )


def gc_stale_epochs(path: str, layout: Layout) -> list[str]:
    """Delete epoch dirs the CURRENT manifest can no longer reference:
    for ranged and snapshot subdirs anything outside [base_epoch, epoch]
    (stale pre-rebuild chains, superseded snapshots, uncommitted
    orphans). Returns the removed paths.

    Same contract as store.vacuum: callers assert no reader still holds
    an OLDER manifest snapshot (readers resolve the manifest once per
    probe, so the exposure window is one in-flight probe). Keep GC a
    deliberate maintenance step, not part of every commit."""
    m = read_manifest(path)
    base, epoch = m.get("base_epoch", 0), m["epoch"]
    removed: list[str] = []
    for sub in [*layout.ranged, *layout.snapshots]:
        removed += _sweep(path, sub, lambda k: not base <= k <= epoch)
    return removed


def _remove_orphans(path: str, layout: Layout, current_epoch: int) -> None:
    """Self-heal after a crashed writer: drop epoch dirs newer than the
    committed epoch (never published; partial files are fine to
    delete)."""
    for sub in [*layout.ranged, *layout.snapshots]:
        _sweep(path, sub, lambda k: k > current_epoch)


def _sweep(path: str, sub: str, drop: Callable[[int], bool]) -> list[str]:
    d = os.path.join(path, sub)
    if not os.path.isdir(d):
        return []
    removed = []
    for name in sorted(os.listdir(d)):
        if name.startswith("epoch=") and drop(int(name.split("=", 1)[1])):
            full = os.path.join(d, name)
            shutil.rmtree(full)
            removed.append(full)
    return removed


def _commit(path: str, payload: dict) -> None:
    """Atomically publish `payload` (must contain "epoch") as the
    current manifest: temp file + fsync + os.replace (atomic on POSIX)."""
    tmp = os.path.join(path, f"MANIFEST.tmp.{payload['epoch']}")
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, "MANIFEST"))


def check_key_format(
    m: dict,
    path: str,
    expected: str,
    field: str = "key_format",
    missing_ok: bool = False,
) -> None:
    """Fail LOUDLY when a persisted index's derived-key format doesn't
    match this code's: stored keys are hashes/strings of DERIVED text
    (tokenization, gram join separator, shingle normalization), so any
    change to the derivation silently changes every key — a probe
    against an older index would match NOTHING and an append would mix
    incompatible key spaces, with no downstream signal. Bump the
    artifact's KEY_FORMAT whenever its key derivation changes.

    `missing_ok=True` is for artifacts whose key derivation has NEVER
    changed since before the stamp existed (winnow / text index / dedup
    pairs — only substr's gram hashes actually changed): a manifest
    with no format field there is a known-compatible pre-stamp vintage,
    so it is accepted and the stamp is BACKFILLED into `m` in place —
    the next append's `{**m, ...}` manifest commit persists it, with no
    forced rebuild of a compatible index. The flag
    is ONLY valid while `expected` is the artifact's FIRST (v1) stamp;
    the moment a derivation change bumps the format, drop it — a
    missing field can then no longer prove v1. Artifacts whose keys
    did change (substr) stay strict: missing = unknown vintage =
    rebuild."""
    stored = m.get(field)
    if stored == expected:
        return
    if stored is None and missing_ok:
        m[field] = expected
        return
    raise ValueError(
        f"index at {path!r} has {field}={stored!r} but this code "
        f"writes/probes {expected!r}; the stored keys are incompatible "
        "(a probe would match zero keys, an append would mix key "
        "spaces). Rebuild the index."
    )
