"""Customer store: append sink, pending scan, keyed update (S4, S5, F1, P1, U1).

The reference's store is a Postgres table with UNIQUE constraints and an
index on the `uploaded` flag (reference init-db.sh:11-25); its whole query
surface is four SQL statements (reference database/database.go:16-19).

Spark-first realization: a versioned, HASH-BUCKETED parquet table. Each
mutation commits a NEW immutable version directory and atomically repoints
`_LATEST` — the snapshot/commit pattern of lakehouse table formats reduced
to its minimum. Within a version, rows live in `b=K` subdirectories keyed
by `pmod(xxhash64(email), n_buckets)`:

  * appends write only the buckets the batch touches; untouched buckets
    are hard-linked from the prior version (an ADD FILE commit, no copy);
  * the keyed UPDATE (U1, `mark_uploaded`) rewrites ONLY the buckets that
    contain a success email — at 100 TB an upload cycle's flag flip costs
    O(affected buckets), not O(table). This is the partition-pruned MERGE
    a Delta/Iceberg table would give you, hand-rolled on plain parquet;
  * the flip count is derived from the (small, broadcast) success set
    joined against the pruned bucket read — never a full-table count.

Physical layout, decided in one place each:
  * schema — every parquet read (`_scan`: a version, some of its
    buckets, or a staging dir) passes CUSTOMER_SCHEMA, so no read infers
    from file footers; the bucket column `b` comes from partition
    discovery. Writes cast to the same schema.
  * staging — `_staged` writes rows to a fresh `staging_*` dir,
    clustered and partitioned by bucket, and removes the dir afterwards.
  * commit — `_commit_version` builds version v+1 from a base version
    (hard-linking every bucket not replaced), the buckets to replace and
    a staged dir, writes `_COMMIT.json` and swaps `_LATEST`. Every
    mutation (append, append_unique, merge, mark_uploaded, delete,
    compact, clone) goes through it.
  * crash debris — a writer that dies after creating v+1 and before the
    `_LATEST` swap leaves a version dir above `_LATEST`. The write lock
    removes such dirs when it is taken, and `versions()` lists only
    committed versions.

Uniqueness (D1) is enforced with optimistic concurrency: `append_unique`
stages its anti-joined batch against the snapshot it observed, then
re-verifies INSIDE the write lock — if another writer committed in
between, the anti-join re-runs against the fresh snapshot before the
pointer swap, so two concurrent ingests can never both insert the same
id/email (the check-then-act race the reference avoids via Postgres
UNIQUE).

Lakehouse surface mapping (what a Delta/Iceberg table would provide —
neither is a dependency, so the store implements the minimum of each
on plain parquet + hard links):
  MERGE INTO            → merge()            (bucket-pruned upsert)
  UPDATE ... WHERE      → mark_uploaded()    (pruned keyed rewrite)
  DELETE ... WHERE      → delete()           (pruned predicate delete)
  VERSION AS OF         → read_version()
  DESCRIBE HISTORY      → history()
  VACUUM                → vacuum()
  OPTIMIZE / compaction → compact()
  SHALLOW CLONE         → clone()            (hard-link zero-copy table)
  GDPR erase (RTBF)     → forget()           (history-rewriting erasure)

`_META` holds only the bucket count. Known limit vs a real table
format: the advisory pid-liveness write lock is single-host; cross-host
multi-writer needs a real format's atomic log commit (documented, not
simulated).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_crm_upload_spark.operators.mutate import (
    finalize_columns,
    mark_uploaded,
    now_ts,
)
from csv_crm_upload_spark.schemas import CUSTOMER_COLUMNS, CUSTOMER_SCHEMA

DEFAULT_BUCKETS = 16


_LOCK_MAX_AGE_S = 300.0  # break locks older than this even if pid unreadable


def _bucket_col(n_buckets: int):
    """Bucket id for a row: pmod(xxhash64(email), n) — email is the
    reference's upload idempotency key, so success sets prune well."""
    return F.pmod(F.xxhash64(F.col("email")), F.lit(n_buckets)).cast("int")


class CustomerStore:
    """Versioned, hash-bucketed parquet-backed `customers` table."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = DEFAULT_BUCKETS):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.n_buckets = self._load_or_init_meta(n_buckets)

    # -- version plumbing ---------------------------------------------------
    @property
    def _latest_path(self) -> str:
        return os.path.join(self.root, "_LATEST")

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.root, "_META")

    def _read_meta(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        tmp = self._meta_path + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path)

    def _load_or_init_meta(self, n_buckets: int) -> int:
        """Bucket count is a table property: fixed at creation, read back
        on open so every writer buckets identically. A `_META` that
        declares evolved columns or CHECK constraints is refused: reads
        and writes use CUSTOMER_SCHEMA only, so the next rewrite would
        silently drop those columns."""
        try:
            meta = self._read_meta()
        except (FileNotFoundError, ValueError):
            meta = {}
        for key in ("extra_cols", "constraints"):
            if meta.get(key):
                raise ValueError(
                    f"{self._meta_path} declares {key!r}; this store reads and "
                    f"writes only the customer schema and would drop them"
                )
        try:
            return int(meta["n_buckets"])
        except (KeyError, ValueError):
            self._write_meta({"n_buckets": n_buckets})
            return n_buckets

    def _scan(self, vdir: str | None, buckets: list[str] | None = None) -> DataFrame:
        """The one parquet read: a version (or staging) dir, or just the
        named `b=K` buckets of it (partition pruning by path), always with
        CUSTOMER_SCHEMA — no footer inference, no Spark job. `b` comes
        from partition discovery; an empty bucket list is an empty frame."""
        reader = self.spark.read.schema(CUSTOMER_SCHEMA)
        if buckets is None:
            return reader.parquet(vdir)
        if buckets:
            return reader.option("basePath", vdir).parquet(
                *[os.path.join(vdir, b) for b in buckets]
            )
        return self.spark.createDataFrame([], CUSTOMER_SCHEMA)

    def _current_version(self) -> int:
        try:
            with open(self._latest_path) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.root, f"v{v:08d}")

    def _version_dirs(self) -> list[int]:
        """Every `v%08d` dir on disk, committed or not, oldest first."""
        return sorted(
            int(name[1:])
            for name in os.listdir(self.root)
            if name.startswith("v") and name[1:].isdigit()
        )

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one entry per still-on-disk snapshot, newest
        first — operation, UTC timestamp, and operation metrics (rows
        inserted/updated/deleted...). Versions vacuumed away are gone;
        versions committed by pre-history builds read as operation
        'unknown'. Driver-side metadata (O(versions)), no Spark job."""
        out = []
        for v in sorted(self.versions(), reverse=True):
            path = os.path.join(self._version_dir(v), "_COMMIT.json")
            try:
                with open(path) as f:
                    out.append(json.load(f))
            except (FileNotFoundError, ValueError):
                out.append(
                    {"version": v, "operation": "unknown", "timestamp": None, "metrics": {}}
                )
        return out

    @contextlib.contextmanager
    def _write_lock(self, timeout_s: float = 60.0):
        """Advisory single-writer lock (O_EXCL lockfile) around mutations:
        two concurrent CLI invocations would otherwise race the pointer
        swap. Readers never take the lock — they see the last committed
        snapshot (MVCC-style isolation).

        Stale-lock recovery: a writer that crashes between acquiring the
        lock and its finally block leaves _LOCK behind; waiters break the
        lock when its recorded pid is dead or the file exceeds a max age.
        (Tiny race window between the liveness check and the remove —
        acceptable for an advisory CLI lock; a table format's transaction
        log is the real answer.)

        Once held, version dirs above `_LATEST` can only be debris of a
        writer that died before its pointer swap; they are removed, so
        every writer builds on a root with no uncommitted version."""
        lock = os.path.join(self.root, "_LOCK")
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if self._lock_is_stale(lock):
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(lock)
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"store write lock held: {lock} — if no writer is "
                        f"running, delete the file to recover"
                    )
                time.sleep(0.1)
        try:
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            current = self._current_version()
            for v in self._version_dirs():
                if v > current:
                    shutil.rmtree(self._version_dir(v), ignore_errors=True)
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(lock)

    @staticmethod
    def _lock_is_stale(lock: str) -> bool:
        pid = 0
        try:
            with open(lock) as f:
                pid = int(f.read().strip() or "0")
        except (OSError, ValueError):
            pass
        if pid:
            try:
                os.kill(pid, 0)  # signal 0: existence probe only
                return False  # owner alive
            except ProcessLookupError:
                return True
            except PermissionError:  # pragma: no cover
                return False
        try:  # pid not yet written (or unreadable): fall back to age
            return (time.time() - os.path.getmtime(lock)) > _LOCK_MAX_AGE_S
        except OSError:
            return False  # vanished — the open() loop will retry

    # -- staging / commit ---------------------------------------------------
    @contextlib.contextmanager
    def _staged(self, rows: DataFrame):
        """Write `rows` to a fresh staging dir in the table's physical
        layout, yield the dir, and remove it on exit. Rows are clustered
        by bucket before the `b=K` write: without that every task writes a
        file into every bucket it touches (tasks × buckets small files —
        the classic streaming-sink killer)."""
        staging = os.path.join(self.root, f"staging_{os.getpid()}_{uuid.uuid4().hex[:8]}")
        out = rows.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in CUSTOMER_SCHEMA.fields],
            _bucket_col(self.n_buckets).alias("b"),
        ).repartition(self.n_buckets, "b")
        try:
            out.write.mode("overwrite").partitionBy("b").parquet(staging)
            yield staging
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    @staticmethod
    def _bucket_dirs(version_dir: str) -> dict[str, str]:
        """{bucket dirname -> abs path} for one version (or staging) dir."""
        if not os.path.isdir(version_dir):
            return {}
        return {
            name: os.path.join(version_dir, name)
            for name in os.listdir(version_dir)
            if name.startswith("b=")
        }

    @staticmethod
    def _link_files(src_dir: str, dst_dir: str) -> None:
        """Hard-link every parquet file under its ORIGINAL name. Names stay
        collision-free across versions because each Spark write stamps its
        part files with a per-job UUID; renaming here (e.g. a version
        prefix) would grow filenames on every carried-over commit and hit
        NAME_MAX on long-running serve/watch usage."""
        os.makedirs(dst_dir, exist_ok=True)
        for name in os.listdir(src_dir):
            if name.endswith(".parquet"):
                os.link(os.path.join(src_dir, name), os.path.join(dst_dir, name))

    def _commit_version(
        self,
        staged: str | None,
        replace: set[str] = frozenset(),
        base: str | None = None,
        op: str = "append",
        metrics: dict | None = None,
    ) -> int:
        """The one commit routine: version v+1 = every bucket of `base`
        (a version dir, default the current version) not named in
        `replace`, hard-linked, plus every bucket of the `staged` dir.
        Buckets in `replace` thus take ONLY the staged files (U1
        rewrite); a replaced bucket with nothing staged disappears. MUST
        be called inside the write lock. Commit metadata rides inside the
        version dir (underscore-prefixed → invisible to Spark) and is
        written BEFORE the atomic pointer swap, so a version is never
        visible without its history entry. Returns the new version."""
        v = self._current_version()
        new_dir = self._version_dir(v + 1)
        os.makedirs(new_dir)
        kept = self._bucket_dirs(self._version_dir(v) if base is None else base)
        buckets = [(b, p) for b, p in kept.items() if b not in replace]
        if staged is not None:
            buckets += self._bucket_dirs(staged).items()
        for bname, bpath in buckets:
            self._link_files(bpath, os.path.join(new_dir, bname))
        info = {
            "version": v + 1,
            "operation": op,
            "timestamp": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime()),
            "metrics": metrics or {},
        }
        with open(os.path.join(new_dir, "_COMMIT.json"), "w") as f:
            json.dump(info, f)
        tmp = self._latest_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v + 1))
        os.replace(tmp, self._latest_path)  # atomic pointer swap
        return v + 1

    def _bucket_of(self, email: str) -> str:
        """`b=K` dir name of one email's bucket, computed with the
        writer's own expression (one tiny job)."""
        b = (
            self.spark.range(1)
            .select(F.lit(email).alias("email"))
            .select(_bucket_col(self.n_buckets).alias("b"))
            .first()["b"]
        )
        return f"b={b}"

    def _hit_buckets(self, keys: DataFrame, v: int) -> list[str]:
        """Buckets of version `v` that can hold an email of `keys` — the
        pruning probe of every keyed rewrite: one small distinct-collect
        of bucket ids, intersected with the buckets on disk."""
        if v < 0:
            return []
        hit = {
            f"b={r['b']}"
            for r in keys.select(_bucket_col(self.n_buckets).alias("b")).distinct().collect()
        }
        return sorted(hit & set(self._bucket_dirs(self._version_dir(v))))

    # -- operators ----------------------------------------------------------
    def read(self) -> DataFrame:
        """S4: full table scan of the current snapshot. The bucket id is a
        physical detail — dropped from the logical schema."""
        return self.read_version(self._current_version())

    def read_version(self, version: int) -> DataFrame:
        """Time travel: scan snapshot `version` (every committed version
        is immutable and remains readable until vacuumed) — the
        `VERSION AS OF` surface of a lakehouse table format. A snapshot
        with no bucket dirs (delete() removed every row) reads empty."""
        if version < 0:
            return self._scan(None, [])
        vdir = self._version_dir(version)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(f"version {version} not found (vacuumed?): {vdir}")
        return self._scan(vdir).drop("b")

    def versions(self) -> list[int]:
        """Committed snapshot versions still on disk, oldest first."""
        current = self._current_version()
        return [v for v in self._version_dirs() if v <= current]

    def compact(self) -> int:
        """Bin-pack every bucket to one file in a NEW snapshot (readers of
        older versions are untouched — compaction is just another commit).
        Each append links the prior version's files and adds its own, so
        a long append chain accumulates files per bucket; compaction
        resets that to one file per bucket. Returns the new version."""
        with self._write_lock():
            v = self._current_version()
            if v < 0:
                return -1
            with self._staged(self.read()) as staging:
                return self._commit_version(
                    staging,
                    replace=set(self._bucket_dirs(self._version_dir(v))),
                    op="compact",
                )

    def maybe_compact(self, max_files_per_bucket: int = 8) -> int | None:
        """Auto-compaction policy: compact only when some bucket has
        accumulated more than `max_files_per_bucket` files. The check is
        pure metadata (os.listdir per bucket, no Spark job), so a
        maintenance loop can call this every tick for free; returns the
        new version when compaction ran, else None."""
        v = self._current_version()
        if v < 0:
            return None
        for _b, path in self._bucket_dirs(self._version_dir(v)).items():
            n = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
            if n > max_files_per_bucket:
                return self.compact()
        return None

    def clone(self, dest_root: str) -> "CustomerStore":
        """SHALLOW CLONE (the `CREATE TABLE ... SHALLOW CLONE` lakehouse
        surface): a new, independent store whose v0 hard-links every data
        file of this store's CURRENT snapshot — O(buckets) metadata work,
        zero bytes copied. Both tables then evolve independently: every
        commit on either side writes new files and re-links untouched
        ones, so the clone is copy-on-write by construction and no write
        can ever leak through to the other table. The bucket count carries
        over; history does NOT (the clone starts at its own v0), matching
        shallow-clone semantics. Requires the destination on the same
        filesystem (hard links)."""
        src_v = self._current_version()
        if src_v < 0:
            raise FileNotFoundError("nothing to clone: store has no committed version")
        if os.path.exists(os.path.join(dest_root, "_META")) or os.path.exists(
            os.path.join(dest_root, "_LATEST")
        ):
            raise FileExistsError(f"clone destination is already a store: {dest_root}")
        dest = CustomerStore(self.spark, dest_root, n_buckets=self.n_buckets)
        with dest._write_lock():
            dest._commit_version(
                None,
                base=self._version_dir(src_v),
                op="clone",
                metrics={"source_root": self.root, "source_version": src_v},
            )
        return dest

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest `keep_last` snapshots. Safe by
        construction: versions share data through hard links, so deleting
        an old version dir only releases blocks no newer version still
        links. Returns the versions removed."""
        keep_last = max(1, keep_last)
        with self._write_lock():
            current = self._current_version()
            removed = [v for v in self.versions() if v <= current - keep_last]
            for v in removed:
                shutil.rmtree(self._version_dir(v), ignore_errors=True)
        return removed

    def append(self, batch: DataFrame) -> None:
        """S5: append a finalized batch as a new snapshot. No uniqueness
        check — callers that need D1 use append_unique."""
        with self._staged(batch) as staging:
            with self._write_lock():
                self._commit_version(staging)

    def append_unique(self, batch: DataFrame, keys: tuple[str, ...] = ("id", "email")) -> int:
        """D1-correct append: stage the anti-joined batch optimistically
        against the observed snapshot, then RE-VERIFY inside the write
        lock — if another writer committed first, re-run the anti-join
        against the fresh snapshot before the pointer swap. Only the
        conflict path pays the recheck. Returns rows inserted."""
        from csv_crm_upload_spark.operators.dedup import anti_join_existing

        v_seen = self._current_version()
        insertable = anti_join_existing(batch, self.read(), keys)
        with contextlib.ExitStack() as stack:
            staging = stack.enter_context(self._staged(insertable))
            with self._write_lock():
                if self._current_version() != v_seen and self._bucket_dirs(staging):
                    # conflict: someone committed since we checked — redo
                    # the anti-join against the fresh snapshot. (An empty
                    # staging dir — every batch row already lost the dup
                    # race — has nothing to recheck.)
                    rechecked = anti_join_existing(self._scan(staging), self.read(), keys)
                    staging = stack.enter_context(self._staged(rechecked))
                inserted = self._scan(staging).count() if self._bucket_dirs(staging) else 0
                if inserted > 0:
                    self._commit_version(
                        staging, op="append_unique", metrics={"rows_inserted": inserted}
                    )
        return inserted

    def merge(self, source: DataFrame, now=None) -> dict[str, int]:
        """MERGE INTO — the Delta/Iceberg upsert surface on the versioned
        store, keyed on email (the reference's idempotency key):
        WHEN MATCHED → update first_name/last_name/phone, refresh
        modified_ts (uploaded flag and created_ts are preserved);
        WHEN NOT MATCHED → insert with U3 defaults.

        Bucket-pruned like mark_uploaded: email determines the bucket, so
        a source email exists in the table IFF it exists in the
        affected-bucket read — only those buckets are read and rewritten;
        every other bucket hard-links into the new version. The one
        unavoidable wider touch is the id-uniqueness guard for inserts (a
        column-pruned scan of ids — the UNIQUE(id) contract spans
        buckets); id-conflicting inserts are SKIPPED, mirroring
        append_unique's declarative-loser philosophy where Delta would
        abort. Runs entirely inside the write lock (read+stage+commit =
        one consistent snapshot transition).

        Returns {"updated": n, "inserted": n, "skipped": n}.
        """
        from csv_crm_upload_spark.operators.dedup import dedupe_batch

        ts = now_ts(now)
        src = dedupe_batch(source.select(*CUSTOMER_COLUMNS))
        upd = F.broadcast(
            src.select(
                F.col("email").alias("_m_email"),
                F.col("first_name").alias("_m_first"),
                F.col("last_name").alias("_m_last"),
                F.col("phone").alias("_m_phone"),
            )
        )
        with self._write_lock():
            v = self._current_version()
            affected = self._hit_buckets(src, v)
            sub = self._scan(self._version_dir(v), affected)
            matched = F.col("_m_email").isNotNull()
            rewritten = (
                sub.join(upd, sub["email"] == F.col("_m_email"), "left")
                .withColumn("first_name", F.when(matched, F.col("_m_first")).otherwise(F.col("first_name")))
                .withColumn("last_name", F.when(matched, F.col("_m_last")).otherwise(F.col("last_name")))
                .withColumn("phone", F.when(matched, F.col("_m_phone")).otherwise(F.col("phone")))
                .withColumn("modified_ts", F.when(matched, ts).otherwise(F.col("modified_ts")))
                .select(*CUSTOMER_SCHEMA.fieldNames())
            )
            n_updated = sub.join(F.broadcast(src.select("email")), "email", "left_semi").count()
            insert_cand = src.join(sub.select("email"), "email", "left_anti")
            inserts = insert_cand.join(self.read_version(v).select("id"), "id", "left_anti")
            n_inserted = inserts.count()
            n_skipped = insert_cand.count() - n_inserted
            if n_updated == 0 and n_inserted == 0:
                return {"updated": 0, "inserted": 0, "skipped": n_skipped}
            staged_df = rewritten.unionByName(
                finalize_columns(inserts, now=now), allowMissingColumns=True
            )
            with self._staged(staged_df) as staging:
                self._commit_version(
                    staging,
                    replace=set(affected),
                    op="merge",
                    metrics={
                        "rows_updated": n_updated,
                        "rows_inserted": n_inserted,
                        "rows_skipped": n_skipped,
                    },
                )
        return {"updated": n_updated, "inserted": n_inserted, "skipped": n_skipped}

    def delete(self, condition) -> int:
        """DELETE FROM customers WHERE <condition> — the remaining
        lakehouse mutation verb. `condition` is a SQL predicate string or
        a Column; rows where it evaluates TRUE are removed (false and
        NULL rows are kept — SQL DELETE semantics).

        Bucket-pruned like every other mutation: one predicate-pushed
        scan finds which buckets contain matches (≤ n_buckets rows
        collected), only those buckets are rewritten without the matching
        rows, the rest hard-link into the new version. A bucket whose
        rows all match simply disappears from the new snapshot.
        Returns the number of rows deleted."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        is_hit = F.coalesce(cond, F.lit(False))
        with self._write_lock():
            v = self._current_version()
            vdir = self._version_dir(v)
            if not self._bucket_dirs(vdir):
                return 0
            affected = sorted(
                f"b={r['b']}"
                for r in self._scan(vdir).filter(is_hit).select("b").distinct().collect()
            )
            if not affected:
                return 0
            sub = self._scan(vdir, affected)
            n_deleted = sub.filter(is_hit).count()
            with self._staged(sub.filter(~is_hit)) as staging:
                self._commit_version(
                    staging,
                    replace=set(affected),
                    op="delete",
                    metrics={"rows_deleted": n_deleted},
                )
        return n_deleted

    def forget(self, email: str) -> int:
        """GDPR erasure (right to be forgotten): physically remove every
        row for `email` from EVERY retained snapshot. delete() is not
        enough for compliance — it writes a new version while time travel
        keeps serving the old rows until vacuum; forget() REWRITES
        HISTORY in place, by design, under the write lock.

        Cost is bucket-pruned twice over: only the email's hash bucket is
        touched in each version, and because versions share bucket files
        through hard links, each distinct file (inode) is examined and
        rewritten ONCE — the rewritten file is re-linked into every
        version that referenced the original, preserving the sharing.
        Files that do not contain the email are left untouched (their
        inodes survive). Per-file filtering runs
        driver-side via pyarrow — bounded by one bucket's files, 1/n_buckets
        of the table regardless of scale; a cluster deployment would
        distribute the per-file rewrite as a Spark job over file paths.

        Returns the number of rows erased from the CURRENT snapshot."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        b = self._bucket_of(email)
        erased_current = 0
        with self._write_lock():
            current = self._current_version()
            # inode → list of (version_dir_path, filename) hard links
            sites: dict[int, list[tuple[str, str]]] = {}
            for v in self.versions():
                bdir = os.path.join(self._version_dir(v), b)
                if not os.path.isdir(bdir):
                    continue
                for name in os.listdir(bdir):
                    if name.endswith(".parquet"):
                        ino = os.stat(os.path.join(bdir, name)).st_ino
                        sites.setdefault(ino, []).append((bdir, name))
            for ino, links in sites.items():
                src = os.path.join(*links[0])
                table = pq.read_table(src)
                mask = pc.equal(table.column("email"), email)
                n_hits = pc.sum(mask).as_py() or 0
                if n_hits == 0:
                    continue
                if any(bdir == os.path.join(self._version_dir(current), b) for bdir, _ in links):
                    erased_current += n_hits
                kept = table.filter(pc.invert(mask))
                if kept.num_rows:
                    tmp = src + ".forget.tmp"
                    # INT96, as Spark writes timestamps: pyarrow's default
                    # INT64 nanos is a type Spark's reader rejects
                    pq.write_table(kept, tmp, use_deprecated_int96_timestamps=True)
                    # splice the new inode into every version that linked
                    # the old one, keeping filenames (and thus sharing)
                    os.replace(tmp, src)
                    for bdir, name in links[1:]:
                        dst = os.path.join(bdir, name)
                        dtmp = dst + ".forget.tmp"
                        os.link(src, dtmp)
                        os.replace(dtmp, dst)
                else:
                    for bdir, name in links:
                        os.remove(os.path.join(bdir, name))
            # a bucket left with zero files must disappear entirely: a
            # snapshot's bucket set is its dir listing
            for v in self.versions():
                bdir = os.path.join(self._version_dir(v), b)
                if os.path.isdir(bdir) and not any(
                    n.endswith(".parquet") for n in os.listdir(bdir)
                ):
                    shutil.rmtree(bdir, ignore_errors=True)
        return int(erased_current)

    def pending(self) -> DataFrame:
        """F1+P1: `SELECT id, first_name, last_name, email, phone FROM
        customers WHERE uploaded = false` (reference database/database.go:18).
        Predicate + projection push down to the parquet scan."""
        return self.read().filter(~F.col("uploaded")).select(*CUSTOMER_COLUMNS)

    def mark_uploaded(self, succeeded_emails: DataFrame, now=None) -> int:
        """U1+U2: flip the flag for confirmed uploads; new snapshot.

        Partition-pruned: the success set (small — one upload cycle) maps
        to its bucket ids; ONLY those buckets are read, recomputed via the
        broadcast semi-join, and rewritten — every other bucket is
        hard-linked into the new version untouched. The flip count comes
        from the pruned read ∩ success set, not full-table counts.
        Returns the number of rows flipped.
        """
        emails = succeeded_emails.select("email").distinct()
        with self._write_lock():
            v = self._current_version()
            affected = self._hit_buckets(emails, v)
            if not affected:
                return 0
            sub = self._scan(self._version_dir(v), affected)
            flipped = (
                sub.filter(~F.col("uploaded"))
                .join(F.broadcast(emails), "email", "left_semi")
                .count()
            )
            if flipped == 0:
                return 0
            with self._staged(mark_uploaded(sub, emails, now=now)) as staging:
                self._commit_version(
                    staging,
                    replace=set(affected),
                    op="update",
                    metrics={"rows_updated": flipped},
                )
        return flipped
