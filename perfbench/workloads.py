"""The workloads. Each drives the program through its public API only,
checks the outputs against the generator's expected state and returns a
``Result``.

Timed regions exclude data generation, stats reads and every
correctness check. ``setup_s`` is session start plus the workload's
set-up (history preload, warm-up).
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import gen
from tracing import parquet_inodes as _inodes

# reference backoff is 1, 2, 3, 5... s; one reference second is 10 ms here
BACKOFF_SCALE = 0.01


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    latency_s: list[float] = field(default_factory=list)  # latency of each item
    items: int = 0  # work items the timed operations completed
    items_time_s: float = 0.0  # time those items took
    layers: dict[str, float] = field(default_factory=dict)  # per-layer readouts
    errors: list[str] = field(default_factory=list)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.errors.append(why)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tree_bytes(root: str) -> int:
    """Bytes of the unique inodes under root; hard links count once."""
    seen, total = set(), 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            st = os.lstat(os.path.join(dirpath, n))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


def _live_files(store) -> int:
    vdir = os.path.join(store.root, f"v{store._current_version():08d}")
    return sum(1 for _d, _s, names in os.walk(vdir) for n in names if n.endswith(".parquet"))


# --------------------------------------------------------------------------
# service
# --------------------------------------------------------------------------
def _customers_df(spark, path: str, uploaded: bool):
    from pyspark.sql import functions as F

    from csv_crm_upload_spark.schemas import CUSTOMER_SCHEMA

    raw = spark.read.option("header", True).schema(
        "id long, first_name string, last_name string, email string, phone string"
    ).csv(path)
    ts = F.lit("2024-01-01 00:00:00").cast("timestamp")
    return raw.select(
        *[F.col(c) for c in ("id", "first_name", "last_name", "email", "phone")],
        F.lit(uploaded).alias("uploaded"), ts.alias("created_ts"), ts.alias("modified_ts"),
    ).select(*CUSTOMER_SCHEMA.fieldNames())


@dataclass
class _Round:
    tag: str
    backlog: gen.Backlog
    wall0: float  # epoch time the round started; its files had landed
    ingest_s: float = 0.0
    upload_s: float = 0.0
    progress: list = field(default_factory=list)
    error: str = ""


def service(ctx, p: dict) -> Result:
    """The paper's service end to end. A store holds an uploaded history
    (set-up). Each round lands a fresh seeded backlog of customer CSVs,
    drains it with ``run_ingest_stream`` (one file per micro-batch, so
    the store grows batch by batch), then runs one ``run_upload_cycle``
    against the mock CRM. One item is one customer; its latency runs
    from the round's start, when its file had landed, to its 201."""
    from csv_crm_upload_spark.operators.store import CustomerStore
    from csv_crm_upload_spark.streaming import pipeline
    from mock_crm import MockCrm

    r = Result()
    spark, tr, work = ctx.spark, ctx.tracer, ctx.work

    def sleep(s):  # nested, so Spark ships it to the Python workers by value
        time.sleep(s * BACKOFF_SCALE)

    hist_path = os.path.join(work, "history.csv")
    history = gen.customer_rows(ctx.seed, hist_path, p["history"], id_base=1)
    results = ctx.capture_ingest_results()
    store = CustomerStore(spark, os.path.join(work, "store"))
    next_id = p["history"] + 1

    def one_round(tag: str, seed: int, files: int, rows: int, crm) -> _Round:
        nonlocal next_id
        in_dir = os.path.join(work, f"in_{tag}")
        backlog = gen.customer_backlog(
            seed, in_dir, files, rows,
            defect_rate=p["defect_rate"], replay_rate=p["replay_rate"], id_base=next_id,
        )
        next_id += files * rows
        results.clear()
        rd = _Round(tag, backlog, time.time())
        try:
            drive(rd, in_dir, crm)
        except Exception as e:  # the round fails; its customers count as failed
            rd.error = f"{type(e).__name__}: {e}"
        return rd

    def drive(rd: _Round, in_dir: str, crm) -> None:
        tag, backlog = rd.tag, rd.backlog
        t0 = time.perf_counter()
        with tr.span("streaming.pipeline.run_ingest_stream", op=tag, jobs=True):
            q = pipeline.run_ingest_stream(
                spark, in_dir, store, os.path.join(work, f"ckpt_{tag}"), max_files_per_trigger=1
            )
            q.awaitTermination()
        t1 = time.perf_counter()
        rd.ingest_s = t1 - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        rd.progress = [pr for pr in q.recentProgress if pr["numInputRows"]]
        quarantined = sum(x.quarantined for x in results)
        duplicates = sum(x.duplicates for x in results)
        if quarantined != backlog.quarantined or duplicates != backlog.replays:
            rd.error = (f"quarantined {quarantined} (expected {backlog.quarantined}), "
                        f"duplicates {duplicates} (expected {backlog.replays})")
        before = _inodes(store.root) if tr.enabled else {}
        t1 = time.perf_counter()
        with tr.span("streaming.pipeline.run_upload_cycle", op=tag, jobs=True):
            pipeline.run_upload_cycle(store, crm.url, sleep=sleep)
        rd.upload_s = time.perf_counter() - t1
        if tr.enabled:
            _rewrite_layers(r.layers, store, before)

    rounds: list[_Round] = []
    with MockCrm(p["service_ms"], p["fail_pct"]) as crm:
        t0 = time.perf_counter()
        with tr.span("perfbench.preload", op="preload"):
            store.append(_customers_df(spark, hist_path, uploaded=True))
        with tr.span("session.warmup"):
            # small files: the first batches and cycle of a session pay the JIT
            warm = one_round("warm", ctx.seed * 1000 + 999, 2, p["rows_per_file"] // 10, crm)
        r.setup_s = ctx.session_s + time.perf_counter() - t0
        r.layers.clear()  # drop the warm-up cycle's rewrite counts

        base = crm.stats()
        start = time.perf_counter()
        while not rounds or time.perf_counter() - start < ctx.seconds:
            i = len(rounds)
            rounds.append(one_round(f"r{i}", ctx.seed * 1000 + i, p["files"], p["rows_per_file"], crm))
        stats = crm.stats()

    # -- checks (untimed) ----------------------------------------------------
    per = stats["per_email"]
    for rd in rounds:
        customers = rd.backlog.expected
        r.attempted += len(customers)
        if rd.error:
            r.fail(len(customers), f"{rd.tag}: {rd.error}")
            continue
        r.items += len(customers)
        r.items_time_s += rd.ingest_s + rd.upload_s
        r.latency_s += [per[e][2] - rd.wall0 for _i, e in customers if per.get(e, [0, 0, None])[2]]
    ingested = {c for rd in [warm] + rounds for c in rd.backlog.expected}
    rows = store.read().select("id", "email", "uploaded").collect()
    got = {(row["id"], row["email"]) for row in rows}
    if len({i for i, _ in got}) != len(rows) or len({e for _, e in got}) != len(rows):
        r.fail(len(rows) - len(got) or 1, "duplicate id or email in the store")
    want = {(i + 1, e) for i, e in enumerate(history)} | ingested
    if got != want:
        lost = want - got
        r.fail(len(lost) + len(got - want),
               f"store differs from expected: {len(lost)} missing, {len(got - want)} unexpected")
    unflipped = sum(1 for row in rows if not row["uploaded"])
    if unflipped:
        r.fail(unflipped, f"{unflipped} customers still pending")
    wrong = [e for _i, e in ingested if per.get(e, [0, 0])[1] != 1]
    if wrong:
        r.fail(len(wrong), f"{len(wrong)} customers without exactly one 201, e.g. {wrong[:3]}")
    leaked = [e for e in history if e in per]
    if leaked:
        r.fail(len(leaked), f"{len(leaked)} already-uploaded customers were posted again")
    r.failed = min(r.failed, r.attempted)  # one customer can fail several checks

    L = r.layers
    L["sinks.http_sink.delivery_p99_s"] = statistics.quantiles(r.latency_s, n=100)[98] if len(r.latency_s) > 1 else 0.0
    posts = stats["posts"] - base["posts"]
    n_cust = max(1, sum(len(rd.backlog.expected) for rd in rounds))
    L["sinks.http_sink.posts"] = posts
    L["sinks.http_sink.posts_201"] = stats["posts_201"] - base["posts_201"]
    L["sinks.http_sink.posts_503"] = stats["posts_503"] - base["posts_503"]
    L["sinks.http_sink.duplicate_201"] = stats["duplicate_201"]
    L["sinks.http_sink.retries"] = posts - n_cust
    L["sinks.http_sink.posts_per_customer"] = posts / n_cust
    L["sinks.http_sink.success_ratio"] = L["sinks.http_sink.posts_201"] / max(1, posts)
    L["sinks.http_sink.max_in_flight"] = stats["max_in_flight"]
    busy = stats["busy_s"] - base["busy_s"]
    L["sinks.http_sink.sink_busy_s"] = busy
    L["sinks.http_sink.mean_in_flight"] = (stats["in_flight_s"] - base["in_flight_s"]) / busy if busy else 0.0
    if tr.enabled:
        L["operators.store.disk_bytes_per_row"] = _tree_bytes(store.root) / max(1, len(rows))
        L["operators.store.versions"] = len(store.versions())
        L["operators.store.live_files"] = _live_files(store)
        tr.harvest()
        _service_layers(tr, L, rounds)
    return r


def _service_layers(tr, L: dict, rounds: list[_Round]) -> None:
    """Per-layer readouts of the measured rounds: times per micro-batch,
    per call or per cycle; counts per round."""
    measured = lambda name: [s for s in tr.named(name) if s.op and s.op.startswith("r")]  # noqa: E731
    n = max(1, len(rounds))
    progress = [pr for rd in rounds for pr in rd.progress]
    nb = max(1, len(progress))
    dm = [pr["durationMs"] for pr in progress]
    L["streaming.pipeline.batches"] = len(progress)
    L["streaming.pipeline.batch_p50_s"] = _median([d["triggerExecution"] / 1000 for d in dm])
    L["streaming.pipeline.offset_s"] = sum(d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dm) / 1000 / nb
    L["streaming.pipeline.wal_commit_s"] = sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dm) / 1000 / nb
    L["streaming.pipeline.query_planning_s"] = sum(d.get("queryPlanning", 0) for d in dm) / 1000 / nb
    batches = measured("plans.ingest.ingest_batch")
    k = max(1, len(batches))
    L["plans.ingest.batch_s"] = sum(s.dur for s in batches) / k
    L["plans.ingest.jobs_per_batch"] = tr.spark_total(batches, "jobs") / k
    L["plans.ingest.rows_in"] = sum(pr["numInputRows"] for pr in progress) / n
    for f in ("inserted", "quarantined", "duplicates"):
        L[f"plans.ingest.{f}"] = sum(s.attrs.get(f, 0) for s in batches) / n
    L["operators.validate.construct_s"] = sum(s.dur for s in measured("operators.validate.validate_split")) / k
    L["operators.dedup.construct_s"] = sum(
        s.dur for name in ("operators.dedup.dedupe_batch", "operators.dedup.anti_join_existing")
        for s in measured(name)) / k
    appends = measured("operators.store.append_unique")
    a = max(1, len(appends))
    L["operators.store.append_unique_s"] = sum(s.dur for s in appends) / a
    L["operators.store.append_unique_jobs"] = tr.spark_total(appends, "jobs") / a
    L["operators.store.conflict_rechecks"] = sum(
        max(0, sum(1 for c in tr.subtree(s) if c.name == "operators.dedup.anti_join_existing") - 1)
        for s in appends
    ) / n
    L["operators.store.files_written"] = sum(s.attrs.get("files_written", 0) for s in appends) / a
    L["operators.store.bytes_written"] = sum(s.attrs.get("bytes_written", 0) for s in appends) / a
    cycles = measured("streaming.pipeline.run_upload_cycle")
    c = max(1, len(cycles))
    L["streaming.pipeline.cycle_s"] = sum(s.dur for s in cycles) / c
    L["streaming.pipeline.cycle_jobs"] = tr.spark_total(cycles, "jobs") / c
    L["operators.store.pending_s"] = sum(s.dur for s in measured("operators.store.pending")) / c
    L["operators.store.mark_uploaded_s"] = sum(s.dur for s in measured("operators.store.mark_uploaded")) / c
    L["sinks.http_sink.upload_pending_construct_s"] = sum(
        s.dur for s in measured("sinks.http_sink.upload_pending")) / c
    L["operators.store.buckets_rewritten"] = L.get("operators.store.buckets_rewritten", 0) / c
    L["operators.store.bytes_rewritten"] = L.get("operators.store.bytes_rewritten", 0) / c


def _rewrite_layers(L: dict, store, before: dict) -> None:
    """Buckets whose files one upload cycle replaced, and the bytes it wrote."""
    new = {ino: size for ino, size in _inodes(store.root).items() if ino not in before}
    vdir = os.path.join(store.root, f"v{store._current_version():08d}")
    rewritten = 0
    for b in os.listdir(vdir):
        bdir = os.path.join(vdir, b)
        if os.path.isdir(bdir) and any(os.lstat(os.path.join(bdir, f)).st_ino in new for f in os.listdir(bdir)):
            rewritten += 1
    L["operators.store.buckets_rewritten"] = L.get("operators.store.buckets_rewritten", 0) + rewritten
    L["operators.store.bytes_rewritten"] = L.get("operators.store.bytes_rewritten", 0) + sum(new.values())


# --------------------------------------------------------------------------
# headline_queries
# --------------------------------------------------------------------------
def _sorted_rows(rows, cols, order):
    import math

    idx = [cols.index(c) for c in order]
    norm = [
        tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i] for i in idx)
        for r in rows
    ]
    return sorted(norm, key=repr)


def headline_queries(ctx, p: dict) -> Result:
    """The ``bench.HEADLINE`` queries over seeded tables: one untimed
    warm-up pass that also keeps each query's rows for the oracle check,
    then timed passes until time is up. One item is one pass over the
    queries; each query is constructed and drained with
    ``agg(count).collect()`` as ``bench.py`` does."""
    import __spark_entry__ as entry
    from bench import HEADLINE, TABLES

    r = Result()
    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    sf_dir = os.path.join(work, "sf")
    gen.analytics_tables(ctx.seed, sf_dir, p["scale"])
    queries = entry.queries()

    t0 = time.perf_counter()
    kept: dict[str, tuple[list, list]] = {}
    with tr.span("session.warmup"):
        for name in HEADLINE:
            try:
                df = queries[name](spark, sf_dir)
                kept[name] = (df.columns, df.collect())
            except Exception as e:
                kept[name] = ([], [])
                r.errors.append(f"warm-up {name}: {type(e).__name__}: {e}")
    r.setup_s = ctx.session_s + time.perf_counter() - t0

    per_query: dict[str, dict[str, list[float]]] = {n: {"construct": [], "exec": []} for n in HEADLINE}
    failures: dict[str, int] = dict.fromkeys(HEADLINE, 0)
    executions: dict[str, int] = dict.fromkeys(HEADLINE, 0)

    def one_pass(tag: str) -> float:
        total = 0.0
        for name in HEADLINE:
            executions[name] += 1
            try:
                with tr.span("analytics.query", op=tag, query=name):
                    t = time.perf_counter()
                    with tr.span(f"analytics.{name}.construct", jobs=True):
                        df = queries[name](spark, sf_dir)
                    c = time.perf_counter()
                    with tr.span(f"analytics.{name}.exec", jobs=True) as s:
                        drained = df.agg({"*": "count"})
                        drained.collect()
                        if s is not None:
                            s.attrs["phases"] = _phases_ms(drained)
                    e = time.perf_counter()
            except Exception as exc:
                failures[name] += 1
                r.errors.append(f"{tag} {name}: {type(exc).__name__}: {exc}")
                continue
            per_query[name]["construct"].append(c - t)
            per_query[name]["exec"].append(e - c)
            total += e - t
        return total

    start = time.perf_counter()
    while not r.latency_s or time.perf_counter() - start < ctx.seconds:
        r.latency_s.append(one_pass(f"warm{len(r.latency_s)}"))
        r.items += 1
        r.items_time_s += r.latency_s[-1]

    # -- oracle check (untimed): each query once, order-insensitive ----------
    import duckdb

    oracle = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in HEADLINE:
            cols, rows = kept[name]
            res = con.execute(oracle[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            if not cols or sorted(cols) != sorted(dcols) or (
                _sorted_rows(rows, cols, sorted(cols)) != _sorted_rows(drows, dcols, sorted(cols))
            ):
                failures[name] = executions[name]
                r.errors.append(f"{name}: result differs from its oracle_sql()")
        if tr.enabled:
            # reference anchor: the same oracle SQL, one warm DuckDB pass
            t = time.perf_counter()
            for name in HEADLINE:
                con.execute(oracle[name]).fetchall()
            r.layers["duckdb.headline_pass_s"] = time.perf_counter() - t
    finally:
        con.close()
    r.attempted = sum(executions.values())
    r.failed = sum(failures.values())

    L = r.layers
    for name in HEADLINE:
        L[f"analytics.{name}.construct_s"] = _median(per_query[name]["construct"])
        L[f"analytics.{name}.exec_s"] = _median(per_query[name]["exec"])
    L["analytics.first_pass_s"] = r.latency_s[0]  # the first pass after the warm-up
    if tr.enabled:
        tr.harvest()
        _headline_layers(tr, r, len(r.latency_s))
    return r


def _phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of the executed Dataset."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _headline_layers(tr, r: Result, warm_passes: int) -> None:
    """Analytics layer totals per timed pass, averaged over the passes."""
    L = r.layers
    warm = [s for s in tr.named("analytics.query") if s.op and s.op.startswith("warm")]
    k = max(1, warm_passes)
    cons = [c for s in warm for c in tr.subtree(s) if c.name.endswith(".construct")]
    execs = [c for s in warm for c in tr.subtree(s) if c.name.endswith(".exec")]
    L["analytics.construct_s"] = sum(s.dur for s in cons) / k
    L["analytics.exec_s"] = sum(s.dur for s in execs) / k
    for ph in ("analysis", "optimization", "planning"):
        L[f"analytics.{ph}_ms"] = sum(s.attrs.get("phases", {}).get(ph, 0.0) for s in execs) / k
    spark_fields = {
        "jobs": "jobs", "stages": "stages", "tasks": "numTasks", "failed_tasks": "numFailedTasks",
        "shuffle_write_bytes": "shuffleWriteBytes", "input_bytes": "inputBytes",
    }
    for key, f in spark_fields.items():
        L[f"analytics.{key}"] = tr.spark_total(warm, f) / k
    L["analytics.gc_s"] = tr.spark_total(warm, "jvmGcTime") / 1000.0 / k
    loads = [s for s in tr.named("sources.tables.load_table") if s.op and s.op.startswith("warm")]
    L["sources.tables.load_table_calls"] = len(loads) / k
    L["sources.tables.load_table_s"] = sum(s.dur for s in loads) / k
