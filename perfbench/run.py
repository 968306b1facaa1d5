"""Benchmark of the whole pipeline: the ingest-and-upload service and
the headline analytics queries.

    python3 perfbench/run.py --workload service --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It generates its inputs from
``--seed``, runs one workload on ``local[nproc]`` for ``--seconds``,
checks the outputs and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; ``--trace 1`` wraps the program's
public functions in spans and prints the per-layer ones instead (spans
go to ``.perfbench/traces/``). Tracing overhead is a ``trace.*`` metric
minus the untraced metric of the same name. Layers a workload does not
use print 0 on it.

End-to-end metrics (every workload; one item is one customer of the
service or one pass over the headline queries):
  setup_s        session start + the workload's set-up: history preload
                 and a small warm-up round, or the warm-up query pass
  latency_p50_s  median item latency: round start (files landed) to the
                 customer's 201 at the CRM; one warm headline pass
  items_per_s    items / time spent on them: customers confirmed per
                 second of ingest + upload; headline passes per second

Layer -> end-to-end metric it should move -> workload where it works
(on the other workload the layer is idle and predicts no change):
  streaming.pipeline.{batches,batch_p50_s,offset_s,wal_commit_s,
  query_planning_s}, plans.ingest.*, operators.validate.construct_s,
  operators.dedup.construct_s, operators.store.{append_unique_*,
  conflict_rechecks,files_written,bytes_written,versions,live_files,
  disk_bytes_per_row}                 latency_p50_s, items_per_s  service
  operators.store.{pending_s,mark_uploaded_s,buckets_rewritten,
  bytes_rewritten}, streaming.pipeline.cycle_*
                                      latency_p50_s, items_per_s  service
  sinks.http_sink.*  (read at the mock CRM: the POSTs run in Python
                     workers, out of reach of driver-side wrappers)
                                      latency_p50_s, items_per_s  service
  analytics.*, sources.tables.*       latency_p50_s, items_per_s  headline_queries
  session.{get_spark_s,warmup_s}      setup_s                     both
  duckdb.headline_pass_s  reference anchor (same oracle SQL in DuckDB)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

HEAP = "2g"  # Spark driver heap, fixed from the start

# generator and workload parameters; BENCHMARK.json repeats them
WORKLOADS = {
    "service": {
        "history": 10_000, "files": 4, "rows_per_file": 250, "defect_rate": 0.02,
        "replay_rate": 0.03, "service_ms": 3, "fail_pct": 10,
    },
    "headline_queries": {"scale": 0.01},
}

E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "items_per_s": "1/s",
}

PER_LAYER = [
    "streaming.pipeline.batches", "streaming.pipeline.batch_p50_s", "streaming.pipeline.offset_s",
    "streaming.pipeline.wal_commit_s", "streaming.pipeline.query_planning_s",
    "streaming.pipeline.cycle_s", "streaming.pipeline.cycle_jobs",
    "plans.ingest.batch_s", "plans.ingest.jobs_per_batch", "plans.ingest.rows_in",
    "plans.ingest.inserted", "plans.ingest.quarantined", "plans.ingest.duplicates",
    "operators.validate.construct_s", "operators.dedup.construct_s",
    "operators.store.append_unique_s", "operators.store.append_unique_jobs",
    "operators.store.conflict_rechecks", "operators.store.versions",
    "operators.store.files_written", "operators.store.bytes_written",
    "operators.store.live_files", "operators.store.disk_bytes_per_row",
    "operators.store.pending_s", "operators.store.mark_uploaded_s",
    "operators.store.buckets_rewritten", "operators.store.bytes_rewritten",
    "sinks.http_sink.upload_pending_construct_s",
    "sinks.http_sink.posts", "sinks.http_sink.posts_201", "sinks.http_sink.posts_503",
    "sinks.http_sink.retries", "sinks.http_sink.duplicate_201",
    "sinks.http_sink.max_in_flight", "sinks.http_sink.mean_in_flight",
    "sinks.http_sink.sink_busy_s", "sinks.http_sink.success_ratio",
    "sinks.http_sink.posts_per_customer",
    "sinks.http_sink.delivery_p99_s",
    "analytics.first_pass_s", "analytics.construct_s", "analytics.exec_s",
    "analytics.analysis_ms", "analytics.optimization_ms", "analytics.planning_ms",
    "analytics.jobs", "analytics.stages", "analytics.tasks", "analytics.failed_tasks",
    "analytics.shuffle_write_bytes", "analytics.input_bytes", "analytics.gc_s",
    "sources.tables.load_table_calls", "sources.tables.load_table_s",
    "session.get_spark_s", "session.warmup_s",
    "duckdb.headline_pass_s",
    "trace.setup_s", "trace.latency_p50_s", "trace.items_per_s", "trace.self_s",
]


def per_query_layers() -> list[str]:
    from bench import HEADLINE

    return [f"analytics.{q}.{k}" for q in HEADLINE for k in ("construct_s", "exec_s")]


def _unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "per_customer")):
        return "ratio"
    return "count"


class Context:
    """What a workload gets: the session, the tracer, its scratch dir."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, session_s: float):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.session_s = seed, seconds, session_s
        self._restore: list = []

    def capture_ingest_results(self) -> list:
        """Collect every IngestResult the streaming pipeline produces (the
        quarantine and duplicate checks need them; the pipeline drops them)."""
        from csv_crm_upload_spark.streaming import pipeline

        seen: list = []
        original = pipeline.ingest_batch

        def recording(*args, **kwargs):
            out = original(*args, **kwargs)
            seen.append(out)
            return out

        pipeline.ingest_batch = recording
        self._restore.append(lambda: setattr(pipeline, "ingest_batch", original))
        return seen

    def close(self) -> None:
        while self._restore:
            self._restore.pop()()


def _environment(work: str) -> None:
    """Point every place the program or Spark writes at the run's scratch
    dir, and let Spark's Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEMORY"] = HEAP
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    env["SPARK_GRAFT_PCAREC1_SNAPSHOT"] = os.path.join(work, "pcarec1_snapshot.parquet")
    env["SPARK_GRAFT_ROLLUP_DIR"] = os.path.join(work, "rollup")
    env["TMPDIR"] = tmp
    # every JVM the run starts (the launcher too): temp files in the run
    # dir, no hsperfdata under /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a fixed-size Spark driver heap: no heap growth phase inside a short run
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{HEAP} --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)


def start_session(work: str):
    """Prepare the environment, then start the session; returns it and its start time."""
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    from csv_crm_upload_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, session_s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("csv_crm_upload_spark/__init__.py", "__spark_entry__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found next to the benchmark; run it from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark, session_s = start_session(work)
    import tracing
    import workloads

    tracer = tracing.Tracer(spark, args.workload) if args.trace else tracing.NullTracer()
    ctx = Context(spark, tracer, work, args.seed, args.seconds, session_s)
    try:
        if args.trace:
            tracing.instrument(tracer)
        result = getattr(workloads, args.workload)(ctx, WORKLOADS[args.workload])
    finally:
        ctx.close()  # its wrappers sit outside the tracer's: undo them first
        tracer.close()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in result.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    latency_p50 = statistics.median(result.latency_s) if result.latency_s else 0.0
    items_per_s = result.items / result.items_time_s if result.items_time_s else 0.0
    if args.trace:
        names = PER_LAYER + per_query_layers()
        layers = dict.fromkeys(names, 0.0)
        layers.update(result.layers)
        layers["session.get_spark_s"] = session_s
        layers["session.warmup_s"] = sum(s.dur for s in tracer.named("session.warmup"))
        layers["trace.setup_s"] = result.setup_s
        layers["trace.latency_p50_s"] = latency_p50
        layers["trace.items_per_s"] = items_per_s
        layers["trace.self_s"] = tracer.self_s
        metrics = {k: {"value": float(layers[k]), "unit": _unit(k)} for k in names}
        trace_dir = os.path.join(out_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"))
    else:
        values = {"setup_s": result.setup_s, "latency_p50_s": latency_p50, "items_per_s": items_per_s}
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({
        "correct": result.failed == 0 and result.attempted > 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
