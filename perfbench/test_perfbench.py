"""Tests of the benchmark itself: its metric tables agree with
BENCHMARK.json, small clean runs pass, and an injected fault -- a dropped
store row, a customer delivered twice, a wrong query result -- makes the
run count failures.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SMALL = {
    "service": {
        "history": 500, "files": 2, "rows_per_file": 100, "defect_rate": 0.05,
        "replay_rate": 0.05, "service_ms": 1, "fail_pct": 10,
    },
    "headline_queries": {"scale": 0.001},
}


def test_benchmark_json_lists_what_the_runner_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    names = run.PER_LAYER + run.per_query_layers()
    assert [m["name"] for m in spec["per_layer"]] == names
    assert all(m["unit"] == run._unit(m["name"]) for m in spec["per_layer"])


@pytest.fixture(scope="module")
def ctx():
    work = os.path.join(run.ROOT, ".perfbench", "work", f"tests-{os.getpid()}")
    spark, session_s = run.start_session(work)
    import tracing

    c = run.Context(spark, tracing.NullTracer(), work, seed=11, seconds=0, session_s=session_s)
    c.base = work
    yield c
    c.close()
    run.stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)


def _run(ctx, workload: str):
    import tempfile

    import workloads

    ctx.work = tempfile.mkdtemp(dir=ctx.base)  # no checkpoint or store left by an earlier test
    try:
        return getattr(workloads, workload)(ctx, SMALL[workload])
    finally:
        ctx.close()


@pytest.mark.parametrize("workload", list(SMALL))
def test_clean_run_passes(ctx, workload):
    r = _run(ctx, workload)
    assert r.attempted > 0
    assert r.failed == 0, r.errors


def test_dropped_store_row_fails_service(ctx, monkeypatch):
    from pyspark.sql import functions as F

    from csv_crm_upload_spark.streaming import pipeline

    original = pipeline.ingest_batch

    def dropping(batch, store, *args, **kwargs):
        out = original(batch, store, *args, **kwargs)
        victim = store.read().agg(F.max("id")).first()[0]
        store.delete(F.col("id") == victim)
        return out

    monkeypatch.setattr(pipeline, "ingest_batch", dropping)
    r = _run(ctx, "service")
    assert r.failed > 0
    assert any("missing" in e for e in r.errors), r.errors


def test_double_delivery_fails_service(ctx, monkeypatch):
    from csv_crm_upload_spark.sinks import http_sink
    from csv_crm_upload_spark.streaming import pipeline

    original = pipeline.run_upload_cycle

    def delivering_twice(store, crm_url, **kwargs):
        first = store.pending().orderBy("id").first().asDict()
        marked = original(store, crm_url, **kwargs)
        http_sink._post_row(crm_url + "/customers", first, 30.0)
        return marked

    monkeypatch.setattr(pipeline, "run_upload_cycle", delivering_twice)
    r = _run(ctx, "service")
    assert r.failed > 0
    assert any("exactly one 201" in e for e in r.errors), r.errors
    assert r.layers["sinks.http_sink.duplicate_201"] > 0


def test_wrong_query_result_fails_headline(ctx, monkeypatch):
    import __spark_entry__ as entry

    real = entry.queries

    def broken():
        q = dict(real())
        good = q["top_customers"]
        q["top_customers"] = lambda spark, sf: good(spark, sf).limit(3)
        return q

    monkeypatch.setattr(entry, "queries", broken)
    r = _run(ctx, "headline_queries")
    assert r.failed > 0
    assert any("top_customers" in e for e in r.errors), r.errors
