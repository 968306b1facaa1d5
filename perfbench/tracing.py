"""Tracing shim: spans around calls into the program's public functions.

Spans live in memory and are written out once, when the run ends. Each
records name, start, end, parent, workload and op id. A span opened
with ``jobs=True`` also tags the Spark jobs launched inside it with a
job group of its own; ``harvest`` reads the jobs, stages and task
metrics of every group from Spark's status store after the listener
bus has drained and attaches them to the spans.

Wrappers replace a function where its caller looks it up -- a name
imported into another module is patched in that module -- and
``Tracer.close`` puts every original back.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
)


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "op", "group", "attrs", "spark")

    def __init__(self, sid: int, name: str, parent: int | None, op, group: str | None) -> None:
        self.sid, self.name, self.parent, self.op, self.group = sid, name, parent, op, group
        self.start = time.perf_counter()
        self.end = None
        self.attrs: dict = {}
        self.spark: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "parent": self.parent, "op": self.op,
            "start": self.start, "end": self.end, "attrs": self.attrs, "spark": self.spark,
        }


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, op=None, jobs: bool = False, **attrs):
        yield None

    def close(self) -> None:
        pass


class Tracer:
    """Collects spans for one workload run.

    Spans opened on any thread share one stack: the workloads run one
    operation at a time, and a streaming ``foreachBatch`` callback runs
    on a callback thread while the opening thread waits, so its spans
    nest under the open stream span."""

    enabled = True

    def __init__(self, spark, workload: str) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.self_s = 0.0  # time spent in the shim's own bookkeeping

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str, op=None, jobs: bool = False, **attrs):
        t0 = time.perf_counter()
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sid = len(self.spans)
            group = f"perfbench-{sid}" if jobs else None
            s = Span(sid, name, parent.sid if parent else None,
                     op if op is not None else (parent.op if parent else None), group)
            s.attrs.update(attrs)
            self.spans.append(s)
            self._stack.append(s)
        outer = self._group_of(parent)
        if group:
            self.sc.setJobGroup(group, name)
        self.self_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = t1
            with self._lock:
                self._stack.remove(s)
            if group:
                if outer:
                    self.sc.setJobGroup(outer, "")
                else:
                    self.sc._jsc.clearJobGroup()
            self.self_s += time.perf_counter() - t1

    def _group_of(self, s: Span | None) -> str | None:
        while s is not None:
            if s.group:
                return s.group
            s = self.spans[s.parent] if s.parent is not None else None
        return None

    # -- wrappers -----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, jobs: bool = False, observe=None) -> None:
        """Replace ``owner.attr`` with a spanned call. ``observe(args)``
        runs before the call and returns ``finish(span, result)``, which
        may copy what it saw onto the span."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name, jobs=jobs) as s:
                finish = observe(args) if observe is not None else None
                out = original(*args, **kwargs)
                if finish is not None:
                    finish(s, out)
                return out

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def wrap_everywhere(self, original, name: str, **kw) -> None:
        """Wrap ``original`` in every loaded module that holds it by name."""
        attr = original.__name__
        for mod in list(sys.modules.values()):
            if mod is not None and getattr(mod, attr, None) is original:
                self.wrap(mod, attr, name, **kw)

    def close(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- Spark status store -------------------------------------------------
    def harvest(self) -> None:
        """Attach jobs, stages and stage task metrics to each span that
        opened a job group. Reads after the listener bus drains, so every
        finished job of the run is in the store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_group = {s.group: s for s in self.spans if s.group}
        for s in by_group.values():
            s.spark = {}
        jobs = store.jobsList(None)
        stage_ids: dict[int, Span] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            g = job.jobGroup()
            span = by_group.get(g.get()) if g.isDefined() else None
            if span is None:
                continue
            span.spark["jobs"] = span.spark.get("jobs", 0) + 1
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_ids[ids.apply(k)] = span
        no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        stages = store.stageList(None, False, False, no_quantiles, None)
        for i in range(stages.size()):
            st = stages.apply(i)
            span = stage_ids.get(st.stageId())
            if span is None:
                continue
            span.spark["stages"] = span.spark.get("stages", 0) + 1
            for f in STAGE_FIELDS:
                span.spark[f] = span.spark.get(f, 0) + getattr(st, f)()

    # -- readouts -----------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def subtree(self, root: Span) -> list[Span]:
        out, frontier = [root], {root.sid}
        for s in self.spans[root.sid + 1:]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.sid)
        return out

    def spark_total(self, roots: list[Span], field: str) -> float:
        """Sum a harvested Spark field over the spans and their descendants."""
        return sum(s.spark.get(field, 0) for r in roots for s in self.subtree(r))

    def dump(self, path: str) -> None:
        """Write the spans, each with its self time: its duration minus
        the time its child spans cover."""
        children_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                children_s[s.parent] += s.dur
        spans = []
        for s in self.spans:
            d = s.as_dict()
            d["self_s"] = s.dur - children_s[s.sid] if s.end is not None else None
            spans.append(d)
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "spans": spans}, fh)


def parquet_inodes(root: str) -> dict[int, int]:
    """{inode: size} of the parquet files under root; hard links count once."""
    import os

    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                st = os.lstat(os.path.join(dirpath, n))
                out[st.st_ino] = st.st_size
    return out


def instrument(tracer: Tracer) -> None:
    """Span every public entry point the workloads reach, patched where
    its caller looks it up."""
    from csv_crm_upload_spark.operators import dedup
    from csv_crm_upload_spark.operators.store import CustomerStore
    from csv_crm_upload_spark.plans import ingest as plan
    from csv_crm_upload_spark.sources import tables
    from csv_crm_upload_spark.streaming import pipeline

    def ingest_counts(args):
        def finish(span, out):
            span.attrs.update(inserted=out.inserted, quarantined=out.quarantined, duplicates=out.duplicates)
        return finish

    def files_written(args):
        before = parquet_inodes(args[0].root)

        def finish(span, out):
            new = [size for ino, size in parquet_inodes(args[0].root).items() if ino not in before]
            span.attrs.update(files_written=len(new), bytes_written=sum(new))
        return finish

    tracer.wrap(pipeline, "ingest_batch", "plans.ingest.ingest_batch", jobs=True, observe=ingest_counts)
    tracer.wrap(plan, "validate_split", "operators.validate.validate_split")
    tracer.wrap(plan, "dedupe_batch", "operators.dedup.dedupe_batch")
    # append_unique imports it from the module at call time
    tracer.wrap(dedup, "anti_join_existing", "operators.dedup.anti_join_existing")
    tracer.wrap(pipeline, "upload_pending", "sinks.http_sink.upload_pending")
    tracer.wrap(CustomerStore, "append_unique", "operators.store.append_unique", jobs=True, observe=files_written)
    for method in ("append", "pending", "mark_uploaded"):
        tracer.wrap(CustomerStore, method, f"operators.store.{method}", jobs=True)
    tracer.wrap_everywhere(tables.load_table, "sources.tables.load_table")
