"""bench.py's harness, without a Spark session: the query lists name
real `queries()` entries, the record's key spaces never collide, and the
build/probe stage runner keeps one failure from hiding other timings.
Also the plan-node counts `tools/profile_queries.py` records."""

from __future__ import annotations

import importlib.util
import os

import pytest

import __spark_entry__ as entrymod
import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stage_keys() -> list[str]:
    return [k for b, *_, probes in bench.stages() for k in (b, *(p for p, _ in probes))]


def _run(load, table):
    secs, warm, errors = {}, {}, {}
    bench.run_stages(load, table, secs, warm, errors)
    return secs, warm, errors


def test_headline_and_extra_name_queries_entries():
    names = set(entrymod.queries())
    assert [n for n in bench.HEADLINE + bench.EXTRA if n not in names] == []


def test_extra_warm_is_a_subset_of_extra():
    assert bench.EXTRA_WARM <= set(bench.EXTRA)


def test_record_key_spaces_are_disjoint():
    stage = _stage_keys()
    builds = {b for b, *_ in bench.stages()}
    for keys in (bench.HEADLINE, bench.EXTRA, stage):
        assert len(keys) == len(set(keys))
    assert not set(bench.HEADLINE) & set(bench.EXTRA)
    assert not set(bench.HEADLINE) & set(stage)
    assert not set(bench.EXTRA) & set(stage)
    assert bench.WARM_BUILDS <= builds


class _Frame:
    """Stands in for a DataFrame: the timing helper drains it."""

    def agg(self, _exprs):
        return self

    def collect(self):
        return []


def _build(calls, fail=False):
    def build(df, path):
        calls.append(("build", df, path))
        assert os.path.isdir(path)
        if fail:
            raise RuntimeError("build failed")

    return build


def _probe(calls, key, fail=False):
    def probe(df, path, **opened):
        calls.append((key, df, path, opened))
        if fail:
            raise ValueError(f"{key} failed")
        return _Frame()

    return probe


def test_failed_build_skips_its_probes_and_removes_its_dir():
    calls = []
    table = [
        ("a_build", "t_a", _build(calls, fail=True), None, [("a_probe", _probe(calls, "a_probe"))]),
        ("b_build", "t_b", _build(calls), None, [("b_probe", _probe(calls, "b_probe"))]),
    ]
    secs, warm, errors = _run(lambda name: f"df:{name}", table)
    assert list(errors) == ["a_build"] and errors["a_build"].startswith("RuntimeError")
    assert "a_probe" not in secs and "a_probe" not in [c[0] for c in calls]
    assert list(secs) == ["b_build", "b_probe"]
    assert warm == {}
    assert all(not os.path.exists(c[2]) for c in calls)


def test_failed_load_is_recorded_under_the_build_key():
    calls = []

    def load(name):
        raise FileNotFoundError(name)

    table = [("a_build", "t_a", _build(calls), None, [("a_probe", _probe(calls, "a_probe"))])]
    secs, _, errors = _run(load, table)
    assert secs == {} and calls == []
    assert errors["a_build"].startswith("FileNotFoundError")


def test_failed_probe_does_not_hide_the_next_probe():
    calls = []
    table = [
        ("a_build", "t_a", _build(calls), None, [
            ("p1", _probe(calls, "p1", fail=True)),
            ("p2", _probe(calls, "p2")),
        ]),
    ]
    secs, _, errors = _run(lambda name: f"df:{name}", table)
    assert list(errors) == ["p1"] and errors["p1"] == "ValueError: p1 failed"
    assert list(secs) == ["a_build", "p2"]
    assert [c[0] for c in calls] == ["build", "p1", "p2"]
    assert all(c[1] == "df:t_a" for c in calls)
    assert not os.path.exists(calls[0][2])


def test_open_runs_once_and_feeds_every_probe():
    calls, opens = [], []

    def open_(df, path):
        opens.append((df, path))
        return {"pairs": f"pairs:{os.path.basename(path)}"}

    table = [("a_build", "t_a", _build(calls), open_,
              [("p1", _probe(calls, "p1")), ("p2", _probe(calls, "p2"))])]
    secs, _, errors = _run(lambda name: f"df:{name}", table)
    assert errors == {} and list(secs) == ["a_build", "p1", "p2"]
    assert opens == [("df:t_a", calls[0][2])]
    opened = {"pairs": f"pairs:{os.path.basename(calls[0][2])}"}
    assert [c[3] for c in calls[1:]] == [opened, opened]


def test_failed_open_is_recorded_under_the_build_key():
    calls = []

    def open_(df, path):
        raise OSError("no manifest")

    table = [("a_build", "t_a", _build(calls), open_, [("p1", _probe(calls, "p1"))])]
    secs, _, errors = _run(lambda name: f"df:{name}", table)
    assert errors == {"a_build": "OSError: no manifest"}
    assert [c[0] for c in calls] == ["build"] and not os.path.exists(calls[0][2])


def test_stages_fill_the_record_in_table_order():
    calls = []
    (warm_key,) = bench.WARM_BUILDS
    table = [
        ("a_build", "t_a", _build(calls), None,
         [("a1", _probe(calls, "a1")), ("a2", _probe(calls, "a2"))]),
        (warm_key, "t_w", _build(calls), None, [("w1", _probe(calls, "w1"))]),
    ]
    secs, warm, errors = _run(lambda name: f"df:{name}", table)
    assert errors == {}
    assert list(secs) == ["a_build", "a1", "a2", warm_key, "w1"]
    assert all(isinstance(v, float) and v >= 0 for v in secs.values())
    # the warm build re-runs into its own dict, in the same artifact dir
    assert list(warm) == [warm_key]
    assert [c[0] for c in calls] == ["build", "a1", "a2", "build", "build", "w1"]
    assert calls[3][2] == calls[4][2] != calls[0][2]


def _profile_module():
    spec = importlib.util.spec_from_file_location(
        "profile_queries", os.path.join(ROOT, "tools", "profile_queries.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# `formatted` explains as Spark prints them: each node once in the tree
# and once as a numbered detail header
_GROUPED_PANDAS_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (7)
+- FlatMapGroupsInPandas (6)
   +- Sort (5)
      +- Exchange (4)
         +- Project (3)
            +- Project (2)
               +- Range (1)


(1) Range
Output [1]: [id#0L]

(2) Project
Output [2]: [id#0L, (id#0L % 3) AS g#1L]

(3) Project
Output [3]: [g#1L, id#0L, g#1L]

(4) Exchange
Arguments: hashpartitioning(g#1L, 2), ENSURE_REQUIREMENTS, [plan_id=16]

(5) Sort
Arguments: [g#1L ASC NULLS FIRST], false, 0

(6) FlatMapGroupsInPandas
Arguments: [g#1L], <lambda>(id#0L, g#1L)#2, [id#3L, g#4L]

(7) AdaptiveSparkPlan
Arguments: isFinalPlan=false
"""

_ARROW_AND_UDF_PLAN = """== Physical Plan ==
MapInArrow (5)
+- * Project (4)
   +- BatchEvalPython (3)
      +- ArrowEvalPython (2)
         +- * Range (1)


(1) Range [codegen id : 1]
Output [1]: [id#0L]

(2) ArrowEvalPython
Arguments: [plus(id#0L)#14L], [pythonUDF0#20L], 200

(3) BatchEvalPython
Arguments: [<lambda>((id#0L % 3))#15L], [pythonUDF0#21L]

(4) Project [codegen id : 2]
Output [2]: [pythonUDF0#20L AS x#16L, pythonUDF0#21L AS y#17L]

(5) MapInArrow
Arguments: <lambda>(x#16L, y#17L)#5, [x#6L, y#7L], false
"""

_BROADCAST_PLAN = """== Physical Plan ==
HashAggregate (6)
+- Exchange (5)
   +- BroadcastHashJoin Inner BuildRight (4)
      :- Range (1)
      +- BroadcastExchange (3)
         +- Range (2)


(1) Range
(2) Range
(3) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false)

(4) BroadcastHashJoin
Join type: Inner

(5) Exchange
Arguments: hashpartitioning(g#1L, 2), ENSURE_REQUIREMENTS, [plan_id=72]

(6) HashAggregate
Functions [1]: [count(1)]
"""


@pytest.mark.parametrize(
    "plan, want",
    [(_GROUPED_PANDAS_PLAN, (1, 1)), (_ARROW_AND_UDF_PLAN, (0, 3)), (_BROADCAST_PLAN, (2, 0))],
)
def test_profile_counts_each_plan_node_once(plan, want):
    assert _profile_module().node_counts(plan) == want
