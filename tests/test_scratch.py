"""The query scratch contract (`__spark_entry__._scratch`): the ten
queries that write an artifact and read it back keep it under one
per-process root in the temp dir, their oracles read the same files,
and the root is removed at interpreter exit.

Two interpreters run at once, each with its own TMPDIR; neither starts
a Spark session — table loads and the artifact-writing functions are
stubbed, so a query call only records the path it was handed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as e

#: query key -> (module, function) that receives the scratch path last
WRITERS = {
    "roll1_indexed_acf": (e.rlp, "roll1_indexed_acf"),
    "roll2_indexed_dow": (e.rlp, "roll2_indexed_dow"),
    "pcarec1_pca_recall_audit": (e.pca, "pcarec1_recall_audit"),
    "adrec1_distinct_error_audit": (e.ska, "adrec1_distinct_error_audit"),
    "pxrec1_percentile_rank_audit": (e.ska, "pxrec1_percentile_rank_audit"),
    "hllrec1_merge_error_audit": (e.ska, "hllrec1_merge_error_audit"),
    "mgrec1_heavy_hitter_audit": (e.ska, "mgrec1_heavy_hitter_audit"),
    "hll2_overlap_audit": (e.ska, "hll2_overlap_audit"),
    "audlog1_batch_audit_log": (e.alog, "audlog1_batch_audit_log"),
    "cms1_countmin_audit": (e.ska, "cms1_countmin_audit"),
}
e.load_table = lambda spark, sf_dir, name: None
seen = {}
for key, (mod, fn) in WRITERS.items():
    setattr(mod, fn, lambda *args, _k=key: seen.__setitem__(_k, args[-1]))

queries, oracles = e.queries(), e.oracle_sql()
root = e._scratch_root(os.getpid())
built_nothing = not os.path.exists(root)
for key in WRITERS:
    queries[key](None, "unused")
# what a query's write does: create its artifact under the root
os.makedirs(seen["pcarec1_pca_recall_audit"])
print(json.dumps({
    "root": root,
    "built_nothing": built_nothing,
    "paths": seen,
    "oracle_names_path": {k: seen[k] in oracles[k] for k in WRITERS},
}))
"""


def test_scratch_paths_are_per_process_and_removed_at_exit(tmp_path):
    procs = []
    for side in ("a", "b"):
        tmp = tmp_path / side
        tmp.mkdir()
        env = {**os.environ, "TMPDIR": str(tmp)}
        procs.append((str(tmp), subprocess.Popen(
            [sys.executable, "-c", CHILD, ROOT],
            env=env, stdout=subprocess.PIPE, text=True,
        )))
    results = []
    for tmp, p in procs:
        out, _ = p.communicate(timeout=120)
        assert p.returncode == 0
        results.append((tmp, json.loads(out.strip().splitlines()[-1])))

    (tmp_a, a), (tmp_b, b) = results
    assert a["root"] != b["root"]
    for tmp, r in results:
        assert r["built_nothing"], "building queries()/oracle_sql() created the root"
        assert os.path.dirname(r["root"]) == tmp
        assert len(set(r["paths"].values())) == 9  # roll1/roll2 share the rollup
        assert all(os.path.dirname(p) == r["root"] for p in r["paths"].values())
        # roll1/roll2's oracles recompute from raw events; the other
        # eight read the artifact their query wrote
        assert {k for k, ok in r["oracle_names_path"].items() if not ok} == {
            "roll1_indexed_acf",
            "roll2_indexed_dow",
        }
        assert not os.path.exists(r["root"]), "scratch root survived exit"
