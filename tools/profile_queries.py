"""Per-query profiling harness (optimization round): times each named
query end-to-end (construction + noop-sink execution), and records the
Spark job/stage counts the run generated plus the formatted plan.

Usage: python tools/profile_queries.py out_dir name1 name2 ...
       python tools/profile_queries.py out_dir --headline
Writes <out>/<name>.json  {construct_sec, exec_sec, jobs, stages, tasks}
and    <out>/<name>_plan.txt (explain formatted).

Timing method: noop sink (guide §1.4) so the computation is timed, not
the sink; construction is timed separately because several queries run
bounded Spark jobs at construction time (prefix-sum offsets, fit steps).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import HEADLINE, warm_up
from csv_crm_upload_spark.session import get_spark


def main() -> None:
    out_dir = sys.argv[1]
    names = sys.argv[2:]
    if names == ["--headline"]:
        names = HEADLINE
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    warm_up(spark, sf_dir, queries)

    def n_jobs() -> int:
        return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    for name in names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        n_jobs0 = n_jobs()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        n_jobs1 = n_jobs()
        # warm re-run (construction + execution again, plans cached by JVM)
        t3 = time.perf_counter()
        df2 = fn(spark, sf_dir)
        df2.write.format("noop").mode("overwrite").save()
        t4 = time.perf_counter()
        n_jobs2 = n_jobs()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        rec = {
            "construct_sec": round(t1 - t0, 3),
            "exec_sec": round(t2 - t1, 3),
            "total_cold_sec": round(t2 - t0, 3),
            "warm_sec": round(t4 - t3, 3),
            "jobs_cold": n_jobs1 - n_jobs0,
            "jobs_warm": n_jobs2 - n_jobs1,
            "n_exchanges": plan.count("Exchange"),
            "n_python": plan.count("EvalPython") + plan.count("MapInPandas"),
        }
        with open(os.path.join(out_dir, f"{name}.json"), "w") as f:
            json.dump(rec, f, indent=1)
        with open(os.path.join(out_dir, f"{name}_plan.txt"), "w") as f:
            f.write(plan)
        print(name, json.dumps(rec))
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
