"""Core-scaling measurement mode (round-13 verdict ask #6).

The official bench's 8-vs-32-core headline ratios sit at ~1.0-1.6 not
because the plans are serial but because the testdata parquet is written
as ONE row group per table (scan parallelism 1-3 tasks) and the sf0.1
absolutes are fixed-overhead floors. This tool separates the question
"do the plans parallelize?" from the official record:

  1. UNTIMED setup: copy the sf dir into a tempdir, rewriting the two
     large tables (lineitem, events) into 64-file copies (same rows —
     a deterministic repartition of the same parquet input, nothing
     precomputed or reused across runs) so scans plan real map
     parallelism; optionally replicate rows `--amplify N` times with
     shifted keys so per-query compute rises above the scheduler floor
     (amplified data is for SCALING ratios only — results are not
     oracle-comparable and never touch the official bench).
  2. For each core count (default 32 and 8), run the scan-heavy headline
     queries over that copy in a fresh subprocess (master comes from
     SPARK_GRAFT_CPUS exactly like bench.py) with bench.py's timing
     method (cold + median-of-3 warm, agg-count drain).
  3. Print one JSON line with per-query seconds per core count and the
     warm scaling ratios (low-core ÷ high-core).

Usage:
  python tools/scaling_bench.py                 # orchestrate: 32 vs 8
  python tools/scaling_bench.py --amplify 8     # heavier rows for ratios
  SPARK_GRAFT_CPUS=8 python tools/scaling_bench.py --run <dir>  # one side
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, TABLES, warm_up

#: the scan-heavy headline queries (q3/q5/dd_* read documents, which
#: stays single-file; the two dd_* entries are kept to show their
#: shuffle stages scale even when the scan side does not)
QUERIES = [n for n in HEADLINE if n != "sim_knn_bruteforce"]

SPLIT_TABLES = {"lineitem": 64, "events": 64, "orders": 64, "documents": 32}


def prepare(sf_dir: str, out_dir: str, amplify: int) -> None:
    """Untimed setup: multi-file (→ multi-task) copies of the large
    tables, plain copies of the rest. `amplify` unions N key-shifted
    copies of the large tables so per-task compute dominates scheduling
    overhead — used ONLY for scaling ratios, never for results."""
    from pyspark.sql import functions as F

    from csv_crm_upload_spark.session import get_spark

    spark = get_spark(app_name="scaling-prep")
    spark.sparkContext.setLogLevel("ERROR")
    key_cols = {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "events": ["event_id"],
        "documents": ["doc_id"],
    }
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        dst = os.path.join(out_dir, f"{t}.parquet")
        n_files = SPLIT_TABLES.get(t)
        if n_files is None:
            shutil.copyfile(src, dst)
            continue
        df = spark.read.parquet(src)
        if amplify > 1 and t in key_cols:
            base = df
            span = 10_000_000_000
            parts = [base]
            for i in range(1, amplify):
                shifted = base
                for kc in key_cols[t]:
                    if kc in base.columns:
                        shifted = shifted.withColumn(
                            kc, F.col(kc) + F.lit(i * span)
                        )
                parts.append(shifted)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            df = out
        df.repartition(n_files).write.mode("overwrite").parquet(dst)
    spark.stop()


def run_side(data_dir: str) -> dict:
    """One core-count side, bench.py methodology, in THIS process
    (master fixed by SPARK_GRAFT_CPUS at session creation)."""
    import __spark_entry__ as entrymod
    from csv_crm_upload_spark.session import get_spark

    spark = get_spark(app_name="scaling-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    warm_up(spark, data_dir, queries)
    rec: dict = {"cpus": spark.sparkContext.defaultParallelism, "cold": {}, "warm": {}}
    for name in QUERIES:
        fn = queries[name]
        t0 = time.perf_counter()
        fn(spark, data_dir).agg({"*": "count"}).collect()
        rec["cold"][name] = round(time.perf_counter() - t0, 3)
        samples = []
        for _ in range(3):
            t1 = time.perf_counter()
            fn(spark, data_dir).agg({"*": "count"}).collect()
            samples.append(round(time.perf_counter() - t1, 3))
        rec["warm"][name] = sorted(samples)[1]
    return rec


def main() -> None:
    if "--run" in sys.argv:
        data_dir = sys.argv[sys.argv.index("--run") + 1]
        print("SCALING_SIDE " + json.dumps(run_side(data_dir)))
        return
    amplify = (
        int(sys.argv[sys.argv.index("--amplify") + 1])
        if "--amplify" in sys.argv
        else 1
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    work = tempfile.mkdtemp(prefix="scaling_bench_")
    try:
        prepare(sf_dir, work, amplify)
        # the sandbox host shows multi-minute 2-6x speed swings, so a
        # single run per side confounds core count with host phase:
        # INTERLEAVE the sides (32, 8, 32, 8) and take each query's
        # per-side MINIMUM — a stall inflates one pass, never both
        runs: dict[int, list[dict]] = {32: [], 8: []}
        for cpus in (32, 8, 32, 8):
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--run", work],
                env=env,
                capture_output=True,
                text=True,
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            )
            line = [
                ln for ln in out.stdout.splitlines() if ln.startswith("SCALING_SIDE ")
            ]
            if not line:
                print(out.stdout[-2000:], file=sys.stderr)
                print(out.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"cpus={cpus} side failed")
            runs[cpus].append(json.loads(line[-1][len("SCALING_SIDE "):]))
        sides = {
            cpus: {
                "cpus": cpus,
                "cold": {
                    n: min(r["cold"][n] for r in rs) for n in QUERIES
                },
                "warm": {
                    n: min(r["warm"][n] for r in rs) for n in QUERIES
                },
                "n_runs": len(rs),
            }
            for cpus, rs in runs.items()
        }
        ratios = {
            n: round(sides[8]["warm"][n] / sides[32]["warm"][n], 2)
            for n in QUERIES
            if sides[32]["warm"].get(n)
        }
        print(
            json.dumps(
                {
                    "metric": "core_scaling_multifile",
                    "amplify": amplify,
                    "split_files": SPLIT_TABLES,
                    "sides": sides,
                    "warm_ratio_8_over_32": ratios,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
