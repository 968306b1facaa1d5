"""Cross-PROCESS consistency for the epoch-versioned winnow index: a
second OS process (its own JVM) appends via update_winnow_index (the
CLI `winnow-build --append` path) while this process probes with
match_documents (`winnow-match`) — the manifest protocol is
filesystem-level, so the old-or-new guarantee must hold across
processes, not just threads (the threaded variant lives in
test_winnow_index.py)."""

from __future__ import annotations

import multiprocessing as mp
import os

from pyspark.sql import functions as F

from csv_crm_upload_spark.analytics import winnow as wn
from csv_crm_upload_spark.sources.tables import load_table


def _updater(idx: str, sf_dir: str, err_dir: str) -> None:
    import traceback

    try:
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F2

        from csv_crm_upload_spark.analytics import winnow as wn2
        from csv_crm_upload_spark.sources.tables import load_table as lt

        spark = (
            SparkSession.builder.master("local[2]")
            .appName(f"idx-updater-{os.getpid()}")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        try:
            part_b = lt(spark, sf_dir, "documents").filter(F2.col("doc_id") % 2 == 1)
            wn2.update_winnow_index(part_b, idx)
        finally:
            spark.stop()
    except BaseException:
        with open(os.path.join(err_dir, f"updater_{os.getpid()}.err"), "w") as f:
            traceback.print_exc(file=f)
        raise


def _probe(spark, idx, docs):
    return sorted(map(tuple, wn.match_documents(spark, idx, docs).collect()))


def test_cross_process_probe_sees_old_or_new(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    part_a = docs.filter(F.col("doc_id") % 2 == 0)
    idx = str(tmp_path / "xproc_idx")
    wn.save_winnow_index(part_a, idx, n_buckets=8)
    old = _probe(spark, idx, docs)

    ctx = mp.get_context("spawn")  # never fork a live JVM
    proc = ctx.Process(target=_updater, args=(idx, sf_dir, str(tmp_path)))
    proc.start()
    seen = []
    while proc.is_alive():
        seen.append(_probe(spark, idx, docs))
    proc.join(300)

    errs = [
        (tmp_path / n).read_text()[-2000:]
        for n in os.listdir(tmp_path)
        if n.endswith(".err")
    ]
    assert proc.exitcode == 0, f"updater failed\n{errs}"

    new = _probe(spark, idx, docs)
    assert new != old, "append must change results for this corpus split"
    bad = [i for i, s in enumerate(seen) if s != old and s != new]
    assert not bad, f"{len(bad)} probes saw a mixed snapshot (of {len(seen)})"
