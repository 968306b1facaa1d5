"""cluster_for_write: every partition value of a skewed frame is
written as exactly one file."""

from __future__ import annotations

import glob
import os

from csv_crm_upload_spark.analytics.fanout import cluster_for_write


def _mk_skewed(spark):
    # 900 rows in bucket 0, ~10 in each of buckets 1..10
    rows = [(i, 0 if i < 900 else 1 + (i % 10)) for i in range(1000)]
    return spark.createDataFrame(rows, "id long, b int")


def _files_per_bucket(path):
    out = {}
    for d in glob.glob(os.path.join(path, "b=*")):
        out[int(d.rsplit("=", 1)[1])] = len(glob.glob(os.path.join(d, "*.parquet")))
    return out


def test_default_one_file_per_bucket(spark, tmp_path):
    df = _mk_skewed(spark)
    out = str(tmp_path / "plain")
    cluster_for_write(df, "b").write.partitionBy("b").parquet(out)
    files = _files_per_bucket(out)
    assert set(files) == set(range(11))
    assert all(n == 1 for n in files.values()), files

