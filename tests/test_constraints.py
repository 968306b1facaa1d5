"""Privacy constraint: l-diversity flags only the homogeneous groups."""

from __future__ import annotations


def test_l_diversity_flags_homogeneous_groups_only(spark):
    """anon2: a band whose members all share one segment is flagged with
    n_sensitive = 1; a band covering three segments is not flagged."""
    from csv_crm_upload_spark.analytics.tpch import anon2_l_diversity

    rows = [
        # band 0: three customers, ONE segment -> flagged
        (1, "a", 0, 100.0, "BUILDING"),
        (2, "b", 0, 200.0, "BUILDING"),
        (3, "c", 0, 300.0, "BUILDING"),
        # band 1000: three customers, three segments -> diverse
        (4, "d", 0, 1100.0, "BUILDING"),
        (5, "e", 0, 1200.0, "AUTOMOBILE"),
        (6, "f", 0, 1300.0, "MACHINERY"),
    ]
    cust = spark.createDataFrame(
        rows, ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    )
    out = anon2_l_diversity(cust, l=3).collect()
    assert len(out) == 1
    assert out[0]["balance_band"] == 0 and out[0]["n_sensitive"] == 1
