"""Row-rule audits over the testdata tables: referential integrity with
a planted orphan."""

from __future__ import annotations


def test_referential_integrity_flags_planted_orphans(spark, sf_dir):
    """ri1 on the real tables plus a PLANTED orphan order (custkey that
    no customer has): exactly that relationship reports one orphan."""
    from pyspark.sql import functions as F

    from csv_crm_upload_spark.analytics.tpch import ri1_referential_integrity
    from csv_crm_upload_spark.sources.tables import load_table

    t = {n: load_table(spark, sf_dir, n)
         for n in ["customer", "orders", "lineitem", "part", "supplier", "nation"]}
    bad_key = t["customer"].agg(F.max("c_custkey")).collect()[0][0] + 1_000_000
    orphan = t["orders"].limit(1).withColumn("o_custkey", F.lit(bad_key))
    orders = t["orders"].unionByName(orphan)

    out = {r["relationship"]: r for r in ri1_referential_integrity(
        t["customer"], orders, t["lineitem"], t["part"], t["supplier"], t["nation"]
    ).collect()}
    assert out["orders.o_custkey->customer"]["n_orphans"] == 1
    assert out["orders.o_custkey->customer"]["n_child_rows"] == t["orders"].count() + 1
    for rel, r in out.items():
        if rel != "orders.o_custkey->customer":
            assert r["n_orphans"] == 0, rel
