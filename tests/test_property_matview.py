"""Model-based property test: a Bloom filter has NO false negatives for
any key set (the structural guarantee; false positives are allowed and
bounded elsewhere)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from csv_crm_upload_spark.operators.bloom import build_bloom


@given(
    keys=st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=200, unique=True),
    bits=st.sampled_from([4, 10, 16]),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bloom_never_false_negative(spark, keys, bits):
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    bf = build_bloom(df, F.col("k"), bits_per_key=bits)
    assert bf.prune(df, F.col("k")).count() == len(keys)
