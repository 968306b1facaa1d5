"""Explicit schemas for the customer CSV, the store and the testdata tables.

The reference addresses CSV columns positionally (reference
cmd/csvreader/csvreader.go:120-128) against a fixed Postgres DDL
(postgres/entrypoint-init.d/init-db.sh:11-21). We mirror that with
explicit StructTypes: the raw CSV schema keeps every field as string
(id is cast post-read so a bad id quarantines one row, not the file),
and the stored-table schema matches the DDL types.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# Raw CSV input: 5 positional columns, all strings pre-validation
# (reference cmd/csvreader/csvreader.go:109-129 parses to a 5-tuple).
CUSTOMER_CSV_SCHEMA = StructType(
    [
        StructField("id", StringType(), True),
        StructField("first_name", StringType(), True),
        StructField("last_name", StringType(), True),
        StructField("email", StringType(), True),
        StructField("phone", StringType(), True),
        StructField("_corrupt_record", StringType(), True),
    ]
)

# Stored table: mirrors DDL at reference init-db.sh:11-21.
CUSTOMER_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("first_name", StringType(), True),
        StructField("last_name", StringType(), True),
        StructField("email", StringType(), False),
        StructField("phone", StringType(), True),
        StructField("uploaded", BooleanType(), True),
        StructField("created_ts", TimestampType(), True),
        StructField("modified_ts", TimestampType(), True),
    ]
)

# The five business columns in CSV order: a clean batch, a quarantine row,
# the pending-upload set and the CRM payload each carry exactly these.
CUSTOMER_COLUMNS = CUSTOMER_SCHEMA.fieldNames()[:5]

# ---------------------------------------------------------------------------
# Driver testdata tables (TESTDATA.md): the read schema of every
# sources.tables.load_table, so no load infers one from footers. Each
# type is what inference yields on the generated files; their timestamps
# are zone-less microseconds, hence TimestampNTZType.
# ---------------------------------------------------------------------------
TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType(), True),
            StructField("r_name", StringType(), True),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType(), True),
            StructField("n_name", StringType(), True),
            StructField("n_regionkey", IntegerType(), True),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType(), True),
            StructField("c_name", StringType(), True),
            StructField("c_nationkey", IntegerType(), True),
            StructField("c_acctbal", DoubleType(), True),
            StructField("c_mktsegment", StringType(), True),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType(), True),
            StructField("s_name", StringType(), True),
            StructField("s_nationkey", IntegerType(), True),
            StructField("s_acctbal", DoubleType(), True),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType(), True),
            StructField("p_name", StringType(), True),
            StructField("p_brand", StringType(), True),
            StructField("p_type", StringType(), True),
            StructField("p_size", IntegerType(), True),
            StructField("p_retailprice", DoubleType(), True),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType(), True),
            StructField("o_custkey", LongType(), True),
            StructField("o_orderstatus", StringType(), True),
            StructField("o_totalprice", DoubleType(), True),
            StructField("o_orderdate", TimestampNTZType(), True),
            StructField("o_orderpriority", StringType(), True),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType(), True),
            StructField("l_partkey", LongType(), True),
            StructField("l_suppkey", LongType(), True),
            StructField("l_linenumber", IntegerType(), True),
            StructField("l_quantity", DoubleType(), True),
            StructField("l_extendedprice", DoubleType(), True),
            StructField("l_discount", DoubleType(), True),
            StructField("l_tax", DoubleType(), True),
            StructField("l_returnflag", StringType(), True),
            StructField("l_linestatus", StringType(), True),
            StructField("l_shipdate", TimestampNTZType(), True),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("ts", TimestampNTZType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
            StructField("lang", StringType(), True),
            StructField("source", StringType(), True),
            StructField("n_chars", LongType(), True),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType(), True),
            StructField("embedding", ArrayType(FloatType()), True),
            StructField("label", IntegerType(), True),
        ]
    ),
}
