"""Explicit schemas for every table the engine touches.

The reference declares source schemas only as comments and reads columns by
position (/root/reference/src/main.rs:20,30,48 — a silent-corruption hazard
its SURVEY calls out). Here every table has a declared StructType. The
PRICECATCHER_* schemas are *verified* against each file's parquet footer
(sources.parquet.footer_schema) before plans.pipeline.build_tables reads
it, and the TESTDATA_* ones at read time (sources.parquet.load_table), so
upstream drift fails loudly instead of corrupting output.

Two families:
- PRICECATCHER_*: the reference's own data model (DDL src/main.rs:192-207).
- TESTDATA_*: the driver's TPC-H-ish fixtures (/root/testdata, TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# --- Reference data model (src/main.rs:192-207) -------------------------------

# prices: date,premise_code,item_code,price (src/main.rs:20,193)
PRICECATCHER_PRICES = StructType(
    [
        StructField("date", DateType()),
        StructField("premise_code", LongType()),
        StructField("item_code", LongType()),
        StructField("price", DoubleType()),
    ]
)

# premises: premise_code,premise,address,premise_type,state,district
# (src/main.rs:30,197); premise_code arrives float-typed (src/main.rs:33-36)
PRICECATCHER_PREMISES = StructType(
    [
        StructField("premise_code", LongType()),
        StructField("premise", StringType()),
        StructField("address", StringType()),
        StructField("premise_type", StringType()),
        StructField("state", StringType()),
        StructField("district", StringType()),
    ]
)

# items: item_code,item,unit,item_group,item_category (src/main.rs:48,203)
PRICECATCHER_ITEMS = StructType(
    [
        StructField("item_code", LongType()),
        StructField("item", StringType()),
        StructField("unit", StringType()),
        StructField("item_group", StringType()),
        StructField("item_category", StringType()),
    ]
)

# --- Driver testdata (TESTDATA.md; footer-verified) ---------------------------

TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampNTZType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampNTZType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}
