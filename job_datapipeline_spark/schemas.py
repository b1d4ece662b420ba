"""Explicit StructType schemas (schema-on-write; no inference in prod paths).

The reference declares the 15-column jobs schema by hand in its Spark variant
(glassdoor-scraper/src/main.py:125-139) and as ordered column lists in the
pandas variants (main_pd.py:110-113). We keep that discipline for every table.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


# Driver testdata tables (/root/testdata/sf*/, TESTDATA.md). Parquet stores
# naive timestamps -> TimestampNTZ so semantics match the DuckDB oracle.
REGION = StructType([_f("r_regionkey", IntegerType()), _f("r_name", StringType())])
NATION = StructType(
    [
        _f("n_nationkey", IntegerType()),
        _f("n_name", StringType()),
        _f("n_regionkey", IntegerType()),
    ]
)
CUSTOMER = StructType(
    [
        _f("c_custkey", LongType()),
        _f("c_name", StringType()),
        _f("c_nationkey", IntegerType()),
        _f("c_acctbal", DoubleType()),
        _f("c_mktsegment", StringType()),
    ]
)
SUPPLIER = StructType(
    [
        _f("s_suppkey", LongType()),
        _f("s_name", StringType()),
        _f("s_nationkey", IntegerType()),
        _f("s_acctbal", DoubleType()),
    ]
)
PART = StructType(
    [
        _f("p_partkey", LongType()),
        _f("p_name", StringType()),
        _f("p_brand", StringType()),
        _f("p_type", StringType()),
        _f("p_size", IntegerType()),
        _f("p_retailprice", DoubleType()),
    ]
)
ORDERS = StructType(
    [
        _f("o_orderkey", LongType()),
        _f("o_custkey", LongType()),
        _f("o_orderstatus", StringType()),
        _f("o_totalprice", DoubleType()),
        _f("o_orderdate", TimestampNTZType()),
        _f("o_orderpriority", StringType()),
    ]
)
LINEITEM = StructType(
    [
        _f("l_orderkey", LongType()),
        _f("l_partkey", LongType()),
        _f("l_suppkey", LongType()),
        _f("l_linenumber", IntegerType()),
        _f("l_quantity", DoubleType()),
        _f("l_extendedprice", DoubleType()),
        _f("l_discount", DoubleType()),
        _f("l_tax", DoubleType()),
        _f("l_returnflag", StringType()),
        _f("l_linestatus", StringType()),
        _f("l_shipdate", TimestampNTZType()),
    ]
)
EVENTS = StructType(
    [
        _f("event_id", LongType()),
        _f("ts", TimestampNTZType()),
        _f("user_id", LongType()),
        _f("event_type", StringType()),
        _f("value", DoubleType()),
        _f("props", StringType()),
    ]
)
DOCUMENTS = StructType(
    [
        _f("doc_id", LongType()),
        _f("text", StringType()),
        _f("lang", StringType()),
        _f("source", StringType()),
        _f("n_chars", LongType()),
    ]
)
EMBEDDINGS = StructType(
    [
        _f("vec_id", LongType()),
        _f("embedding", ArrayType(FloatType())),
        _f("label", IntegerType()),
    ]
)

TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
