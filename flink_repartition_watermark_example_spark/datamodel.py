"""Explicit schemas (SURVEY §1.3).

The reference's schema system is compile-time case classes
(Pageview.scala:8-11, WindowAggregate.scala:8-12); we mirror that with
explicit StructTypes — never ``inferSchema``.  Parquet files carry their
own (authoritative) schema; these structs document the contract and are
used to validate loads and to construct synthetic frames in tests.

``TABLE_SCHEMAS`` is not the read schema of the test tables:
``sources.tables.table_schema`` reads the files' own schema (once per
session).  The files store ``l_shipdate``, ``o_orderdate`` and
``events.ts`` as timestamps without a zone, which Spark reads as
``timestamp_ntz`` where the declared schemas say ``timestamp``; reading
with the declared schema would change the type of every query over
those columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Reference input record (Pageview.scala:8-11): url / timestamp / eventId.
PAGEVIEW_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("event_id", T.StringType(), False),
    ]
)

# Reference output record (WindowAggregate.scala:8-12): aggregate +
# key + half-open window bounds, stamped at emission
# (WindowAggregate.scala:36-37).
WINDOW_AGGREGATE_SCHEMA = T.StructType(
    [
        T.StructField("window_start", T.TimestampType(), False),
        T.StructField("window_end", T.TimestampType(), False),
        T.StructField("key", T.StringType(), True),
        T.StructField("aggregate", T.LongType(), False),
    ]
)

# Driver test tables (/root/testdata/sf*/; FIXTURES.md §B).
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES = tuple(TABLE_SCHEMAS)

# Dimension tables small enough to broadcast at any realistic scale —
# join planners in operators/ hint these explicitly.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})
