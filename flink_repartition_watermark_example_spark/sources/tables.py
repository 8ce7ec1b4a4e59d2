"""Batch parquet sources.

The reference's only source is an in-memory parallel collection
(SplittableIteratorFromSeqs.scala:8-11, wired Main.scala:22); the engine
generalizes to parquet scans.  Scale notes:

- Loads are ``spark.read.schema(table_schema(...)).parquet`` so
  Catalyst keeps predicate pushdown / column pruning / partition
  pruning — callers filter and select on the returned DataFrame and
  the scan narrows automatically (verify with ``.explain``:
  PushedFilters / ReadSchema).
- A schema-less read runs a footer-reading Spark job to infer the
  schema, on every call.  :func:`table_schema` infers it once per
  table per session (an ``artifacts`` entry keyed by the table's file
  fingerprint), so a table read after its first touch launches no job;
  a rewritten file or a new session infers again.  The schema is the
  one Spark infers, not ``datamodel.TABLE_SCHEMAS``: Spark reads the
  date columns as ``timestamp_ntz`` where the declared schemas say
  ``timestamp``.
- No ``.cache()`` here: at 100 TB caching a scan is a regression, and
  AQE already reuses exchanges within a query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_repartition_watermark_example_spark import artifacts
from flink_repartition_watermark_example_spark.datamodel import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The schema Spark infers for one test table's files, inferred
    once per session and file fingerprint."""
    path = _path(sf_dir, name)
    # events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
    # reader rejects; read nanos as long (set before every read, not
    # only the inferring one).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return artifacts.get_or_build(
        spark,
        artifacts.table_key("table_schema", sf_dir, name),
        lambda: spark.read.parquet(path).schema,
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table, e.g. ``load_table(spark, sf_dir, "lineitem")``."""
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(_path(sf_dir, name))
    # int64 nanos rescale to microseconds with integer division (double
    # division would lose precision — 2024-epoch nanos ≈ 1.7e18 exceeds
    # a double's 53-bit mantissa).
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works on the
    same names the DuckDB oracle uses."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
