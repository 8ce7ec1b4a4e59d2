"""File sources beyond parquet: CSV and JSON(L) batch readers.

The reference has no file connectors at all (build.sbt:3-8 — in-memory
source only); the engine provides the standard lake formats.  Schema is
always explicit (SURVEY §1.3: the reference's schemas are compile-time;
``inferSchema`` would also mean an extra full pass over 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    **options: str,
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .options(header=str(header).lower(), **options)
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType, **options: str
) -> DataFrame:
    return spark.read.schema(schema).options(**options).json(path)

