"""Fixture-table catalog: load driver test tables as DataFrames.

The reference discovers schema at runtime from the Parquet footer
(Readers/CodercatParquetRowReader.php:28-47); Spark does the same but
typed, via sources.parquet.read_parquet (footer schema inferred once
per file signature). The one impedance mismatch is the
`events` table's `ts` column, which the driver has generated in two
shapes across rounds:
  * TIMESTAMP(NANOS) — no native Spark type; with
    spark.sql.legacy.parquet.nanosAsLong we read raw nanos and
    truncate to microseconds;
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark infers
    TIMESTAMP_NTZ; we cast to TimestampType (session tz is pinned
    UTC, so the naive wall-clock maps to the same epoch micros).
Both normalize to a session-UTC TimestampType identical to DuckDB's
TIMESTAMP view of the same file, so oracle comparisons line up and
epoch-extraction functions (unix_micros) resolve.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from parquet_to_sql_spark.session import apply_runtime_confs
from parquet_to_sql_spark.sources.parquet import read_parquet

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; `events.ts` becomes a proper timestamp.

    Column pruning and predicate pushdown stay intact: the ts
    conversion is a projection on top of the scan, and Catalyst pushes
    filters on other columns through it.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    df = read_parquet(spark, table_path(sf_dir, name), apply_runtime_confs(spark))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos -> micros truncation (matches DuckDB CAST(ts AS TIMESTAMP))
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # micros NTZ -> session-UTC timestamp (same epoch value)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register every fixture table as a temp view for spark.sql()."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
