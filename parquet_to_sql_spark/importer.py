"""The import pipeline — parity with ParquetImporter::import()
(ParquetImporter.php:28-76), Spark-first.

Reference pipeline (SURVEY.md §3): validate -> bind scan -> resolve
columns through columnMap -> optional TRUNCATE -> stream/project/
normalize/batch -> sink -> ImportResult. Here each stage maps to:

  validate       identifiers.assert_safe_* (same regexes)
  bind scan      a Source (ParquetSource by default), or any DataFrame
  project/rename one select() with aliases (projectRow parity,
                 ParquetImporter.php:78-88) — Catalyst prunes the scan
                 to exactly the projected columns
  normalize      normalize.py Column expressions (vectorized)
  batch          sink-level: partitions × batch_size rows per
                 transaction (the reference's 5000-row loop,
                 ParquetImporter.php:56-71, parallelized)
  truncate       sink-level (ParquetImporter.php:50-52)
  result         ImportResult (src/ImportResult.php)
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from parquet_to_sql_spark.identifiers import (
    assert_safe_column_names,
    assert_safe_table_name,
)
from parquet_to_sql_spark.result import ImportResult
from parquet_to_sql_spark.sources.parquet import ParquetSource


def project_rename(df: DataFrame, column_map: dict[str, str] | None) -> DataFrame:
    """projectRow parity (ParquetImporter.php:78-88): every source
    column is kept, emitted under columnMap[src] if mapped, else its
    own name. One select -> one narrow projection in the plan."""
    column_map = column_map or {}
    return df.select(
        *[F.col(c).alias(column_map.get(c, c)) for c in df.columns]
    )


class Importer:
    """≈ ParquetImporter (construction mirrors the DI wiring in
    ParquetToSqlServiceProvider.php:14-20: a sink plays 'connection')."""

    def __init__(self, spark: SparkSession, sink):
        self.spark = spark
        self.sink = sink

    def import_(
        self,
        path: str | None,
        table: str,
        column_map: dict[str, str] | None = None,
        reader=None,
        truncate: bool = False,
    ) -> ImportResult:
        """Import a Parquet path (or any injected reader/source) into
        `table`. Signature parity: ParquetImporter.php:28-34."""
        started = time.monotonic()
        assert_safe_table_name(table)
        if reader is None and path is None:
            raise ValueError("import_ needs a path or an injected reader")
        source = reader if reader is not None else ParquetSource(self.spark, path)
        df = source.load() if hasattr(source, "load") else source
        if not df.columns:
            raise RuntimeError(f"No columns discovered in source {path!r}")
        projected = project_rename(df, column_map)
        assert_safe_column_names(projected.columns)

        # Sinks report rows ACTUALLY written (CopySink / InsertSink:
        # per-partition committed counts summed on the driver;
        # DuckDbSink: insert count) — no second source scan, and the count
        # reflects what landed, not what the source holds.
        written = self.sink.write(projected, table, truncate=truncate)
        if written is not None:
            rows = int(written)
        else:
            # legacy/user sink without row accounting: fall back to a
            # source count (cheap for Parquet — footer statistics)
            rows = df.count()
        return ImportResult(
            source_path=path or "<dataframe>",
            table=table,
            rows_imported=rows,
            duration_seconds=time.monotonic() - started,
        )
