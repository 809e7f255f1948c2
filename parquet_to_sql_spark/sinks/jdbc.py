"""JDBC INSERT sink — the portable fallback path.

Parity with the reference's bulk-INSERT fallback
(ParquetImporter.php:123-125, chosen when COPY is unavailable —
:98). Spark's JDBC writer already batches multi-row inserts
(`batchsize`) and runs one connection per partition, so the
reference's single-threaded 5000-row loop becomes N parallel writers
for free.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from parquet_to_sql_spark.config import DEFAULT_BATCH_SIZE
from parquet_to_sql_spark.identifiers import (
    assert_safe_column_names,
    assert_safe_table_name,
)
from parquet_to_sql_spark.normalize import normalize_nested_only


class JdbcSink:
    def __init__(
        self,
        url: str,
        properties: dict | None = None,
        batch_size: int = DEFAULT_BATCH_SIZE,
        num_writers: int | None = None,
    ):
        self.url = url
        self.properties = {str(k): str(v) for k, v in (properties or {}).items()}
        self.batch_size = batch_size
        self.num_writers = num_writers

    def write(self, df: DataFrame, table: str, truncate: bool = False) -> int:
        """Write and return the number of rows actually written.

        Nested array/struct/map columns are JSON-encoded first
        (normalizeValue parity, ParquetImporter.php:187-195) — Spark's
        JDBC writer throws on them raw.  The row count comes from an
        Observation on the write action itself, not a second scan.
        """
        assert_safe_table_name(table)
        assert_safe_column_names(list(df.columns))
        # JSON-encode ONLY nested columns (Spark's JDBC writer throws
        # on them raw); timestamps stay native — a typed writer binds
        # them correctly, whereas the reference-format string would be
        # rejected by typed TIMESTAMP columns (42804) or degrade
        # auto-created schemas to TEXT
        df = normalize_nested_only(df)
        if self.num_writers:
            df = df.repartition(self.num_writers)
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        props = dict(self.properties)
        props["batchsize"] = str(self.batch_size)
        if truncate:
            # TRUNCATE-then-append (ParquetImporter.php:50-52) maps to
            # Spark's overwrite+truncate: keeps the table, empties it.
            (
                df.write.mode("overwrite")
                .option("truncate", "true")
                .jdbc(self.url, table, properties=props)
            )
        else:
            df.write.mode("append").jdbc(self.url, table, properties=props)
        return int(obs.get["rows"])
