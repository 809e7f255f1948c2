"""Sinks: where an import lands (≈ ParquetImporter::flushBatch).

The reference has exactly two: Postgres COPY (fast path,
ParquetImporter.php:98-121) and batched INSERT fallback (:123-125).
Here, one class per sink kind of config.SINK_KINDS:
  * CopySink      — parallel per-partition COPY FROM STDIN (the scale
                    fast path: Arrow batches in, one write per batch
                    transaction; psycopg or the stdlib pg_wire client)
                    — sink "copy"
  * InsertSink    — the same Arrow hand-off and per-partition batch
                    loop, each batch one multi-row INSERT of VALUES
                    tuples rendered in the JVM (sinks/insert_pg.py);
                    sink "pg" probes the connection and picks CopySink
                    or this
  * DuckDbSink    — driver-side batched INSERT into a local DuckDB
                    file; exercises the full normalize/batch/truncate
                    surface hermetically in tests — "duckdb"
  * FileSink      — partitioned/bucketed file lake — "file"
"""

from parquet_to_sql_spark.sinks.copy_pg import CopySink
from parquet_to_sql_spark.sinks.duckdb_sink import DuckDbSink
from parquet_to_sql_spark.sinks.files import FileSink

__all__ = ["CopySink", "DuckDbSink", "FileSink"]
