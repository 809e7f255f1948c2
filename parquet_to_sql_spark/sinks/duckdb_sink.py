"""DuckDB sink: a real, hermetically-testable SQL target.

Plays the role of the reference's INSERT fallback
(ParquetImporter.php:123-125) against an embedded database, so the
whole import surface — projection/rename, normalization, batching,
truncate, identifier checks — runs end-to-end in tests without a
Postgres server.

DuckDB is single-writer, so rows stream through the driver via
toLocalIterator (bounded memory: one partition at a time). That makes
this sink a correctness harness, not the scale path — CopySink and
InsertSink are the cluster sinks; this one exists so the reference's
"fallback INSERT" behaviors (tests/ParquetImporterTest.php:78-119)
stay pinned by executable tests.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import DataFrame

from parquet_to_sql_spark.config import DEFAULT_BATCH_SIZE
from parquet_to_sql_spark.identifiers import (
    assert_safe_column_names,
    assert_safe_table_name,
    quote_identifier,
)
from parquet_to_sql_spark.normalize import normalize_for_insert


class DuckDbSink:
    def __init__(self, database: str, batch_size: int = DEFAULT_BATCH_SIZE):
        self.database = database
        self.batch_size = batch_size

    def _prepare(self, df: DataFrame, table: str):
        """Shared preamble: identifier checks, normalization, and the
        INSERT statement — one definition for both write paths."""
        assert_safe_table_name(table)
        assert_safe_column_names(df.columns)
        normalized = normalize_for_insert(df)
        quoted = quote_identifier(table)
        col_list = ", ".join(quote_identifier(c) for c in normalized.columns)
        placeholders = ", ".join("?" for _ in normalized.columns)
        insert = f"INSERT INTO {quoted} ({col_list}) VALUES ({placeholders})"
        return normalized, quoted, insert

    def _insert_batches(self, con, insert: str, normalized: DataFrame) -> int:
        """Stream rows through the driver in batch_size executemany
        calls; shared by write() and the exactly-once path so the
        batching logic cannot diverge between them."""
        written = 0
        batch: list[tuple] = []
        for row in normalized.toLocalIterator():
            batch.append(tuple(row))
            if len(batch) >= self.batch_size:
                con.executemany(insert, batch)
                written += len(batch)
                batch = []
        if batch:
            con.executemany(insert, batch)
            written += len(batch)
        return written

    def write(self, df: DataFrame, table: str, truncate: bool = False) -> int:
        """Write and return the number of rows actually inserted."""
        normalized, quoted, insert = self._prepare(df, table)
        con = duckdb.connect(self.database)
        try:
            if truncate:
                con.execute(f"TRUNCATE {quoted}")
            return self._insert_batches(con, insert, normalized)
        finally:
            con.close()

    def write_idempotent(self, df: DataFrame, table: str, batch_id: int) -> int:
        """Write one streaming micro-batch EXACTLY ONCE: the rows and a
        `<table>_applied_batches` ledger row commit in a single
        transaction, so a batch replayed after a crash (Structured
        Streaming re-runs the last uncommitted batch with the SAME
        batch_id and offsets) either fully landed — ledger hit, the
        whole batch is skipped — or fully rolled back and is re-applied.
        This is the transactional-sink half of the foreachBatch
        exactly-once contract; the source half is the stream's
        checkpoint.  Returns rows written (0 for a skipped replay)."""
        normalized, _quoted, insert = self._prepare(df, table)
        ledger = quote_identifier(f"{table}_applied_batches")
        con = duckdb.connect(self.database)
        try:
            con.execute(
                f"CREATE TABLE IF NOT EXISTS {ledger} (batch_id BIGINT PRIMARY KEY)"
            )
            con.execute("BEGIN TRANSACTION")
            try:
                already = con.execute(
                    f"SELECT 1 FROM {ledger} WHERE batch_id = ?", [batch_id]
                ).fetchone()
                if already:
                    con.execute("ROLLBACK")
                    return 0
                written = self._insert_batches(con, insert, normalized)
                con.execute(f"INSERT INTO {ledger} VALUES (?)", [batch_id])
                con.execute("COMMIT")
            except Exception:
                con.execute("ROLLBACK")
                raise
        finally:
            con.close()
        return written
