r"""Postgres bulk-INSERT sink — the capability fallback, live.

Reference parity: when the PDO driver lacks ``pgsqlCopyFromArray``
the reference switches the SAME flush loop to a multi-row bulk
INSERT through the query builder (ParquetImporter.php:98,123-125,
documented README.md:70), with ``normalizeValue`` applied per value
(:181-202).  This sink is that path over a real Postgres socket.  The
JVM renders every row to its ``(v1, v2, ...), `` VALUES tuple
(normalize.sql_literal — nested -> JSON text, timestamps -> the
reference's ``Y-m-d H:i:s.uP`` render, the twin of COPY's
copy_value), and the rows reach each writer exactly as COPY lines do:
Arrow batches of one string column (copy_pg.run_writers), cut into
``batch_size`` transactions with ``SET LOCAL statement_timeout``.  A
transaction sends the statement head plus its rows' byte range, the
last separator dropped — the same batching/transaction contract as
the COPY fast path, just a slower wire encoding.

``choose_sink`` reproduces the reference's runtime capability
detection: probe one connection, use COPY when the cursor exposes a
``copy`` method, fall back to INSERT otherwise.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_to_sql_spark.config import DEFAULT_BATCH_SIZE, DEFAULT_COPY_TIMEOUT
from parquet_to_sql_spark.identifiers import quote_identifier
from parquet_to_sql_spark.normalize import sql_literal
from parquet_to_sql_spark.sinks.copy_pg import (
    CopySink,
    PgBatchSink,
    _default_connection_factory,
    batch_partition,
)

_SEP = ", "


def render_insert(df: DataFrame) -> DataFrame:
    """Each row as its VALUES tuple followed by the separator, in the
    JVM: the one ``line`` column holds ``(v1, v2, ...), ``."""
    values = [sql_literal(F.col(f.name), f.dataType) for f in df.schema.fields]
    return df.select(
        F.concat(F.lit("("), F.concat_ws(_SEP, *values), F.lit(")" + _SEP)).alias("line")
    )


def insert_partition(
    batches: Iterable[pa.RecordBatch],
    *,
    dsn: str,
    table: str,
    columns: list[str],
    batch_size: int,
    timeout_s: int,
    connection_factory: Callable[[str], object],
) -> int:
    """Write one partition's rendered tuples via multi-row INSERTs, one
    statement per batch_size-row transaction (batch_partition, with the
    reference's :123-125 fallback body).  Returns rows COMMITTED."""
    head = (
        f"INSERT INTO {quote_identifier(table)} "
        f"({', '.join(quote_identifier(c) for c in columns)}) VALUES "
    )

    def send(cur, data) -> None:
        # sql_literal's quote-doubling framing requires it; a
        # server/pooler configured with scs=off would otherwise
        # let a trailing backslash escape the closing quote
        cur.execute("SET LOCAL standard_conforming_strings = on")
        cur.execute(head + str(memoryview(data)[: -len(_SEP)], "utf-8"))

    return batch_partition(
        batches, dsn=dsn, batch_size=batch_size,
        timeout_s=timeout_s, connection_factory=connection_factory, send=send,
        command="INSERT",
    )


class InsertSink(PgBatchSink):
    """Bulk-INSERT sink with the CopySink ``write``/truncate surface."""

    render = staticmethod(render_insert)
    write_partition = staticmethod(insert_partition)


def supports_copy(conn) -> bool:
    """The reference's capability probe (method_exists($pdo,
    'pgsqlCopyFromArray'), ParquetImporter.php:98), translated: does
    this connection's cursor expose the COPY protocol?  Any of the
    known driver spellings counts — `copy` (psycopg3 / pg_wire) or
    `copy_expert`/`copy_from` (psycopg2) — so a psycopg2 connection
    doesn't silently degrade to the slow INSERT path; the probe
    cursor is closed either way."""
    try:
        cur = conn.cursor()
    except Exception:
        return False
    try:
        return any(
            hasattr(cur, m) for m in ("copy", "copy_expert", "copy_from")
        )
    finally:
        try:
            cur.close()
        except Exception:
            pass


def choose_sink(
    dsn: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    timeout_s: int = DEFAULT_COPY_TIMEOUT,
    connection_factory: Callable[[str], object] | None = None,
):
    """Probe one connection and return CopySink when COPY is
    available, InsertSink otherwise — degrade, don't fail
    (README.md:70)."""
    factory = connection_factory or _default_connection_factory
    conn = factory(dsn)
    try:
        has_copy = supports_copy(conn)
    finally:
        conn.close()
    cls = CopySink if has_copy else InsertSink
    return cls(dsn, batch_size=batch_size, timeout_s=timeout_s, connection_factory=factory)
