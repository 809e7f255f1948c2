r"""Postgres bulk-INSERT sink — the capability fallback, live.

Reference parity: when the PDO driver lacks ``pgsqlCopyFromArray``
the reference switches the SAME flush loop to a multi-row bulk
INSERT through the query builder (ParquetImporter.php:98,123-125,
documented README.md:70), with ``normalizeValue`` applied per value
(:181-202).  This sink is that path over a real Postgres socket:
rows are normalized DataFrame-side (normalize.normalize_for_insert —
nested -> JSON text, timestamps -> the reference's ``Y-m-d H:i:s.uP``
render), then each partition renders multi-row ``INSERT INTO ...
VALUES`` statements and commits them in ``batch_size`` transactions
with ``SET LOCAL statement_timeout`` — the same batching/transaction
contract as the COPY fast path, just a slower wire encoding.

``choose_sink`` reproduces the reference's runtime capability
detection: probe one connection, use COPY when the cursor exposes a
``copy`` method, fall back to INSERT otherwise.

Scale shape: identical to the COPY sink — one connection per
partition, no driver-side row iteration; only the per-row encoding
differs (SQL literals vs COPY text), which is exactly why COPY is
the fast path and this is the fallback.
"""

from __future__ import annotations

import math
from decimal import Decimal
from itertools import chain, islice
from typing import Callable, Iterable

from parquet_to_sql_spark.config import DEFAULT_BATCH_SIZE, DEFAULT_COPY_TIMEOUT
from parquet_to_sql_spark.identifiers import quote_identifier
from parquet_to_sql_spark.normalize import normalize_for_insert
from parquet_to_sql_spark.sinks.copy_pg import (
    PgBatchSink,
    _default_connection_factory,
    batch_partition,
)


def sql_literal(v) -> str:
    r"""Render one normalized value as a Postgres SQL literal.

    After normalize_for_insert the only types left are None, bool,
    int, float, Decimal, str (incl. JSON-rendered nested and
    reference-format timestamps), and bytes for BinaryType.  Strings
    escape by doubling single quotes (standard_conforming_strings,
    the server default since 9.1, keeps backslashes literal); bytes
    render as bytea hex input ('\x...').
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        if math.isnan(v):
            return "'NaN'"
        if math.isinf(v):
            return "'Infinity'" if v > 0 else "'-Infinity'"
        return repr(v)
    if isinstance(v, (int, Decimal)):
        return str(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "'\\x" + bytes(v).hex() + "'"
    s = str(v)
    return "'" + s.replace("'", "''") + "'"


def insert_partition(
    rows: Iterable[tuple],
    *,
    dsn: str,
    table: str,
    columns: list[str],
    batch_size: int,
    timeout_s: int,
    connection_factory: Callable[[str], object],
) -> int:
    """Write one partition via multi-row INSERTs, one statement per
    batch_size-row transaction (batch_partition, with the reference's
    :123-125 fallback body).  Returns rows COMMITTED."""
    head = (
        f"INSERT INTO {quote_identifier(table)} "
        f"({', '.join(quote_identifier(c) for c in columns)}) VALUES "
    )

    def send(cur, batch: list[list[tuple]]) -> None:
        # sql_literal's quote-doubling framing requires it; a
        # server/pooler configured with scs=off would otherwise
        # let a trailing backslash escape the closing quote
        cur.execute("SET LOCAL standard_conforming_strings = on")
        cur.execute(
            head
            + ", ".join(
                "(" + ", ".join(sql_literal(v) for v in row) + ")"
                for row in chain.from_iterable(batch)
            )
        )

    rows = iter(rows)
    return batch_partition(
        iter(lambda: list(islice(rows, batch_size)), []), dsn=dsn,
        batch_size=batch_size, timeout_s=timeout_s,
        connection_factory=connection_factory, send=send, command="INSERT",
    )


class InsertSink(PgBatchSink):
    """Bulk-INSERT sink with the CopySink ``write``/truncate surface."""

    render = staticmethod(normalize_for_insert)
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
    num_writers: int | None = None,
    connection_factory: Callable[[str], object] | None = None,
):
    """Probe one connection and return CopySink when COPY is
    available, InsertSink otherwise — degrade, don't fail
    (README.md:70)."""
    from parquet_to_sql_spark.sinks.copy_pg import CopySink

    factory = connection_factory or _default_connection_factory
    conn = factory(dsn)
    try:
        has_copy = supports_copy(conn)
    finally:
        conn.close()
    cls = CopySink if has_copy else InsertSink
    return cls(
        dsn,
        batch_size=batch_size,
        timeout_s=timeout_s,
        num_writers=num_writers,
        connection_factory=factory,
    )
