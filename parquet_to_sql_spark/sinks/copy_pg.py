r"""Postgres COPY sink — the scale fast path — and the Arrow hand-off and
batch loop both Postgres sinks share.

Reference semantics (ParquetImporter.php:90-121), generalized from
one sequential writer to one writer per partition:
  * rows are rendered to COPY text lines (TAB delimiter, \N null,
    escaping per formatCopyValue), each ending in its newline — done
    JVM-side by normalize.copy_lines (render_copy) before any writer
    runs;
  * each batch of `batch_size` lines goes through COPY FROM STDIN
    inside its own transaction with `SET LOCAL statement_timeout`
    (ParquetImporter.php:102-118, default 300 s from
    config/parquet-to-sql.php:11);
  * a failed COPY rolls back its transaction and surfaces a
    RuntimeError naming the cause (:109-118).

Arrow hand-off (``run_writers``): the rendered frame reaches each
writer through ``DataFrame.mapInArrow`` as record batches of one
string column, whose lines lie back to back in the column's data
buffer.  A batch of ``batch_size`` lines is therefore the byte range
between two of the column's offsets, and its transaction sends it
with ONE write: no Python object per row (line_bytes).  A batch that
straddles two Arrow batches is joined from two slices.  Each writer
returns its committed row count as one ``(rows,)`` record, summed on
the driver.

``batch_partition`` is the connect/cut/timeout/commit/rollback loop
and ``PgBatchSink`` the write scaffolding around it; the COPY sink
here and the INSERT fallback (sinks/insert_pg.py) differ only in how
a frame is rendered (COPY text lines here, SQL-literal VALUES tuples
there, both in the JVM) and how one batch is sent.

Atomicity note (SURVEY.md §7 "what's hard" #1): the reference commits
PER BATCH, so partial success is already its contract; with N
parallel writers the unit of atomicity stays one batch. For
all-or-nothing loads, stage into a temp table and swap — see
Importer(staging=...) docstring.

psycopg is not assumed installed: the connection factory is
injectable (tests use fakes), and the default factory prefers psycopg
when importable but falls back to the pure-stdlib wire-protocol
client in sinks/pg_wire.py (simple query + COPY FROM STDIN over a
socket — enough for this sink's whole surface), so the COPY path
works on executors with no driver installed.
"""

from __future__ import annotations

import functools
import io
import struct
from typing import Callable, Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_to_sql_spark.config import DEFAULT_BATCH_SIZE, DEFAULT_COPY_TIMEOUT
from parquet_to_sql_spark.identifiers import (
    assert_safe_column_names,
    assert_safe_table_name,
    quote_identifier,
)
from parquet_to_sql_spark.normalize import copy_lines


def _default_connection_factory(dsn: str):
    try:
        import psycopg  # type: ignore

        return psycopg.connect(dsn)
    except ImportError:
        from parquet_to_sql_spark.sinks import pg_wire

        return pg_wire.connect(dsn)


def render_copy(df: DataFrame) -> DataFrame:
    """``copy_lines`` with each line's trailing newline appended in the
    JVM: the one ``line`` column holds exactly the bytes COPY reads."""
    return copy_lines(df).select(F.concat("line", F.lit("\n")).alias("line"))


def line_bytes(arrays: Sequence[pa.Array]):
    """The bytes of the rendered lines in ``arrays``, in order.  Each
    array is a ``string`` or ``large_string`` column, possibly a slice
    with a non-zero ``offset``; its lines are the data-buffer range
    between its first and one-past-last offsets (byte offsets, so
    multi-byte UTF-8 needs no decoding).  One array gives a zero-copy
    view; several are joined."""
    views = []
    for arr in arrays:
        _, offsets, data = arr.buffers()
        fmt = "<q" if pa.types.is_large_string(arr.type) else "<i"
        width = struct.calcsize(fmt)
        (start,) = struct.unpack_from(fmt, offsets, width * arr.offset)
        (end,) = struct.unpack_from(fmt, offsets, width * (arr.offset + len(arr)))
        views.append(memoryview(data)[start:end])
    return views[0] if len(views) == 1 else b"".join(views)


def run_writers(rendered: DataFrame, fn: Callable[[Iterator[pa.RecordBatch]], int]) -> int:
    """The sum of ``fn(batches)`` over every partition's Arrow record
    batches (``mapInArrow``; each partition answers with one
    ``(rows,)`` record).  An action's results come back once per
    partition, so retried tasks don't double count."""

    def run(batches):
        yield _count_batch(fn(batches))

    return sum(r.rows for r in rendered.mapInArrow(run, "rows long").collect())


def _count_batch(n: int) -> pa.RecordBatch:
    """The one-row ``(rows,)`` record a writer answers with, built from
    its 8 bytes: converting a Python list instead (``pa.array``,
    ``from_pydict``) would page ~30 MB of pyarrow's conversion code
    into every Python worker that writes."""
    rows = pa.Array.from_buffers(pa.int64(), 1, [None, pa.py_buffer(struct.pack("<q", n))])
    return pa.RecordBatch.from_arrays([rows], ["rows"])


def _copy_stream(
    cur,
    sql: str,
    payloads: Iterable,
    *,
    quoted_table: str,
    quoted_columns: list[str],
) -> None:
    """Send COPY text (bytes-like payloads, in order) through whichever
    COPY spelling the driver's cursor exposes — ``copy`` (psycopg3 /
    the stdlib pg_wire client: one COPY statement, one ``write`` per
    payload), ``copy_expert`` (psycopg2, SQL + file-like) or
    ``copy_from`` (psycopg2 legacy: file-like + raw table/column
    names, default TAB/\\N matching our wire format), the psycopg2
    spellings with one COPY statement over a ``BytesIO`` per payload
    (several statements in one transaction: identical commit
    semantics).  choose_sink's supports_copy probe accepts all three
    spellings (ADVICE r04: a copy_from-only driver used to pass the
    probe then AttributeError at write time), so the sink must drive
    all three.  copy_from interpolates table/columns raw into its
    COPY statement, so it receives the pre-quoted identifiers."""
    if hasattr(cur, "copy"):
        with cur.copy(sql) as cp:
            for payload in payloads:
                cp.write(payload)
    elif hasattr(cur, "copy_expert"):
        for payload in payloads:
            cur.copy_expert(sql, io.BytesIO(payload))
    else:
        for payload in payloads:
            cur.copy_from(io.BytesIO(payload), quoted_table, columns=quoted_columns)


def cut_batches(chunks: Iterable[Sequence], batch_size: int) -> Iterator[list]:
    """Regroup a partition's chunks (Arrow arrays) into batches of
    exactly ``batch_size`` items, the last one possibly shorter,
    however the chunks are sized.  A batch is the list of chunk slices
    it covers; slicing an Arrow array copies nothing."""
    batch: list = []
    n = 0
    for chunk in chunks:
        i, size = 0, len(chunk)
        while i < size:
            take = min(size - i, batch_size - n)
            batch.append(chunk[i : i + take])
            n += take
            i += take
            if n == batch_size:
                yield batch
                batch, n = [], 0
    if batch:
        yield batch


def batch_partition(
    batches: Iterable[pa.RecordBatch],
    *,
    dsn: str,
    batch_size: int,
    timeout_s: int,
    connection_factory: Callable[[str], object],
    send: Callable[[object, bytes], None],
    command: str,
) -> int:
    """The per-partition batch-transaction loop of both Postgres sinks
    (the reference's flush loop, ParquetImporter.php:56-71 + :102-118).

    Runs on an executor. One connection per partition; the rendered
    lines of the partition's record batches (one string column, as
    mapInArrow hands them over) are cut into batches of exactly
    batch_size lines (cut_batches), and each batch is one transaction
    with `SET LOCAL statement_timeout`, ``send(cursor, data)`` of the
    batch's bytes (line_bytes) and a commit.  A failed batch rolls
    back and raises ``RuntimeError("<command> command failed: ...")``,
    leaving prior batches committed.  An empty partition commits
    nothing.  Returns the number of lines COMMITTED.

    Retry caveat (inherited from the reference's per-batch-commit
    contract): if a task dies AFTER some batches committed, Spark's
    retry re-runs the whole partition and re-sends the committed
    batches — at-least-once. Loads that must survive task retries
    exactly-once go through write_atomic (ledger-guarded staging) or
    write_idempotent instead.
    """
    conn = connection_factory(dsn)
    try:
        written = 0
        for batch in cut_batches((b.column(0) for b in batches), batch_size):
            cur = conn.cursor()
            try:
                cur.execute(f"SET LOCAL statement_timeout = {int(timeout_s * 1000)}")
                send(cur, line_bytes(batch))
                conn.commit()
            except Exception as exc:
                conn.rollback()
                raise RuntimeError(f"{command} command failed: {exc}") from exc
            written += sum(map(len, batch))
        return written
    finally:
        conn.close()


def copy_partition(
    batches: Iterable[pa.RecordBatch],
    *,
    dsn: str,
    table: str,
    columns: list[str],
    batch_size: int,
    timeout_s: int,
    connection_factory: Callable[[str], object],
) -> int:
    """Send one partition's rendered lines in batch_size transactions,
    each one COPY statement fed by one write of the batch's bytes
    (batch_partition)."""
    quoted_table = quote_identifier(table)
    quoted_columns = [quote_identifier(c) for c in columns]
    sql = f"COPY {quoted_table} ({', '.join(quoted_columns)}) FROM STDIN"

    def send(cur, data) -> None:
        _copy_stream(
            cur, sql, [data], quoted_table=quoted_table, quoted_columns=quoted_columns
        )

    return batch_partition(
        batches, dsn=dsn, batch_size=batch_size,
        timeout_s=timeout_s, connection_factory=connection_factory, send=send,
        command="COPY",
    )


class PgBatchSink:
    """Write scaffolding shared by the Postgres sinks: identifier
    checks, driver-side truncate, and one ``batch_partition`` writer
    per partition (``run_writers``) whose committed counts the driver
    sums.  A subclass names its frame rendering to one ``line`` string
    column (``render``) and its per-partition writer over that
    column's Arrow batches (``write_partition``)."""

    render: Callable[[DataFrame], DataFrame]
    write_partition: Callable[..., int]

    def __init__(
        self,
        dsn: str,
        batch_size: int = DEFAULT_BATCH_SIZE,
        timeout_s: int = DEFAULT_COPY_TIMEOUT,
        connection_factory: Callable[[str], object] | None = None,
    ):
        self.dsn = dsn
        self.batch_size = batch_size
        self.timeout_s = timeout_s
        self.connection_factory = connection_factory or _default_connection_factory

    def write(self, df: DataFrame, table: str, truncate: bool = False) -> int:
        """Write and return the number of rows actually committed:
        each partition's writer returns its committed count and the
        driver sums them (``run_writers``).  No second source scan.
        """
        assert_safe_table_name(table)
        columns = list(df.columns)
        # raw names: a column literally named "a.b" must be rejected
        # (ParquetImporter.php:204-216), not treated as qualified
        assert_safe_column_names(columns)
        if truncate:
            self._execute_truncate(table)
        return run_writers(self.render(df), functools.partial(
            self.write_partition, dsn=self.dsn, table=table, columns=columns,
            batch_size=self.batch_size, timeout_s=self.timeout_s,
            connection_factory=self.connection_factory,
        ))

    def _execute_truncate(self, table: str) -> None:
        # Driver-side, once, before any writer starts
        # (ParquetImporter.php:50-52).
        conn = self.connection_factory(self.dsn)
        try:
            cur = conn.cursor()
            cur.execute(f"TRUNCATE TABLE {quote_identifier(table)}")
            conn.commit()
        finally:
            conn.close()


class CopySink(PgBatchSink):
    """COPY text sink: ``write`` plus the exactly-once
    ``write_idempotent`` / ``write_atomic`` paths."""

    render = staticmethod(render_copy)
    write_partition = staticmethod(copy_partition)

    def write_idempotent(self, df: DataFrame, table: str, batch_id: int) -> int:
        """Exactly-once streaming micro-batch ingest, DISTRIBUTED: each
        partition commits its COPY and a ``(batch_id, partition_id)``
        ledger row in ONE transaction against
        ``<table>_applied_batches``.  A replayed batch (Structured
        Streaming re-runs the last uncommitted batch with the same
        batch_id) or a retried task finds its ledger row and skips; two
        racing attempts for the same partition serialize on the ledger
        primary key — the loser's unique-violation rolls its COPY back
        and is swallowed.  This is the transactional-sink half of the
        foreachBatch exactly-once contract (the source half is the
        stream checkpoint), scaled out: no driver-side row iteration,
        one writer per partition, bounded ledger (one row per
        partition per batch).

        Caveats, by design: partitions become visible as they commit
        (readers wanting whole-batch atomicity should join the ledger);
        replay idempotency relies on the replayed batch reproducing its
        partitioning, which file/Kafka sources re-reading checkpointed
        offsets do — don't inject nondeterministic repartitioning
        upstream.  Returns rows written (0 for a fully-replayed batch).
        """
        assert_safe_table_name(table)
        assert_safe_column_names(df.columns)
        ledger_name = f"{table}_applied_batches"
        assert_safe_table_name(ledger_name)
        quoted_table = quote_identifier(table)
        ledger = quote_identifier(ledger_name)
        col_list = ", ".join(quote_identifier(c) for c in df.columns)
        copy_sql = f"COPY {quoted_table} ({col_list}) FROM STDIN"
        conn = self.connection_factory(self.dsn)
        try:
            cur = conn.cursor()
            cur.execute(
                f"CREATE TABLE IF NOT EXISTS {ledger} ("
                "batch_id bigint, partition_id int, n_rows bigint, "
                "PRIMARY KEY (batch_id, partition_id))"
            )
            conn.commit()
        finally:
            conn.close()
        dsn, timeout_s, factory = self.dsn, self.timeout_s, self.connection_factory
        bid = int(batch_id)
        q_cols = [quote_identifier(c) for c in df.columns]

        def run(batches) -> int:
            pid = TaskContext.get().partitionId()
            conn = factory(dsn)
            try:
                cur = conn.cursor()
                cur.execute(
                    f"SELECT 1 FROM {ledger} WHERE batch_id = {bid} "
                    f"AND partition_id = {pid}"
                )
                if cur.fetchone():
                    conn.rollback()
                    return 0
                n = 0

                def payloads():
                    # one write per Arrow batch: the partition streams
                    # through one COPY without being materialized
                    nonlocal n
                    for b in batches:
                        if b.num_rows:
                            n += b.num_rows
                            yield line_bytes([b.column(0)])

                try:
                    cur.execute(
                        f"SET LOCAL statement_timeout = {int(timeout_s * 1000)}"
                    )
                    _copy_stream(
                        cur, copy_sql, payloads(),
                        quoted_table=quoted_table,
                        quoted_columns=q_cols,
                    )
                    cur.execute(
                        f"INSERT INTO {ledger} VALUES ({bid}, {pid}, {n})"
                    )
                    conn.commit()
                    return n
                except Exception as exc:
                    conn.rollback()
                    # a racing attempt landed first: its commit stands,
                    # ours rolled back — exactly-once preserved
                    # (pg_wire exposes .fields, psycopg .sqlstate; the
                    # message match is a last resort and locale-bound)
                    if (
                        getattr(exc, "fields", {}).get("C") == "23505"
                        or getattr(exc, "sqlstate", None) == "23505"
                        or "duplicate key" in str(exc)
                    ):
                        return 0
                    raise RuntimeError(f"COPY command failed: {exc}") from exc
            finally:
                conn.close()

        return run_writers(render_copy(df), run)

    def write_atomic(self, df: DataFrame, table: str, suffix: str | None = None) -> int:
        """All-or-nothing load via staging table + atomic swap.

        The per-batch commits of write() mean a mid-load failure leaves
        a partial table (the reference's own contract —
        ParquetImporter.php:102-113 commits per batch). When a load
        must be atomic: COPY everything into a staging table, then
        swap names in ONE transaction. Readers see the old table until
        the swap commits; a failure anywhere leaves the target
        untouched and best-effort drops the staging table.

        TASK-RETRY SAFE: the staging load goes through the
        write_idempotent ledger (one transaction per partition, COPY +
        ledger row committed together), so a task that Spark retries
        after its first attempt committed finds its ledger row and
        skips — "all-or-nothing" holds on a real cluster where task
        retries are routine, not just on a single flawless run.  On
        this path the whole partition is ONE transaction (one COPY
        statement, written one Arrow batch at a time), so `timeout_s`
        bounds the partition, not a batch; the ledger
        table is dropped inside the swap transaction.

        ``suffix`` names the staging table ``<table>_staging_<suffix>``
        so two concurrent atomic loads into the same target don't race
        on one staging name — pass e.g. a job id. Default (None) keeps
        the fixed ``<table>_staging`` name: predictable, and leftover
        staging AND its ledger from a crash are both reclaimed by the
        next run's DROP IF EXISTS (dropping only the staging table
        would leave stale ledger rows that make the rerun skip
        partitions — silent partial data). Returns rows written.

        Caveat (swap semantics): ``LIKE ... INCLUDING ALL`` copies
        columns, defaults, identity, and indexes but NOT grants,
        foreign keys referencing the table, triggers, or row-level-
        security policies — after the swap those must be re-applied by
        the caller if the target carried them.
        """
        assert_safe_table_name(table)
        staging = f"{table}_staging" if suffix is None else f"{table}_staging_{suffix}"
        assert_safe_table_name(staging)
        qt, qs = quote_identifier(table), quote_identifier(staging)
        qledger = quote_identifier(f"{staging}_applied_batches")
        # unqualified name for RENAME (Postgres renames within schema)
        bare_table = table.split(".")[-1]
        conn = self.connection_factory(self.dsn)
        try:
            cur = conn.cursor()
            cur.execute(f"DROP TABLE IF EXISTS {qs}")
            # a stale ledger from a crashed previous run would make
            # write_idempotent skip those partitions against the
            # freshly-recreated (empty) staging table
            cur.execute(f"DROP TABLE IF EXISTS {qledger}")
            cur.execute(f"CREATE TABLE {qs} (LIKE {qt} INCLUDING ALL)")
            conn.commit()
        finally:
            conn.close()
        try:
            rows = self.write_idempotent(df, staging, batch_id=0)
        except Exception:
            self._drop_staging(qs)
            self._drop_staging(qledger)
            raise
        conn = self.connection_factory(self.dsn)
        try:
            cur = conn.cursor()
            cur.execute(f"DROP TABLE {qt}")
            cur.execute(
                f"ALTER TABLE {qs} RENAME TO {quote_identifier(bare_table)}"
            )
            cur.execute(f"DROP TABLE IF EXISTS {qledger}")
            conn.commit()
        except Exception as exc:
            conn.rollback()
            self._drop_staging(qs)
            self._drop_staging(qledger)
            raise RuntimeError(f"atomic swap failed: {exc}") from exc
        finally:
            conn.close()
        return rows

    def _drop_staging(self, quoted_staging: str) -> None:
        """Best-effort staging cleanup after a failed atomic load."""
        try:
            conn = self.connection_factory(self.dsn)
        except Exception:
            return
        try:
            cur = conn.cursor()
            cur.execute(f"DROP TABLE IF EXISTS {quoted_staging}")
            conn.commit()
        except Exception:
            pass
        finally:
            conn.close()
