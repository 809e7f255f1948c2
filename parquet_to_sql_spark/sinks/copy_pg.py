r"""Postgres COPY sink — the scale fast path — and the batch loop both
Postgres sinks share.

Reference semantics (ParquetImporter.php:90-121), generalized from
one sequential writer to one writer per partition:
  * rows are rendered to COPY text lines (TAB delimiter, \N null,
    escaping per formatCopyValue) — done JVM-side by
    normalize.copy_lines before this sink ever runs;
  * each batch of `batch_size` lines goes through COPY FROM STDIN
    inside its own transaction with `SET LOCAL statement_timeout`
    (ParquetImporter.php:102-118, default 300 s from
    config/parquet-to-sql.php:11);
  * a failed COPY rolls back its transaction and surfaces a
    RuntimeError naming the cause (:109-118).

``batch_partition`` is that connect/batch/timeout/commit/rollback loop
and ``PgBatchSink`` the write scaffolding around it; the COPY sink
here and the INSERT fallback (sinks/insert_pg.py) differ only in how
a frame is rendered and how one batch is sent.

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

from typing import Callable, Iterable

from pyspark.sql import DataFrame

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


def _copy_stream(
    cur,
    sql: str,
    line_iter: Iterable[str],
    *,
    quoted_table: str,
    quoted_columns: list[str],
) -> int:
    """Stream lines through whichever COPY spelling the driver's
    cursor exposes — ``copy`` (psycopg3 / the stdlib pg_wire client),
    ``copy_expert`` (psycopg2, SQL + file-like), or ``copy_from``
    (psycopg2 legacy: file-like + raw table/column names, default
    TAB/\\N matching our wire format) — and return the number of
    lines sent.  choose_sink's supports_copy probe accepts all three
    spellings (ADVICE r04: a copy_from-only driver used to pass the
    probe then AttributeError at write time), so the sink must drive
    all three.  copy_from interpolates table/columns raw into its
    COPY statement, so it receives the pre-quoted identifiers.  The
    psycopg2 branches feed bounded StringIO chunks (several COPY
    statements in the same transaction — identical commit
    semantics), so no branch ever materializes a whole partition."""
    n = 0
    if hasattr(cur, "copy"):
        with cur.copy(sql) as cp:
            for line in line_iter:
                cp.write(line + "\n")
                n += 1
        return n
    import io

    if hasattr(cur, "copy_expert"):
        def send(chunk: list[str]) -> None:
            cur.copy_expert(sql, io.StringIO("".join(c + "\n" for c in chunk)))
    else:
        def send(chunk: list[str]) -> None:
            cur.copy_from(
                io.StringIO("".join(c + "\n" for c in chunk)),
                quoted_table,
                columns=quoted_columns,
            )

    chunk: list[str] = []
    for line in line_iter:
        chunk.append(line)
        n += 1
        if len(chunk) >= 10_000:
            send(chunk)
            chunk = []
    if chunk:
        send(chunk)
    return n


def batch_partition(
    items: Iterable,
    *,
    dsn: str,
    batch_size: int,
    timeout_s: int,
    connection_factory: Callable[[str], object],
    send: Callable[[object, list], None],
    command: str,
) -> int:
    """The per-partition batch-transaction loop of both Postgres sinks
    (the reference's flush loop, ParquetImporter.php:56-71 + :102-118).

    Runs on an executor. One connection per partition; per batch of
    batch_size items: one transaction with `SET LOCAL
    statement_timeout`, ``send(cursor, batch)``, commit.  A failed
    batch rolls back and raises ``RuntimeError("<command> command
    failed: ...")``, leaving prior batches committed.  Returns the
    number of items COMMITTED.

    Retry caveat (inherited from the reference's per-batch-commit
    contract): if a task dies AFTER some batches committed, Spark's
    retry re-runs the whole partition and re-sends the committed
    batches — at-least-once. Loads that must survive task retries
    exactly-once go through write_atomic (ledger-guarded staging) or
    write_idempotent instead.
    """
    conn = connection_factory(dsn)
    try:
        def flush(b: list) -> int:
            if not b:
                return 0
            cur = conn.cursor()
            try:
                cur.execute(f"SET LOCAL statement_timeout = {int(timeout_s * 1000)}")
                send(cur, b)
                conn.commit()
                return len(b)
            except Exception as exc:
                conn.rollback()
                raise RuntimeError(f"{command} command failed: {exc}") from exc

        written = 0
        batch: list = []
        for item in items:
            batch.append(item)
            if len(batch) >= batch_size:
                written += flush(batch)
                batch = []
        return written + flush(batch)
    finally:
        conn.close()


def copy_partition(
    lines: Iterable[str],
    *,
    dsn: str,
    table: str,
    columns: list[str],
    batch_size: int,
    timeout_s: int,
    connection_factory: Callable[[str], object],
) -> int:
    """Stream one partition's COPY lines in batch_size transactions,
    one COPY statement per batch (batch_partition)."""
    quoted_table = quote_identifier(table)
    quoted_columns = [quote_identifier(c) for c in columns]
    sql = f"COPY {quoted_table} ({', '.join(quoted_columns)}) FROM STDIN"

    def send(cur, batch: list[str]) -> None:
        _copy_stream(
            cur, sql, batch, quoted_table=quoted_table, quoted_columns=quoted_columns
        )

    return batch_partition(
        lines, dsn=dsn, batch_size=batch_size, timeout_s=timeout_s,
        connection_factory=connection_factory, send=send, command="COPY",
    )


class PgBatchSink:
    """Write scaffolding shared by the Postgres sinks: identifier
    checks, driver-side truncate, ``num_writers`` repartition, and one
    ``batch_partition`` writer per partition whose committed count
    comes back through an accumulator.  A subclass names its frame
    rendering (``render``) and its per-partition writer
    (``write_partition``)."""

    render: Callable[[DataFrame], DataFrame]
    write_partition: Callable[..., int]

    def __init__(
        self,
        dsn: str,
        batch_size: int = DEFAULT_BATCH_SIZE,
        timeout_s: int = DEFAULT_COPY_TIMEOUT,
        num_writers: int | None = None,
        connection_factory: Callable[[str], object] | None = None,
    ):
        self.dsn = dsn
        self.batch_size = batch_size
        self.timeout_s = timeout_s
        self.num_writers = num_writers
        self.connection_factory = connection_factory or _default_connection_factory

    def write(self, df: DataFrame, table: str, truncate: bool = False) -> int:
        """Write and return the number of rows actually committed.

        Counted by an accumulator updated per-partition inside the
        foreachPartition action — accumulator updates in ACTIONS are
        applied exactly once per task, so retried tasks don't double
        count. No second source scan.
        """
        assert_safe_table_name(table)
        columns = list(df.columns)
        # raw names: a column literally named "a.b" must be rejected
        # (ParquetImporter.php:204-216), not treated as qualified
        assert_safe_column_names(columns)
        if truncate:
            self._execute_truncate(table)
        rendered = self.render(df)
        if self.num_writers:
            rendered = rendered.repartition(self.num_writers)
        write_partition = self.write_partition
        opts = dict(
            dsn=self.dsn, table=table, columns=columns, batch_size=self.batch_size,
            timeout_s=self.timeout_s, connection_factory=self.connection_factory,
        )
        rows_acc = df.sparkSession.sparkContext.accumulator(0)

        def run(partition) -> None:
            rows_acc.add(write_partition(partition, **opts))

        rendered.foreachPartition(run)
        return int(rows_acc.value)

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

    render = staticmethod(copy_lines)

    @staticmethod
    def write_partition(partition, **opts) -> int:
        return copy_partition((row.line for row in partition), **opts)

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
        rendered = copy_lines(df)
        dsn, timeout_s, factory = self.dsn, self.timeout_s, self.connection_factory
        bid = int(batch_id)
        q_table = quoted_table
        q_cols = [quote_identifier(c) for c in df.columns]

        def run(pid: int, it):
            conn = factory(dsn)
            try:
                cur = conn.cursor()
                cur.execute(
                    f"SELECT 1 FROM {ledger} WHERE batch_id = {bid} "
                    f"AND partition_id = {int(pid)}"
                )
                if cur.fetchone():
                    conn.rollback()
                    yield 0
                    return
                try:
                    cur.execute(
                        f"SET LOCAL statement_timeout = {int(timeout_s * 1000)}"
                    )
                    n = _copy_stream(
                        cur, copy_sql, (row.line for row in it),
                        quoted_table=q_table,
                        quoted_columns=q_cols,
                    )
                    cur.execute(
                        f"INSERT INTO {ledger} VALUES ({bid}, {int(pid)}, {n})"
                    )
                    conn.commit()
                    yield n
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
                        yield 0
                    else:
                        raise RuntimeError(f"COPY command failed: {exc}") from exc
            finally:
                conn.close()

        counts = rendered.rdd.mapPartitionsWithIndex(run).collect()
        return int(sum(counts))

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
        this path the whole partition is ONE COPY statement, so
        `timeout_s` bounds the partition, not a batch; the ledger
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
