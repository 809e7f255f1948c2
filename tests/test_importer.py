"""Import-surface tests mirroring the reference's pinned behaviors
(SURVEY.md §5): COPY wire protocol, rollback on failure, fallback
INSERT normalization, identifier rejection, source validation."""

from __future__ import annotations

import ast
import datetime
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_to_sql_spark.cli import parse_column_map
from parquet_to_sql_spark.identifiers import (
    assert_safe_column_name,
    assert_safe_table_name,
    quote_identifier,
)
from parquet_to_sql_spark.importer import Importer, project_rename
from parquet_to_sql_spark.normalize import copy_lines
from parquet_to_sql_spark.sinks.copy_pg import CopySink, copy_partition
from parquet_to_sql_spark.sinks.insert_pg import InsertSink, insert_partition, render_insert
from parquet_to_sql_spark.sinks.duckdb_sink import DuckDbSink
from parquet_to_sql_spark.sources.parquet import ParquetSource


# ---------------------------------------------------------------- fakes
class FakeCopy:
    def __init__(self, log):
        self.log = log

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def write(self, data):
        self.log.append(("copy_write", data.encode() if isinstance(data, str) else bytes(data)))


class _FakeCursorBase:
    def __init__(self, log, fail_copy=False):
        self.log = log
        self.fail_copy = fail_copy

    def execute(self, sql):
        self.log.append(("execute", sql))
        if self.fail_copy and sql.startswith("INSERT"):
            raise RuntimeError("boom")

    def fetchone(self):
        # ledger lookups: never applied -> writer proceeds
        return None

    def _start_copy(self, sql):
        self.log.append(("copy", sql))
        if self.fail_copy:
            raise RuntimeError("boom")


class FakeCursor(_FakeCursorBase):
    """psycopg3 / pg_wire spelling: ``copy(sql)`` context manager."""

    def copy(self, sql):
        self._start_copy(sql)
        return FakeCopy(self.log)


class FakeExpertCursor(_FakeCursorBase):
    """psycopg2 spelling: ``copy_expert(sql, file)``."""

    def copy_expert(self, sql, file):
        self._start_copy(sql)
        self.log.append(("copy_write", file.read()))


class FakeCopyFromCursor(_FakeCursorBase):
    """psycopg2 legacy spelling: ``copy_from(file, table, columns=)``."""

    def copy_from(self, file, table, columns=None):
        self._start_copy(f"COPY {table} ({', '.join(columns)}) FROM STDIN")
        self.log.append(("copy_write", file.read()))


SPELLINGS = {
    "copy": FakeCursor,
    "copy_expert": FakeExpertCursor,
    "copy_from": FakeCopyFromCursor,
}


class FakeConn:
    def __init__(self, log, fail_copy=False, spelling="copy"):
        self.log = log
        self.fail_copy = fail_copy
        self.spelling = spelling

    def cursor(self):
        return SPELLINGS[self.spelling](self.log, self.fail_copy)

    def commit(self):
        self.log.append(("commit", None))

    def rollback(self):
        self.log.append(("rollback", None))

    def close(self):
        self.log.append(("close", None))


def _line_batches(lines, per_batch=None, type=pa.string()):
    """Rendered lines (COPY lines or INSERT tuples) as the record
    batches mapInArrow hands a writer: one string column, ``per_batch``
    lines per batch."""
    per_batch = per_batch or max(len(lines), 1)
    return [
        pa.RecordBatch.from_arrays([pa.array(lines[i : i + per_batch], type)], ["line"])
        for i in range(0, len(lines), per_batch)
    ]


def _txn_sends(log):
    """What each transaction sent, in order: its COPY writes (or INSERT
    statements) concatenated, as bytes."""
    txns, sent = [], []
    for kind, data in log:
        if kind == "copy_write":
            sent.append(data.encode() if isinstance(data, str) else data)
        elif kind == "execute" and data.startswith("INSERT"):
            sent.append(data.encode())
        elif kind in ("commit", "rollback"):
            txns.append(b"".join(sent))
            sent = []
    return txns


# ---------------------------------------------- 1. COPY wire protocol
def test_copy_protocol_exact_wire_format():
    """Parity with tests/ParquetImporterTest.php:11-49: exact COPY
    bytes, TAB delimiter, \\N nulls, quoted identifiers, one
    transaction per batch, statement timeout, commit."""
    log = []
    copy_partition(
        _line_batches(["1\talice\n", "2\tbob\n"]),
        dsn="postgres://x",
        table="public.users",
        columns=["id", "name"],
        batch_size=5000,
        timeout_s=5,
        connection_factory=lambda dsn: FakeConn(log),
    )
    assert ("execute", "SET LOCAL statement_timeout = 5000") in log
    assert log.count(("copy", 'COPY "public"."users" ("id", "name") FROM STDIN')) == 1
    assert _txn_sends(log) == [b"1\talice\n2\tbob\n"]
    assert log.count(("commit", None)) == 1
    assert ("rollback", None) not in log
    assert log[-1] == ("close", None)


# The two callers of the shared batch loop (copy_pg.batch_partition):
# (writer, item i of its input, the writer's input from a list of
# items, the log event that sends one batch, what one batch's
# transaction sends, the error prefix).  Both inputs come in Arrow
# batches of 3 lines, so batches of 5 straddle them.
_BATCH_WRITERS = [
    (
        copy_partition,
        lambda i: f"{i}\talice\n",
        lambda items: _line_batches(items, per_batch=3),
        lambda e: e[0] == "copy",
        lambda items: "".join(items).encode(),
        "COPY",
    ),
    (
        insert_partition,
        lambda i: f"({i}, 'alice'), ",
        lambda items: _line_batches(items, per_batch=3),
        lambda e: e[0] == "execute" and e[1].startswith("INSERT"),
        lambda items: ('INSERT INTO "t" ("id", "name") VALUES ' + "".join(items)[:-2]).encode(),
        "INSERT",
    ),
]


def test_copy_batching_one_txn_per_batch():
    """Both callers of the shared loop: one transaction, statement
    timeout and send per batch, and exactly the batch's items sent."""
    for writer, item, to_input, is_send, payload, _ in _BATCH_WRITERS:
        log = []
        items = [item(i) for i in range(12)]
        written = writer(
            to_input(items),
            dsn="d",
            table="t",
            columns=["id", "name"],
            batch_size=5,
            timeout_s=300,
            connection_factory=lambda dsn: FakeConn(log),
        )
        # 12 rows / batch 5 -> 3 transactions (5,5,2)
        assert log.count(("commit", None)) == 3
        assert sum(1 for e in log if is_send(e)) == 3
        assert log.count(("execute", "SET LOCAL statement_timeout = 300000")) == 3
        assert _txn_sends(log) == [
            payload(items[0:5]), payload(items[5:10]), payload(items[10:12])
        ]
        assert written == 12


# Lines the COPY renderer produces for the hard cases: multi-byte
# UTF-8 (2-, 3- and 4-byte), escaped TAB/CR/LF/backslash, \N nulls
# and empty strings.
_HARD_LINES = [
    "1\tcaf\u00e9\n",
    "2\t\u65e5\u672c\u8a9e\t\U0001f600\n",
    "3\ta\\tb\\rc\\nd\\\\e\n",
    "4\t\\N\t\n",
    "5\t\t\n",
    "6\t\U0001f389\u00e9\u00e9\u65e5\n",
    "7\t\\N\t\\N\n",
]


@pytest.mark.parametrize("spelling", sorted(SPELLINGS))
@pytest.mark.parametrize("arrow_type", [pa.string(), pa.large_string()])
def test_copy_partition_sends_exact_bytes_of_sliced_arrays(spelling, arrow_type):
    """Every driver spelling sends each transaction exactly the bytes
    of its lines, reading ``string`` and ``large_string`` columns by
    byte offsets, including slices with a non-zero ``offset``."""
    batch = _line_batches(_HARD_LINES, type=arrow_type)[0]
    for start, length in [(0, 7), (2, 5), (3, 1)]:
        sliced = batch.slice(start, length)
        assert sliced.column(0).offset == start
        log = []
        written = copy_partition(
            [sliced], dsn="d", table="t", columns=["id", "v"], batch_size=2,
            timeout_s=5, connection_factory=lambda dsn: FakeConn(log, spelling=spelling),
        )
        lines = _HARD_LINES[start : start + length]
        want = ["".join(lines[i : i + 2]).encode() for i in range(0, length, 2)]
        assert written == length
        assert _txn_sends(log) == want
        assert log.count(("commit", None)) == len(want)
        assert sum(e[0] == "copy_write" for e in log) == len(want)


def test_copy_partition_empty_commits_nothing():
    """An empty partition — no batches, or only empty ones — opens no
    transaction and sends nothing."""
    empty = _line_batches(_HARD_LINES)[0].slice(3, 0)
    for batches in ([], [empty], [empty, empty]):
        for spelling in SPELLINGS:
            log = []
            written = copy_partition(
                batches, dsn="d", table="t", columns=["id"], batch_size=2,
                timeout_s=5, connection_factory=lambda dsn: FakeConn(log, spelling=spelling),
            )
            assert written == 0
            assert log == [("close", None)]


def test_pg_wire_copy_frames_concatenate_to_exact_input():
    """The wire client's COPY channel coalesces writes into CopyData
    frames of at least 64 KiB (the last one excepted), each closed by
    the write that reached the threshold, and the frames carry exactly
    the bytes written, in order."""
    from parquet_to_sql_spark.sinks.pg_wire import _CopyIn

    class WireConn:
        def __init__(self):
            self.sent = []

        def _send(self, type_byte, payload=b""):
            self.sent.append((type_byte, bytes(payload)))

        def _recv_message(self):
            return b"Z", b"I"  # ReadyForQuery

    conn = WireConn()
    lines = [f"{i}\t{'x' * (i % 300)}\n" for i in range(5000)]
    with _CopyIn(conn) as cp:
        for i, line in enumerate(lines):
            cp.write(line if i % 2 else line.encode())
    types = [t for t, _ in conn.sent]
    frames = [p for t, p in conn.sent if t == b"d"]
    assert types == [b"d"] * len(frames) + [b"c"]
    assert len(frames) > 1
    assert b"".join(frames) == "".join(lines).encode()
    longest_line = max(map(len, lines))
    assert all(65536 <= len(f) < 65536 + longest_line for f in frames[:-1])
    assert 0 < len(frames[-1])


# ------------------------------------------------- 2. rollback path
def test_copy_failure_rolls_back_and_wraps():
    """Parity with tests/ParquetImporterTest.php:51-76, for both
    callers of the shared loop, each with its own error prefix."""
    for writer, item, to_input, _, _, command in _BATCH_WRITERS:
        log = []
        with pytest.raises(RuntimeError, match=f"{command} command failed: boom"):
            writer(
                to_input([item(1)]),
                dsn="d",
                table="users",
                columns=["id", "name"],
                batch_size=10,
                timeout_s=5,
                connection_factory=lambda dsn: FakeConn(log, fail_copy=True),
            )
        assert ("rollback", None) in log
        assert ("commit", None) not in log
        assert log[-1] == ("close", None)


# --------------------------------- 3. normalization (INSERT fallback)
@pytest.fixture()
def mixed_parquet(tmp_path):
    """The reference's mixed_types fixture (FIXTURES.md §A2)."""
    table = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "flag": pa.array([True, None], pa.bool_()),
            "meta": pa.array([{"foo": "bar"}, None],
                             pa.struct([pa.field("foo", pa.string())])),
            "tags": pa.array([["a", "b"], None], pa.list_(pa.string())),
            "created_at": pa.array(
                [datetime.datetime(2023, 1, 2, 3, 4, 5), None], pa.timestamp("us")
            ),
            "maybe_null": pa.array(["x", None], pa.string()),
            "score": pa.array([1.5, None], pa.float64()),
        }
    )
    path = str(tmp_path / "mixed.parquet")
    pq.write_table(table, path)
    return path


def test_insert_normalization_duckdb_end_to_end(spark, mixed_parquet, tmp_path):
    """Parity with tests/ParquetImporterTest.php:78-119: nested values
    JSON-encoded, timestamps rendered 'Y-m-d H:i:s.uP'."""
    db = str(tmp_path / "t.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE mixed (id BIGINT, flag BOOLEAN, meta VARCHAR, tags VARCHAR,"
        " created_at VARCHAR, maybe_null VARCHAR, score DOUBLE)"
    )
    con.close()

    importer = Importer(spark, DuckDbSink(db, batch_size=1))
    result = importer.import_(mixed_parquet, "mixed")
    assert result.rows_imported == 2
    assert result.table == "mixed"

    con = duckdb.connect(db)
    rows = con.execute("SELECT * FROM mixed ORDER BY id").fetchall()
    con.close()
    assert rows[0] == (
        1, True, '{"foo":"bar"}', '["a","b"]',
        "2023-01-02 03:04:05.000000+00:00", "x", 1.5,
    )
    assert rows[1] == (2, None, None, None, None, None, None)


def test_copy_lines_rendering(spark, mixed_parquet):
    """COPY text protocol: \\N nulls, bool as 1/0, JSON-encoded
    nested, escaped control characters (ParquetImporter.php:151-179)."""
    df = spark.read.parquet(mixed_parquet)
    lines = sorted(r.line for r in copy_lines(df).collect())
    assert lines[0] == (
        '1\t1\t{"foo":"bar"}\t["a","b"]\t2023-01-02 03:04:05.000000+00:00\tx\t1.5'
    )
    assert lines[1] == "2\t\\N\t\\N\t\\N\t\\N\t\\N\t\\N"


def test_copy_escaping(spark):
    df = spark.createDataFrame(
        [("a\tb", "c\nd"), ("back\\slash", "cr\rhere")], "x string, y string"
    )
    lines = sorted(r.line for r in copy_lines(df).collect())
    assert lines == ["a\\tb\tc\\nd", "back\\\\slash\tcr\\rhere"]


def test_truncate_then_import(spark, mixed_parquet, tmp_path):
    db = str(tmp_path / "t2.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE only_ids (user_id BIGINT)")
    con.execute("INSERT INTO only_ids VALUES (999)")
    con.close()

    src = spark.read.parquet(mixed_parquet).select("id")
    importer = Importer(spark, DuckDbSink(db))
    importer.import_(None, "only_ids", column_map={"id": "user_id"},
                     reader=src, truncate=True)
    con = duckdb.connect(db)
    assert con.execute("SELECT * FROM only_ids ORDER BY user_id").fetchall() == [(1,), (2,)]
    con.close()


# ------------------------------------------- 4. identifier rejection
def test_identifier_rejection():
    """Parity with tests/ParquetImporterTest.php:121-137."""
    for bad in ["bad.column", "x;drop", 'a"b', "a b", ""]:
        with pytest.raises(ValueError):
            assert_safe_column_name(bad)
    for bad in ["users; DROP", 'a"b', "a.b.c", "", "sch ema.t"]:
        with pytest.raises(ValueError):
            assert_safe_table_name(bad)
    assert_safe_table_name("public.users")
    assert_safe_table_name("users")
    assert quote_identifier("public.users") == '"public"."users"'
    assert quote_identifier('we"ird') == '"we""ird"'


def test_rename_to_unsafe_target_rejected(spark, mixed_parquet, tmp_path):
    importer = Importer(spark, DuckDbSink(str(tmp_path / "x.duckdb")))
    with pytest.raises(ValueError, match="Unsafe column name"):
        importer.import_(mixed_parquet, "t", column_map={"id": "bad.column"})


# ------------------------------------ 5. source + CLI-map behaviors
def test_missing_path_raises(spark):
    with pytest.raises(FileNotFoundError):
        ParquetSource(spark, "/nonexistent/nope.parquet")


def test_project_rename_keeps_unmapped_columns(spark):
    df = spark.createDataFrame([(1, "a", "e@x")], "id long, name string, email string")
    out = project_rename(df, {"email": "email_address"})
    assert out.columns == ["id", "name", "email_address"]


def test_parse_column_map_warns_and_skips(capsys):
    """Parity with ImportParquetCommand.php:52-66."""
    m = parse_column_map(["a=b", "malformed", "c=d", "=x", "e="])
    assert m == {"a": "b", "c": "d"}
    err = capsys.readouterr().err
    assert "malformed" in err


def test_import_result_shape(spark, mixed_parquet, tmp_path):
    db = str(tmp_path / "t3.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE m2 (id BIGINT, flag BOOLEAN, meta VARCHAR, tags VARCHAR,"
                " created_at VARCHAR, maybe_null VARCHAR, score DOUBLE)")
    con.close()
    r = Importer(spark, DuckDbSink(db)).import_(mixed_parquet, "m2")
    d = r.to_dict()
    assert set(d) == {"source_path", "table", "rows_imported", "duration_seconds"}
    assert d["rows_imported"] == 2 and d["duration_seconds"] >= 0


def test_copysink_write_end_to_end_with_fake_factory(spark, tmp_path):
    """CopySink.write through the real mapInArrow: the fake factory
    appends wire events to files (executors are separate processes)."""
    logdir = str(tmp_path / "copylog")
    os.makedirs(logdir, exist_ok=True)

    df = spark.createDataFrame([(1, "alice"), (2, None)], "id long, name string").coalesce(1)
    sink = CopySink("dsn://fake", batch_size=5000, timeout_s=5,
                    connection_factory=_file_logging_factory(logdir))
    sink.write(df, "public.users")

    events = [e for log in _conn_logs(logdir) for e in log]
    kinds = [e[0] for e in events]
    assert "copy" in kinds and "commit" in kinds
    # one write per transaction: both lines in one COPY payload
    writes = [e[1] for e in events if e[0] == "copy_write"]
    assert writes == ["1\talice\n2\t\\N\n"]


# ------------------------------------------ 6. sink-side row accounting
class _CountingStubSink:
    """Sink that reports writing a count unrelated to the source size,
    proving ImportResult uses the SINK's number, not a source rescan."""

    def __init__(self, report):
        self.report = report
        self.seen_rows = None

    def write(self, df, table, truncate=False):
        self.seen_rows = df.count()
        return self.report


class _LegacySink:
    """Sink without row accounting (returns None) — importer falls back
    to the source count."""

    def write(self, df, table, truncate=False):
        df.count()
        return None


def test_rows_imported_comes_from_sink_not_source(spark, mixed_parquet):
    sink = _CountingStubSink(report=7)
    r = Importer(spark, sink).import_(mixed_parquet, "t")
    assert sink.seen_rows == 2  # source really had 2 rows
    assert r.rows_imported == 7  # but the result reports what LANDED


def test_rows_imported_fallback_for_legacy_sink(spark, mixed_parquet):
    r = Importer(spark, _LegacySink()).import_(mixed_parquet, "t")
    assert r.rows_imported == 2


def test_copysink_write_returns_rows_landed(spark, tmp_path):
    logdir = str(tmp_path / "copylog_count")
    os.makedirs(logdir, exist_ok=True)
    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(10)], "id long, name string"
    ).repartition(3)
    sink = CopySink("dsn://fake", batch_size=4, timeout_s=5,
                    connection_factory=_file_logging_factory(logdir))
    assert sink.write(df, "users") == 10


def test_copysink_failing_partition_raises_not_overreports(spark):
    """A failed COPY surfaces as an error — the summed per-partition
    counts never turn a partial load into a clean ImportResult."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    sink = CopySink("dsn://fake", batch_size=1, timeout_s=5,
                    connection_factory=_failing_factory)
    with pytest.raises(Exception, match="COPY command failed"):
        sink.write(df, "users")


def _failing_factory(dsn):
    class Cur:
        def execute(self, sql):
            pass

        def copy(self, sql):
            raise RuntimeError("copy refused")

    class Conn:
        def cursor(self):
            return Cur()

        def commit(self):
            pass

        def rollback(self):
            pass

        def close(self):
            pass

    return Conn()


# ----------------------------------------- 7. binary COPY rendering
def test_copy_binary_rendered_as_bytea_hex(spark):
    """BinaryType renders as Postgres bytea hex input (\\x...), never a
    lossy UTF-8 cast; raw tab/newline bytes can't split the line."""
    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\xff\t\n")), (2, None)], "id long, blob binary"
    )
    lines = sorted(r.line for r in copy_lines(df).collect())
    assert lines == ["1\t\\\\x00ff090a", "2\t\\N"]


def _file_logging_factory(logdir, spelling="copy"):
    def factory(dsn):
        return FakeConn(_FileLog(logdir), spelling=spelling)

    return factory


class _FileLog:
    """Picklable event log of ONE fake connection: executors are
    separate processes, so each connection appends its wire events to
    its own JSON-lines file as ``[kind, data, wall-clock time]`` (bytes
    decoded as UTF-8)."""

    def __init__(self, logdir):
        import uuid

        self.path = os.path.join(logdir, f"{uuid.uuid4().hex}.jsonl")

    def append(self, event):
        import time

        kind, data = event
        if isinstance(data, (bytes, bytearray, memoryview)):
            data = bytes(data).decode("utf-8")
        with open(self.path, "a") as f:
            f.write(json.dumps([kind, data, time.time()]) + "\n")


def _conn_logs(logdir):
    """One ``(kind, data)`` event list per fake connection that logged
    to ``logdir``."""
    logs = []
    for fn in sorted(os.listdir(logdir)):
        with open(os.path.join(logdir, fn)) as f:
            logs.append([tuple(json.loads(line)[:2]) for line in f])
    return logs


def _hard_frame(spark):
    """Values whose COPY lines hold multi-byte UTF-8, escaped
    TAB/CR/LF/backslash, \\N nulls and empty strings."""
    return spark.createDataFrame(
        [
            (1, "caf\u00e9", "\u65e5\u672c\u8a9e"),
            (2, "\U0001f600 a\tb", "c\rd\ne\\f"),
            (3, None, ""),
            (4, "", None),
            (5, "\\N", "\u00e9" * 40),
        ],
        "id long, s string, t string",
    ).coalesce(1)


@pytest.mark.parametrize("spelling", sorted(SPELLINGS))
def test_copysink_sends_exact_copy_lines_bytes(spark, tmp_path, spelling):
    """Through the real mapInArrow, for every driver spelling and both
    Arrow string widths: each transaction sends exactly its lines of
    ``copy_lines``, each ended by a newline."""
    df = _hard_frame(spark)
    lines = [r.line + "\n" for r in copy_lines(df).collect()]
    want = ["".join(lines[i : i + 2]).encode() for i in range(0, len(lines), 2)]
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    prev = spark.conf.get(key)
    try:
        for large in ("false", "true"):
            spark.conf.set(key, large)
            logdir = tmp_path / f"{spelling}_{large}"
            logdir.mkdir()
            sink = CopySink("dsn://fake", batch_size=2, timeout_s=5,
                            connection_factory=_file_logging_factory(str(logdir), spelling))
            assert sink.write(df, "t") == len(lines)
            (log,) = [log for log in _conn_logs(logdir) if ("commit", None) in log]
            assert _txn_sends(log) == want
            assert sum(e[0] == "copy_write" for e in log) == len(want)
    finally:
        spark.conf.set(key, prev)


def _sent_rows(sink_cls, txn):
    """The rows one transaction sent: its COPY lines, or the VALUES
    tuples of its INSERT, each with its separator back (as
    ``render_insert`` renders it; the test values hold no ``), (``)."""
    if sink_cls is CopySink:
        return txn.splitlines(keepends=True)
    body = txn.partition(b" VALUES ")[2]
    return [b"(" + t + b"), " for t in body[1:-1].split(b"), (")]


def test_copysink_batch_composition_independent_of_arrow_batches(spark, tmp_path):
    """However Spark cuts the rendered frame into Arrow batches
    (maxRecordsPerBatch 1, 3 or the default) and into partitions (1 or
    4), both Postgres sinks send the same statements and the same
    multiset of rendered rows, and every transaction holds exactly
    batch_size rows except the last of each partition."""
    df = spark.createDataFrame(
        [(i, "\u00e9" * (i % 4) + "x\ty" * (i % 3)) for i in range(47)],
        "id long, s string",
    )
    want = {
        CopySink: sorted((r.line + "\n").encode() for r in copy_lines(df).collect()),
        InsertSink: sorted(r.line.encode() for r in render_insert(df).collect()),
    }
    sent_txns = {}
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    try:
        for per_batch in ("1", "3", prev):
            spark.conf.set(key, per_batch)
            for parts in (1, 4):
                for cls in (CopySink, InsertSink):
                    logdir = tmp_path / f"{cls.__name__}_{per_batch}_{parts}"
                    logdir.mkdir()
                    sink = cls("dsn://fake", batch_size=5, timeout_s=5,
                               connection_factory=_file_logging_factory(str(logdir)))
                    assert sink.write(df.repartition(parts), "t") == 47
                    sent, all_txns = [], []
                    for log in _conn_logs(logdir):
                        txns = _txn_sends(log)
                        sizes = [len(_sent_rows(cls, t)) for t in txns]
                        assert all(n == 5 for n in sizes[:-1]), (cls, per_batch, parts, sizes)
                        assert all(0 < n <= 5 for n in sizes[-1:]), (cls, per_batch, parts, sizes)
                        sent += [row for t in txns for row in _sent_rows(cls, t)]
                        all_txns += txns
                    assert sorted(sent) == want[cls], (cls, per_batch, parts)
                    assert sorted(all_txns) == sent_txns.setdefault(
                        (cls, parts), sorted(all_txns)
                    ), (cls, per_batch, parts)
    finally:
        spark.conf.set(key, prev)


def test_postgres_sinks_hand_off_only_arrow_batches():
    """No module under ``sinks/`` except the driver-side DuckDB sink
    reads Python Rows (``.rdd`` or ``toLocalIterator``): both Postgres
    sinks reach their writers through ``copy_pg.run_writers``."""
    import pathlib

    sinks = pathlib.Path(__file__).resolve().parent.parent / "parquet_to_sql_spark" / "sinks"
    offenders = [
        f"{f.name}:{n}"
        for f in sorted(sinks.glob("*.py"))
        if f.name != "duckdb_sink.py"
        for n in _row_hand_offs(ast.parse(f.read_text(), str(f)))
    ]
    assert offenders == [], f"Row hand-off in a Postgres sink: {offenders}"


def _row_hand_offs(tree):
    """Line numbers of every ``.rdd`` / ``.toLocalIterator`` in ``tree``."""
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr in ("rdd", "toLocalIterator")
    )


def test_row_hand_off_guard_sees_every_spelling():
    src = (
        "a = df.rdd.mapPartitions(f).collect()\n"
        "b = sum(1 for _ in df.toLocalIterator())\n"
        "c = df.mapInArrow(f, 'rows long')\n"
        "d = getattr(df, 'rdd_like')\n"
        "e = self.render(df).rdd\n"
    )
    assert _row_hand_offs(ast.parse(src)) == [1, 2, 5]


def test_import_from_csv_source_pluggable_reader(spark, tmp_path):
    """Pluggable scan contract: the Importer accepts any Source (here
    CsvSource) interchangeably with ParquetSource — projection/rename,
    normalization, and row accounting all run identically."""
    from parquet_to_sql_spark.sources.files import CsvSource

    csv_dir = tmp_path / "in_csv"
    csv_dir.mkdir()
    (csv_dir / "part0.csv").write_text("id,name,score\n1,alice,9.5\n2,bob,\n")
    db = str(tmp_path / "csv.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE people (person_id BIGINT, name VARCHAR, score DOUBLE)")
    con.close()

    importer = Importer(spark, DuckDbSink(db))
    result = importer.import_(
        None, "people", column_map={"id": "person_id"},
        reader=CsvSource(spark, str(csv_dir)),
    )
    assert result.rows_imported == 2

    con = duckdb.connect(db)
    rows = con.execute("SELECT * FROM people ORDER BY person_id").fetchall()
    con.close()
    assert rows == [(1, "alice", 9.5), (2, "bob", None)]


def test_cli_file_sink_lands_parquet_lake(spark, tmp_path, monkeypatch):
    """--sink file: the import lands at <base>/<table> in the chosen
    format, with rename applied and rows_imported from the write
    action's Observation (not a source re-scan)."""
    import json

    from parquet_to_sql_spark import cli

    out = []
    monkeypatch.setattr("builtins.print", lambda *a, **k: out.append(a[0] if a else ""))
    # reuse the session fixture: cli calls get_spark() which returns
    # the active session
    rc = cli.main(
        [
            "/root/testdata/sf0.001/customer.parquet",
            "users",
            "--map", "c_custkey=user_id",
            "--connection", str(tmp_path / "lake"),
            "--sink", "file",
            "--format", "parquet",
            "--truncate",
        ]
    )
    assert rc == 0
    result = json.loads(out[-1])
    back = spark.read.parquet(str(tmp_path / "lake" / "users"))
    assert result["rows_imported"] == back.count() == 150
    assert "user_id" in back.columns and "c_custkey" not in back.columns

    # without --sink and --connection the CLI falls back to the
    # PARQUET_TO_SQL_* environment (no config file in the cwd)
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PARQUET_TO_SQL_CONFIG", raising=False)
    monkeypatch.setenv("PARQUET_TO_SQL_SINK", "file")
    monkeypatch.setenv("PARQUET_TO_SQL_CONNECTION", str(tmp_path / "env_lake"))
    rc = cli.main(["/root/testdata/sf0.001/customer.parquet", "users"])
    assert rc == 0
    back = spark.read.parquet(str(tmp_path / "env_lake" / "users"))
    assert json.loads(out[-1])["rows_imported"] == back.count() == 150


def test_avro_source_roundtrip_all_types(spark, tmp_path):
    """Pure-stdlib Avro source: write container files with the minimal
    test writer (null + deflate codecs, multiple blocks), read them
    back through the registered `pyavro` DataSource, and check values
    for every supported shape — nullable union, nested record, array,
    map, enum, bytes, date and timestamp-micros logical types.  Two
    files in the directory -> two input partitions."""
    import datetime

    from parquet_to_sql_spark.sources.avro import AvroDataSource, write_avro

    schema = {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "score", "type": "double"},
            {"name": "flag", "type": "boolean"},
            {"name": "tags", "type": {"type": "array", "items": "int"}},
            {"name": "props", "type": {"type": "map", "values": "long"}},
            {"name": "kind", "type": {"type": "enum", "name": "K",
                                      "symbols": ["A", "B"]}},
            {"name": "blob", "type": "bytes"},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-micros"}},
            {"name": "nested", "type": {
                "type": "record", "name": "N",
                "fields": [{"name": "x", "type": "int"},
                           {"name": "y", "type": ["null", "double"]}]}},
        ],
    }

    def row(i):
        return {
            "id": i,
            "name": None if i % 3 == 0 else f"n{i}",
            "score": i * 1.5,
            "flag": i % 2 == 0,
            "tags": [i, i + 1],
            "props": {"a": i * 10},
            "kind": "A" if i % 2 else "B",
            "blob": bytes([i % 256, 255]),
            "d": i,  # days since epoch
            "ts": i * 1_000_000 + 123_456,  # micros since epoch
            "nested": {"x": i, "y": None if i % 2 else i / 4},
        }

    adir = tmp_path / "avrodir"
    adir.mkdir()
    write_avro(str(adir / "p0.avro"), schema, [row(i) for i in range(0, 50)],
               codec="null", rows_per_block=7)
    write_avro(str(adir / "p1.avro"), schema, [row(i) for i in range(50, 80)],
               codec="deflate", rows_per_block=13)

    spark.dataSource.register(AvroDataSource)
    df = spark.read.format("pyavro").load(str(adir))
    assert df.rdd.getNumPartitions() == 2
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 80
    r7 = rows[7]
    assert r7.name == "n7" and r7.kind == "A" and r7.flag is False
    assert r7.tags == [7, 8] and r7.props == {"a": 70}
    assert bytes(r7.blob) == bytes([7, 255])
    assert r7.d == datetime.date(1970, 1, 8)
    assert r7.ts == datetime.datetime(1970, 1, 1, 0, 0, 7, 123456)
    assert r7.nested.x == 7 and r7.nested.y is None  # odd i -> null branch
    assert rows[8].nested.y == 2.0
    assert rows[6].name is None
    assert rows[63].score == 63 * 1.5  # deflate-coded file decodes too

    # schema fidelity
    ddl = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    assert ddl["name"] == "string" and ddl["tags"] == "array<int>"
    assert ddl["props"] == "map<string,bigint>" and ddl["blob"] == "binary"
    assert ddl["d"] == "date" and ddl["ts"] == "timestamp_ntz"
    assert ddl["nested"] == "struct<x:int,y:double>"


def test_insert_sql_literal_branches(spark):
    """Literal rendering for the live INSERT fallback, in the JVM
    (normalize.sql_literal over a LocalRelation): every branch,
    including the ones a round-trip test can't pin (NaN/Infinity
    spellings, quoted floats, quote doubling)."""
    from decimal import Decimal

    import pyspark.sql.functions as F

    from parquet_to_sql_spark.normalize import sql_literal
    from parquet_to_sql_spark.session import local_relation

    cases = [  # (DDL type, value, literal)
        ("int", None, "NULL"),
        ("boolean", True, "TRUE"),
        ("boolean", False, "FALSE"),
        ("bigint", 42, "42"),
        ("decimal(7,2)", Decimal("12345.67"), "12345.67"),
        ("double", 2.5, "'2.5'"),
        ("double", -0.0, "'-0.0'"),
        ("double", float("nan"), "'NaN'"),
        ("double", float("inf"), "'Infinity'"),
        ("double", float("-inf"), "'-Infinity'"),
        ("binary", b"\x00A", "'\\x0041'"),
        ("binary", b"\xff", "'\\xff'"),
        ("string", "it's", "'it''s'"),
        # backslashes stay literal under standard_conforming_strings
        ("string", "a\\b", "'a\\b'"),
    ]
    ddl = ", ".join(f"c{i} {t}" for i, (t, _, _) in enumerate(cases))
    df = local_relation(spark, [tuple(v for _, v, _ in cases)], ddl)
    (row,) = df.select(
        *[sql_literal(F.col(f.name), f.dataType) for f in df.schema.fields]
    ).collect()
    assert list(row) == [lit for _, _, lit in cases]


def test_avro_mixed_schema_directory_projects_by_name(spark, tmp_path):
    """Files written with reordered fields (routine Avro schema
    evolution) must project by NAME into the declared schema — never
    positionally (silent column misalignment)."""
    from parquet_to_sql_spark.sources.avro import AvroDataSource, write_avro

    sch_a = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
        ],
    }
    sch_b = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "name", "type": ["null", "string"]},
            {"name": "id", "type": "long"},
        ],
    }
    write_avro(str(tmp_path / "a.avro"), sch_a, [(1, "alice"), (2, None)])
    write_avro(str(tmp_path / "b.avro"), sch_b, [("bob", 3)])
    try:
        spark.dataSource.register(AvroDataSource)
    except Exception:
        pass  # already registered in this session
    rows = sorted(
        tuple(r) for r in spark.read.format("pyavro").load(str(tmp_path)).collect()
    )
    assert rows == [(1, "alice"), (2, None), (3, "bob")]


def test_avro_writer_union_picks_branch_by_type():
    """The union encoder must match the VALUE's type, not take the
    first non-null branch (which silently mis-encodes)."""
    import io

    import pytest

    from parquet_to_sql_spark.sources.avro import _encoder_for

    enc = _encoder_for(["null", "string", "long"])
    out = io.BytesIO()
    enc(out, 5)  # must pick the 'long' branch (index 2), not 'string'
    assert out.getvalue()[0] == 4  # zigzag(2)
    with pytest.raises(ValueError, match="no union branch"):
        enc(io.BytesIO(), 1.5)


def test_jdbc_partitioned_requires_bounds(spark):
    import pytest

    from parquet_to_sql_spark.sources.jdbc import JdbcSource

    src = JdbcSource(
        spark, "jdbc:duckdb:", "t", partition_column="id", num_partitions=4
    )
    with pytest.raises(ValueError, match="lower_bound and upper_bound"):
        src.load()


def test_import_requires_path_or_reader(spark):
    import pytest

    from parquet_to_sql_spark.importer import Importer
    from parquet_to_sql_spark.sinks.duckdb_sink import DuckDbSink

    imp = Importer(spark, DuckDbSink(":memory:"))
    with pytest.raises(ValueError, match="path or an injected reader"):
        imp.import_(None, "t")


def test_binaryfile_manifest_matches_duckdb_read_blob(spark):
    """source_binaryfile_manifest is rows-only at the driver gate
    (DuckDB 1.0 read_blob takes only constant paths, and oracle SQL
    can't know the checker's sf dir) — so the value-exact evidence
    lives HERE, with the path inlined, at two scale factors."""
    import duckdb

    from parquet_to_sql_spark.queries.registry import all_queries

    q = all_queries()["source_binaryfile_manifest"]
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(
            (r.fname, r.n_bytes, r.content_sha256)
            for r in q.build(spark, sf_dir).collect()
        )
        want = sorted(
            map(
                tuple,
                duckdb.sql(
                    "SELECT regexp_extract(filename, '([^/]+)$', 1),"
                    " CAST(size AS BIGINT), sha256(hex(content))"
                    f" FROM read_blob('{sf_dir}/*.parquet')"
                ).fetchall(),
            )
        )
        assert got == want and len(got) == 10


def test_parquet_footer_stats_match_duckdb_parquet_metadata(spark):
    """source_parquet_footer_stats' VALUE-exact mirror (the gate row
    is rows-only because DuckDB's parquet_metadata() takes only
    constant paths): per (table, row group), row counts and the key
    column's min/max must equal DuckDB's read of the same footers —
    at sf0.01 AND sf0.1 with the paths inlined."""
    import duckdb

    from parquet_to_sql_spark.queries.importing import (
        _FOOTER_TABLES,
        source_parquet_footer_stats,
    )

    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        got = {
            (r.tbl, r.rg): (r.n_rows, r.key_min, r.key_max)
            for r in source_parquet_footer_stats(spark, sf_dir).collect()
        }
        con = duckdb.connect()
        want = {}
        for tbl, key in _FOOTER_TABLES:
            for rg, n, mn, mx in con.execute(
                f"SELECT row_group_id, row_group_num_rows,"
                f" stats_min, stats_max"
                f" FROM parquet_metadata('{sf_dir}/{tbl}.parquet')"
                f" WHERE path_in_schema = '{key}'"
            ).fetchall():
                want[(tbl, rg)] = (n, int(mn), int(mx))
        assert got == want and len(got) >= len(_FOOTER_TABLES)
