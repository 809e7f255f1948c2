"""Value-normalization semantics of the reference, as Column expressions.

The reference normalizes row values twice (ParquetImporter.php):
  * normalizeValue (:181-202, INSERT path): DateTime -> 'Y-m-d
    H:i:s.uP' string (microseconds + UTC offset), nested array/object
    -> JSON string (unescaped unicode/slashes), resource -> null,
    scalars passthrough.
  * formatCopyValue (:151-179, COPY path): same plus null -> \\N,
    bool -> 1/0, and escaping of backslash/TAB/CR/LF for the COPY
    text protocol.

Here both become vectorized Column expressions (JVM-side, codegen —
never per-row Python): ``copy_value`` renders COPY text and
``sql_literal`` its INSERT twin, a SQL literal, so the two PostgreSQL
sinks put the same values into the server.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

# PHP 'Y-m-d H:i:s.uP' with a UTC session: microseconds + '+00:00'
# (ParquetImporter.php:161-163; pinned by tests/ParquetImporterTest.php:112-118)
TIMESTAMP_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSSxxx"
COPY_NULL = r"\N"


def _is_nested(dt: T.DataType) -> bool:
    return isinstance(dt, (T.StructType, T.ArrayType, T.MapType))


def _is_timestamp(dt: T.DataType) -> bool:
    # Parquet timestamps read as TIMESTAMP or (when not UTC-adjusted,
    # Spark 4 default inference) TIMESTAMP_NTZ; normalize both.
    return isinstance(dt, (T.TimestampType, T.TimestampNTZType))


def normalize_column(col: Column, dt: T.DataType) -> Column:
    """INSERT-path normalization of one column (normalizeValue parity)."""
    if _is_nested(dt):
        # PHP json_encode(JSON_UNESCAPED_UNICODE|JSON_UNESCAPED_SLASHES):
        # Spark's to_json leaves unicode and slashes unescaped too.
        return F.to_json(col)
    if _is_timestamp(dt):
        return F.date_format(col.cast("timestamp"), TIMESTAMP_FMT)
    return col


def normalize_for_insert(df: DataFrame) -> DataFrame:
    """Apply INSERT-path normalization to every column."""
    return df.select(
        *[normalize_column(F.col(f.name), f.dataType).alias(f.name) for f in df.schema.fields]
    )


def copy_escape(col: Column) -> Column:
    r"""Escape a string for the COPY text protocol: \ -> \\, TAB -> \t,
    CR -> \r, LF -> \n (ParquetImporter.php:173-178). Backslash first,
    so escapes are not double-escaped.

    The replace chain only runs on rows that actually CONTAIN a
    special (one rlike scan guards it): each F.replace rebuilds the
    string, so on clean data — the overwhelming hot path for COPY
    rendering — this trades 4 rebuild passes per value for 1 regex
    scan.  `when` branches evaluate lazily per row in codegen, so
    clean rows never execute the replaces; null propagates through
    both branches identically (rlike(null) is null -> otherwise
    branch -> replace(null) is null)."""
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    escaped = F.replace(c, F.lit("\n"), F.lit("\\n"))
    return F.when(col.rlike("[\\\\\t\r\n]"), escaped).otherwise(col)


def interval_text(col: Column, dt: T.DataType) -> Column:
    """An interval as sign-safe PostgreSQL interval input: its total
    ``'<n> microseconds'`` (day-time) or ``'<n> months'`` (year-month).

    Spark's cast-to-string is the SQL literal form ("INTERVAL '-1
    02:03:04' DAY TO SECOND"); neither it nor its quoted inner value is
    safe PG input — PG (default IntervalStyle) treats each field as
    independently signed, so '-1 02:03:04' parses as -1 days
    +02:03:04, silently corrupting negative intervals ('-1-2' likewise
    reads as -1 year +2 mons).  A day-time value is cast to DAY TO
    SECOND (so the decimal cast yields seconds for every
    start/end-field shape), then to DECIMAL(28,6) — exact over the full
    ±~106M-day range — and scaled to integral microseconds; a
    year-month value cast to a MONTH end field gives its exact total
    months for both YEAR and YEAR TO MONTH shapes.  Neither form holds
    a COPY special or a quote."""
    if isinstance(dt, T.YearMonthIntervalType):
        months = col.cast("interval month").cast("int")
        return F.concat(months.cast("string"), F.lit(" months"))
    us = (col.cast("interval day to second").cast("decimal(28,6)") * 1000000).cast("long")
    return F.concat(us.cast("string"), F.lit(" microseconds"))


def copy_value(col: Column, dt: T.DataType) -> Column:
    """COPY-path rendering of one column to its text-protocol form
    (formatCopyValue parity): null -> \\N, bool -> 1/0, timestamp ->
    formatted, nested -> JSON, strings escaped."""
    if isinstance(dt, T.BooleanType):
        # two-branch when: a null bool stays null -> coalesced to \N
        rendered = F.when(col, F.lit("1")).when(~col, F.lit("0"))
    elif _is_timestamp(dt):
        rendered = F.date_format(col.cast("timestamp"), TIMESTAMP_FMT)
    elif _is_nested(dt):
        rendered = copy_escape(F.to_json(col))
    elif isinstance(dt, T.StringType):
        rendered = copy_escape(col)
    elif isinstance(dt, T.BinaryType):
        # Postgres bytea hex-input form: \x<hex>. A UTF-8 cast would
        # mangle arbitrary bytes and raw tab/newline bytes would split
        # the COPY line; hex is lossless and contains no specials.
        # (The leading backslash itself must be escaped on the wire,
        # hence the literal \\x.)
        rendered = F.concat(F.lit("\\\\x"), F.lower(F.hex(col)))
    elif isinstance(dt, (T.DayTimeIntervalType, T.YearMonthIntervalType)):
        rendered = interval_text(col, dt)
    elif isinstance(dt, (T.NumericType, T.DateType)):
        # provably no COPY specials in their string forms; skipping the
        # escape keeps the hot render path one expression per column
        rendered = col.cast("string")
    else:
        # exotic/unknown types: escape defensively after stringifying
        # (reference escapes EVERY stringified value,
        # ParquetImporter.php:173-176)
        rendered = copy_escape(col.cast("string"))
    return F.coalesce(rendered, F.lit(COPY_NULL))


def copy_lines(df: DataFrame) -> DataFrame:
    """Render a DataFrame to single-column COPY text lines
    (TAB-joined, buildCopyLines parity — ParquetImporter.php:136-149).

    Stays fully vectorized in the JVM.  The COPY sink appends each
    line's newline, takes the column as Arrow record batches
    (``mapInArrow``) and sends each transaction's lines as one byte
    range of the Arrow data buffer, so Python touches bytes only at
    the socket and never builds a per-row object."""
    parts = [copy_value(F.col(f.name), f.dataType) for f in df.schema.fields]
    return df.select(F.concat_ws("\t", *parts).alias("line"))


def _quoted(text: Column) -> Column:
    """``'text'`` with every ``'`` doubled (the INSERT sink turns
    standard_conforming_strings on, so backslashes stay literal)."""
    return F.concat(F.lit("'"), F.replace(text, F.lit("'"), F.lit("''")), F.lit("'"))


def sql_literal(col: Column, dt: T.DataType) -> Column:
    r"""INSERT-path rendering of one column to a PostgreSQL SQL literal,
    the twin of ``copy_value``: null -> NULL, bool -> TRUE/FALSE,
    binary -> bytea hex ``'\x...'``, integers and decimals -> their
    text, everything else quoted text.  Floats are quoted too, so
    float8in/float4in read -0.0, NaN, ±Infinity and subnormals from
    the same text COPY sends (unquoted, ``-0.0`` is the negation of
    ``0.0`` and lands as +0).  Nested values and timestamps take
    ``normalize_column``'s form, intervals ``interval_text``'s."""
    if isinstance(dt, T.BooleanType):
        rendered = F.when(col, F.lit("TRUE")).when(~col, F.lit("FALSE"))
    elif isinstance(dt, (T.IntegralType, T.DecimalType)):
        rendered = col.cast("string")
    elif isinstance(dt, T.BinaryType):
        rendered = F.concat(F.lit("'\\x"), F.lower(F.hex(col)), F.lit("'"))
    elif isinstance(dt, (T.DayTimeIntervalType, T.YearMonthIntervalType)):
        rendered = _quoted(interval_text(col, dt))
    else:
        rendered = _quoted(normalize_column(col, dt).cast("string"))
    return F.coalesce(rendered, F.lit("NULL"))
