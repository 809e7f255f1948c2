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
never per-row Python), applied by the Importer before a sink.
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
    elif isinstance(dt, T.DayTimeIntervalType):
        # Spark's cast-to-string is the SQL literal form
        # ("INTERVAL '-1 02:03:04' DAY TO SECOND"); neither it nor its
        # quoted inner value is safe PG input — PG (default
        # IntervalStyle) treats each field as independently signed, so
        # '-1 02:03:04' parses as -1 days +02:03:04, silently
        # corrupting negative intervals.  Render the total-microsecond
        # count instead: cast to DAY TO SECOND (so the decimal cast
        # yields seconds for every start/end-field shape), then to
        # DECIMAL(28,6) — exact over the full ±~106M-day range — and
        # scale to integral microseconds.  '<n> microseconds' is
        # unambiguous, sign-safe PG interval input with no COPY
        # specials.
        us = (col.cast("interval day to second").cast("decimal(28,6)") * 1000000).cast(
            "long"
        )
        rendered = F.concat(us.cast("string"), F.lit(" microseconds"))
    elif isinstance(dt, T.YearMonthIntervalType):
        # Same sign hazard for '-1-2' (PG: -1 year +2 mons); render the
        # total-month count — cast to MONTH end field gives exact total
        # months for both YEAR and YEAR TO MONTH shapes.
        months = col.cast("interval month").cast("int")
        rendered = F.concat(months.cast("string"), F.lit(" months"))
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
