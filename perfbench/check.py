"""Output checks: order-insensitive value hashes and import checksums.

A query op is correct when the hash of its collected rows equals the
hash of its DuckDB oracle on the same inputs.  The hash follows
``scripts/verify_driver.py``: columns sorted by name, every row
rendered to strings, rows sorted, sha256.  It renders the engines'
native Python values (Spark ``Row``s, DuckDB ``fetchall`` tuples)
rather than pandas frames, so both sides pass through one canonical
form: timestamps as naive UTC, structs as name-sorted mappings,
arrays element by element, floats by ``repr``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os

_UTC = dt.timezone.utc


def canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_UTC).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    as_dict = getattr(v, "asDict", None)  # pyspark Row (a struct value)
    if as_dict is not None:
        return canon(as_dict())
    if isinstance(v, dict):
        items = sorted((canon(k), canon(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def value_hash(columns: list[str], rows) -> str:
    """Hash of a result set, independent of row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\t".join(canon(row[i]) for i in order) for row in rows)
    h = hashlib.sha256("\t".join(columns[i] for i in order).encode())
    h.update(b"\n")
    h.update("\n".join(lines).encode())
    return h.hexdigest()[:16]


def oracle_hash(data_dir: str, sql: str) -> str:
    """Hash of the oracle SQL's result over the parquet files in
    ``data_dir``, each registered as a view named after its file."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        columns = [d[0] for d in cur.description]
        return value_hash(columns, cur.fetchall())
    finally:
        con.close()


# ---------------------------------------------------------------- imports
#
# One exact aggregate per column that PostgreSQL (over the imported
# rows) and DuckDB (over the parquet file) compute identically: the
# non-null count plus a type-specific sum.  Money-like doubles carry two
# decimals, so they are summed in cents; timestamps are summed in epoch
# microseconds; strings by length and by the first 28 bits of md5.


def _sum_expr(col: str, kind: str, engine: str) -> str:
    q = f'"{col}"'
    if kind == "int":
        return f"sum({q})"
    if kind == "double":
        return f"sum(round({q} * 100)::bigint)"
    if kind == "timestamp":
        if engine == "pg":
            return f"sum((extract(epoch from {q}) * 1000000)::bigint)"
        return f"sum(epoch_us({q}))"
    if kind == "string":
        if engine == "pg":
            return f"sum(length({q})) + sum(('x0' || substr(md5({q}), 1, 7))::bit(32)::int)"
        return f"sum(length({q})) + sum(('0x' || substr(md5({q}), 1, 7))::INTEGER)"
    raise ValueError(f"no checksum for column kind {kind!r}")


def column_kinds(schema) -> dict[str, str]:
    """{column: kind} from a pyarrow schema."""
    import pyarrow.types as pt

    kinds = {}
    for field in schema:
        t = field.type
        if pt.is_integer(t):
            kinds[field.name] = "int"
        elif pt.is_floating(t):
            kinds[field.name] = "double"
        elif pt.is_timestamp(t):
            kinds[field.name] = "timestamp"
        elif pt.is_string(t) or pt.is_large_string(t):
            kinds[field.name] = "string"
        else:
            raise ValueError(f"no checksum for column {field.name}: {t}")
    return kinds


def checksum_sql(table: str, kinds: dict[str, str], engine: str) -> str:
    parts = ["count(*)::bigint"]
    for col, kind in kinds.items():
        parts.append(f'count("{col}")::bigint')
        parts.append(_sum_expr(col, kind, engine))  # numeric / hugeint: no overflow
    return f"SELECT {', '.join(parts)} FROM {table}"


def parquet_checksum(path: str, kinds: dict[str, str]) -> tuple[int, ...]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        sql = checksum_sql(f"read_parquet('{path}')", kinds, "duckdb")
        return tuple(int(x) for x in con.execute(sql).fetchone())
    finally:
        con.close()
