"""CLI entry point — parity with Commands/ImportParquetCommand.php.

Reference signature (ImportParquetCommand.php:10-17):
  parquet:import {path} {table} {--map=*} {--connection=} {--batch=}
                 {--timeout=} {--truncate}

Here:
  python -m parquet_to_sql_spark.cli PATH TABLE [--map src=dst ...]
      [--connection URL] [--batch N] [--timeout S] [--truncate]
      [--sink {copy,pg,duckdb,file}] [--format {parquet,csv,json,orc}]

Like the reference's options (ImportParquetCommand.php:24-26), an
omitted --connection/--batch/--timeout/--sink falls back to the
config file, then the PARQUET_TO_SQL_* environment variables, then
the defaults (config.load_config).

For --sink file, --connection is the base DIRECTORY of the lake; the
import lands at <connection>/<table> in --format.

Malformed --map pairs (no '=') warn and are skipped, matching
ImportParquetCommand.php:55-59.
"""

from __future__ import annotations

import argparse
import json
import sys

from parquet_to_sql_spark.config import SINK_KINDS, build_sink, load_config
from parquet_to_sql_spark.importer import Importer
from parquet_to_sql_spark.session import get_spark


def parse_column_map(pairs: list[str]) -> dict[str, str]:
    """--map a=b pairs -> dict; warn+skip malformed entries
    (ImportParquetCommand.php:52-66)."""
    out: dict[str, str] = {}
    for pair in pairs:
        if "=" not in pair:
            print(f"warning: skipping malformed --map entry {pair!r} (expected src=dst)",
                  file=sys.stderr)
            continue
        src, dst = pair.split("=", 1)
        src, dst = src.strip(), dst.strip()
        if not src or not dst:
            print(f"warning: skipping malformed --map entry {pair!r} (empty side)",
                  file=sys.stderr)
            continue
        out[src] = dst
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="parquet-import",
                                 description="Import Parquet into a SQL table (Spark-powered)")
    ap.add_argument("path")
    ap.add_argument("table")
    ap.add_argument("--map", action="append", default=[], metavar="SRC=DST")
    ap.add_argument("--connection",
                    help="Postgres DSN / DuckDB file / lake directory per --sink")
    ap.add_argument("--batch", type=int)
    ap.add_argument("--timeout", type=int)
    ap.add_argument("--truncate", action="store_true")
    ap.add_argument("--sink", choices=SINK_KINDS)
    ap.add_argument("--format", choices=["parquet", "csv", "json", "orc"],
                    default="parquet", help="output format for --sink file")
    args = ap.parse_args(argv)
    try:
        cfg = load_config(
            connection=args.connection,
            batch_size=args.batch,
            copy_timeout=args.timeout,
            sink=args.sink,
        )
        sink = build_sink(cfg, file_format=args.format)
    except ValueError as exc:  # no connection anywhere, bad config value
        ap.error(str(exc))

    spark = get_spark(app_name="parquet-import")
    importer = Importer(spark, sink)
    result = importer.import_(
        args.path,
        args.table,
        column_map=parse_column_map(args.map),
        truncate=args.truncate,
    )
    print(json.dumps(result.to_dict()))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
