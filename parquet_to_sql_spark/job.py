"""Serializable import job — the queued/async entry point.

Parity with the reference's queue artifact
(src/ImportParquetJob.php:15-41): a job is pure serializable data
(path, table, columnMap, connectionName, truncateBeforeImport) that a
scheduler stores and a worker later executes against the configured
importer. Here the job is a frozen dataclass with a JSON wire form —
anything that can move a JSON object (cron, Airflow, a queue, a
spark-submit wrapper) can schedule it:

    spec = ImportJob(path=..., table=..., connection=...).to_json()
    ...                      # park it anywhere
    ImportJob.from_json(spec).handle()   # on the worker

CLI runner (the worker shell):
    python -m parquet_to_sql_spark.job run spec.json

Like the reference's handle() (ImportParquetJob.php:27-40), a job that
names its own connection gets a sink built fresh from that connection
with config-resolved batch/timeout; otherwise the config layer's
connection is used.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys

from pyspark.sql import SparkSession

from parquet_to_sql_spark.config import load_config, build_sink
from parquet_to_sql_spark.importer import Importer
from parquet_to_sql_spark.result import ImportResult

_SPEC_VERSION = 1


@dataclasses.dataclass(frozen=True)
class ImportJob:
    """One queued import (ImportParquetJob.php:15-25 field-for-field;
    `sink`/`batch_size`/`timeout_s` extend it because the Spark engine
    has four sink kinds, config.SINK_KINDS, behind the reference's
    single connection)."""

    path: str
    table: str
    column_map: dict[str, str] = dataclasses.field(default_factory=dict)
    connection: str | None = None
    truncate: bool = False
    sink: str | None = None
    batch_size: int | None = None
    timeout_s: int | None = None

    # ------------------------------------------------------ wire form
    def to_dict(self) -> dict:
        d = dataclasses.asdict(self)
        d["version"] = _SPEC_VERSION
        return d

    def to_json(self) -> str:
        return json.dumps(self.to_dict(), sort_keys=True)

    @classmethod
    def from_dict(cls, d: dict) -> "ImportJob":
        d = dict(d)
        version = d.pop("version", _SPEC_VERSION)
        if version != _SPEC_VERSION:
            raise ValueError(f"unsupported job spec version {version!r}")
        unknown = set(d) - {f.name for f in dataclasses.fields(cls)}
        if unknown:
            raise ValueError(f"unknown job spec fields: {sorted(unknown)}")
        for required in ("path", "table"):
            if not d.get(required):
                raise ValueError(f"job spec missing required field {required!r}")
        return cls(
            path=str(d["path"]),
            table=str(d["table"]),
            column_map={str(k): str(v) for k, v in (d.get("column_map") or {}).items()},
            connection=d.get("connection"),
            truncate=bool(d.get("truncate", False)),
            sink=d.get("sink"),
            batch_size=None if d.get("batch_size") is None else int(d["batch_size"]),
            timeout_s=None if d.get("timeout_s") is None else int(d["timeout_s"]),
        )

    @classmethod
    def from_json(cls, s: str) -> "ImportJob":
        return cls.from_dict(json.loads(s))

    # ------------------------------------------------------ execution
    def handle(
        self, spark: SparkSession | None = None, config_path: str | None = None
    ) -> ImportResult:
        """Execute the job (ImportParquetJob::handle parity): resolve
        the sink through the config layer — job fields override file/
        env values — and run the import."""
        cfg = load_config(
            path=config_path,
            connection=self.connection,
            sink=self.sink,
            batch_size=self.batch_size,
            copy_timeout=self.timeout_s,
        )
        if spark is None:
            from parquet_to_sql_spark.session import get_spark

            spark = get_spark(app_name=f"import-job:{self.table}")
        importer = Importer(spark, build_sink(cfg))
        return importer.import_(
            self.path, self.table, column_map=self.column_map, truncate=self.truncate
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m parquet_to_sql_spark.job",
        description="Run a serialized import job spec",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run", help="execute a JSON job spec")
    run.add_argument("spec", help="path to the job spec JSON file, or '-' for stdin")
    run.add_argument("--config", default=None, help="engine config file (JSON)")
    args = ap.parse_args(argv)

    raw = sys.stdin.read() if args.spec == "-" else open(args.spec).read()
    job = ImportJob.from_json(raw)
    result = job.handle(config_path=args.config)
    print(json.dumps(result.to_dict()))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
