"""Engine configuration — parity with the reference's published config.

The reference publishes a user-editable config file whose every key
falls back to an environment variable, then a default
(config/parquet-to-sql.php:5-11, merged + published by
ParquetToSqlServiceProvider.php:12-31). Same three keys here, same
env-var names, plus the sink kind (the Spark engine has the four sinks
of SINK_KINDS where the reference has one connection abstraction).

Precedence, highest first (documented contract):
  1. explicit value in an ImportJob spec / CLI flag
  2. the config file (JSON; $PARQUET_TO_SQL_CONFIG, else
     ./parquet-to-sql.json if present)
  3. environment variables (PARQUET_TO_SQL_CONNECTION,
     PARQUET_TO_SQL_BATCH_SIZE, PARQUET_TO_SQL_COPY_TIMEOUT,
     PARQUET_TO_SQL_SINK)
  4. built-in defaults (batch 5000, timeout 300 s — the reference's
     numbers; sink "pg" — the reference's COPY with its batched-INSERT
     fallback)

Every default is defined here once; the sinks and the CLI import them.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

DEFAULT_BATCH_SIZE = 5000  # config/parquet-to-sql.php:8
DEFAULT_COPY_TIMEOUT = 300  # config/parquet-to-sql.php:11
DEFAULT_SINK = "pg"
SINK_KINDS = ("copy", "pg", "duckdb", "file")
CONFIG_ENV = "PARQUET_TO_SQL_CONFIG"
CONFIG_BASENAME = "parquet-to-sql.json"

_ENV_KEYS = {
    "connection": "PARQUET_TO_SQL_CONNECTION",
    "batch_size": "PARQUET_TO_SQL_BATCH_SIZE",
    "copy_timeout": "PARQUET_TO_SQL_COPY_TIMEOUT",
    "sink": "PARQUET_TO_SQL_SINK",
}


@dataclass(frozen=True)
class EngineConfig:
    connection: str | None = None
    batch_size: int = DEFAULT_BATCH_SIZE
    copy_timeout: int = DEFAULT_COPY_TIMEOUT
    sink: str = DEFAULT_SINK

    def to_dict(self) -> dict:
        return asdict(self)


def _config_file_values(path: str | None) -> dict:
    """Values from the JSON config file, if one exists."""
    candidate = path or os.environ.get(CONFIG_ENV) or CONFIG_BASENAME
    if not os.path.isfile(candidate):
        return {}
    with open(candidate) as f:
        data = json.load(f)
    if not isinstance(data, dict):
        raise ValueError(f"config file {candidate!r} must hold a JSON object")
    unknown = set(data) - set(_ENV_KEYS)
    if unknown:
        raise ValueError(f"unknown config keys in {candidate!r}: {sorted(unknown)}")
    return data


def load_config(path: str | None = None, **overrides) -> EngineConfig:
    """Resolve the engine config with the documented precedence.

    ``overrides`` are the spec/CLI layer (highest precedence); ``path``
    points at an explicit config file (else $PARQUET_TO_SQL_CONFIG,
    else ./parquet-to-sql.json).
    """
    resolved: dict = {}
    file_vals = _config_file_values(path)
    for key, env_name in _ENV_KEYS.items():
        if overrides.get(key) is not None:
            resolved[key] = overrides[key]
        elif key in file_vals and file_vals[key] is not None:
            resolved[key] = file_vals[key]
        elif os.environ.get(env_name) is not None:
            resolved[key] = os.environ[env_name]
    cfg = EngineConfig(
        connection=resolved.get("connection"),
        batch_size=int(resolved.get("batch_size", DEFAULT_BATCH_SIZE)),
        copy_timeout=int(resolved.get("copy_timeout", DEFAULT_COPY_TIMEOUT)),
        sink=str(resolved.get("sink", DEFAULT_SINK)),
    )
    if cfg.sink not in SINK_KINDS:
        raise ValueError(f"unknown sink kind {cfg.sink!r} ({'|'.join(SINK_KINDS)})")
    return cfg


def build_sink(cfg: EngineConfig, *, file_format: str = "parquet"):
    """Instantiate the configured sink (the DI layer the reference's
    service provider plays — ParquetToSqlServiceProvider.php:14-20).
    The ONE sink dispatch — the CLI and ImportJob resolve their values
    through load_config and delegate here.  ``file_format`` only
    applies to the `file` sink, where ``connection`` is the lake base
    directory."""
    if cfg.connection is None:
        raise ValueError("no connection configured (spec/file/env)")
    if cfg.sink == "file":
        from parquet_to_sql_spark.sinks.files import FileSink

        return FileSink(cfg.connection, format=file_format)
    if cfg.sink == "duckdb":
        from parquet_to_sql_spark.sinks.duckdb_sink import DuckDbSink

        return DuckDbSink(cfg.connection, batch_size=cfg.batch_size)
    if cfg.sink == "copy":
        from parquet_to_sql_spark.sinks.copy_pg import CopySink

        return CopySink(
            cfg.connection, batch_size=cfg.batch_size, timeout_s=cfg.copy_timeout
        )
    if cfg.sink == "pg":
        # runtime capability probe: COPY when available, bulk INSERT
        # otherwise (ParquetImporter.php:98 parity)
        from parquet_to_sql_spark.sinks.insert_pg import choose_sink

        return choose_sink(
            cfg.connection, batch_size=cfg.batch_size, timeout_s=cfg.copy_timeout
        )
    raise ValueError(f"unknown sink kind {cfg.sink!r} ({'|'.join(SINK_KINDS)})")
