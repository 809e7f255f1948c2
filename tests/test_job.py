"""Queued-entry (ImportJob) and config-layer tests — parity with the
reference's serializable job (src/ImportParquetJob.php:15-41) and
published config with env fallbacks (config/parquet-to-sql.php:5-11)."""

from __future__ import annotations

import json
import subprocess
import sys

import duckdb
import pytest

from parquet_to_sql_spark.config import EngineConfig, load_config
from parquet_to_sql_spark.job import ImportJob


# ------------------------------------------------------ spec wire form
def test_job_spec_roundtrip_is_lossless():
    job = ImportJob(
        path="/data/x.parquet",
        table="public.users",
        column_map={"a": "b"},
        connection="postgresql://h/db",
        truncate=True,
        sink="copy",
        batch_size=1000,
        timeout_s=60,
    )
    assert ImportJob.from_json(job.to_json()) == job


def test_job_spec_minimal_defaults():
    job = ImportJob.from_json('{"path": "/p.parquet", "table": "t"}')
    assert job.column_map == {} and job.connection is None
    assert job.truncate is False and job.sink is None


@pytest.mark.parametrize(
    "spec",
    [
        '{"table": "t"}',
        '{"path": "/p"}',
        '{"path": "/p", "table": "t", "nope": 1}',
        '{"path": "/p", "table": "t", "version": 99}',
    ],
)
def test_job_spec_rejects_bad_specs(spec):
    with pytest.raises(ValueError):
        ImportJob.from_json(spec)


# ------------------------------------------------- execute (handle())
def test_job_handle_executes_import(spark, tmp_path):
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(1, "alice"), (2, "bob")], "id long, name string"
    ).coalesce(1).write.parquet(src)
    db = str(tmp_path / "j.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE people (person_id BIGINT, name VARCHAR)")
    con.close()

    wire = ImportJob(
        path=src, table="people", column_map={"id": "person_id"},
        connection=db, sink="duckdb",
    ).to_json()
    result = ImportJob.from_json(wire).handle(spark=spark)
    assert result.rows_imported == 2 and result.table == "people"

    con = duckdb.connect(db)
    rows = con.execute("SELECT * FROM people ORDER BY person_id").fetchall()
    con.close()
    assert rows == [(1, "alice"), (2, "bob")]


def test_job_cli_runner_end_to_end(spark, tmp_path):
    """`python -m parquet_to_sql_spark.job run spec.json` — the worker
    shell a scheduler invokes; prints the ImportResult as JSON."""
    src = str(tmp_path / "src2.parquet")
    spark.createDataFrame([(7, "x")], "id long, v string").coalesce(1).write.parquet(src)
    db = str(tmp_path / "cli.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t (id BIGINT, v VARCHAR)")
    con.close()
    spec = tmp_path / "spec.json"
    spec.write_text(
        ImportJob(path=src, table="t", connection=db, sink="duckdb").to_json()
    )
    out = subprocess.run(
        [sys.executable, "-m", "parquet_to_sql_spark.job", "run", str(spec)],
        capture_output=True, text=True, timeout=300,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "2"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["rows_imported"] == 1 and result["table"] == "t"


# ------------------------------------------------------- config layer
def test_config_defaults():
    cfg = load_config(path="/nonexistent/none.json")
    assert cfg == EngineConfig(None, 5000, 300, "pg")


def test_config_env_fallback(monkeypatch):
    monkeypatch.setenv("PARQUET_TO_SQL_CONNECTION", "jdbc:postgresql://env/db")
    monkeypatch.setenv("PARQUET_TO_SQL_BATCH_SIZE", "42")
    cfg = load_config(path="/nonexistent/none.json")
    assert cfg.connection == "jdbc:postgresql://env/db" and cfg.batch_size == 42


def test_config_file_beats_env_and_spec_beats_file(tmp_path, monkeypatch):
    monkeypatch.setenv("PARQUET_TO_SQL_BATCH_SIZE", "1")
    f = tmp_path / "parquet-to-sql.json"
    f.write_text(json.dumps({"batch_size": 2, "copy_timeout": 100}))
    cfg = load_config(path=str(f))
    assert cfg.batch_size == 2 and cfg.copy_timeout == 100  # file > env
    cfg2 = load_config(path=str(f), batch_size=3)
    assert cfg2.batch_size == 3  # spec > file


def test_config_rejects_unknown_keys(tmp_path):
    f = tmp_path / "parquet-to-sql.json"
    f.write_text(json.dumps({"batchsize": 2}))
    with pytest.raises(ValueError, match="unknown config keys"):
        load_config(path=str(f))


def test_config_rejects_unknown_sink(monkeypatch):
    monkeypatch.setenv("PARQUET_TO_SQL_SINK", "oracle9i")
    with pytest.raises(ValueError, match="unknown sink kind"):
        load_config(path="/nonexistent/none.json")
