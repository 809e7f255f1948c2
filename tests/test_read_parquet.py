"""The footer-schema memo behind every batch Parquet read
(sources.parquet.read_parquet): a local path's schema is inferred once
per session, and Spark's inference job is skipped on later reads until
the files or the inference confs change."""

from __future__ import annotations

import ast
import datetime
import pathlib
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_to_sql_spark.catalog import load_table
from parquet_to_sql_spark.sources.parquet import (
    _INFERENCE_CONFS,
    ParquetSource,
    file_signature,
    inference_confs,
    read_parquet,
)

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "parquet_to_sql_spark"
HELPER = PACKAGE / "sources" / "parquet.py"


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(sf_dir: pathlib.Path, extra: bool = False) -> str:
    cols = {
        "r_regionkey": pa.array([0, 1], pa.int64()),
        "r_name": pa.array(["AFRICA", "ASIA"]),
    }
    if extra:
        cols["r_extra"] = pa.array([7, 8], pa.int32())
    path = str(sf_dir / "region.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def test_second_load_table_starts_no_job(spark, tmp_path):
    _write_region(tmp_path)
    first, n_first = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    second, n_second = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert (n_first, n_second) == (1, 0)
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_second_parquet_source_load_starts_no_job(spark, tmp_path):
    path = _write_region(tmp_path)
    first, n_first = _jobs(spark, lambda: ParquetSource(spark, path).load())
    second, n_second = _jobs(spark, lambda: ParquetSource(spark, path).load())
    assert (n_first, n_second) == (1, 0)
    assert second.schema == first.schema


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = _write_region(tmp_path)
    assert read_parquet(spark, path).columns == ["r_regionkey", "r_name"]
    sig = file_signature(path)
    _write_region(tmp_path, extra=True)
    assert file_signature(path) != sig
    df = read_parquet(spark, path)
    assert df.columns == ["r_regionkey", "r_name", "r_extra"]
    assert sorted(r.r_extra for r in df.collect()) == [7, 8]


def test_inference_conf_change_reinfers_events_ts(spark, tmp_path):
    """events.ts stored as TIMESTAMP(NANOS) reads as bigint only under
    nanosAsLong; turning the conf off must re-infer, not reuse the
    remembered bigint schema."""
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "events.parquet")
    ts = pa.array([datetime.datetime(2024, 1, 1, 0, 0, 1)], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": ts}), path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException):
            read_parquet(spark, path)
        spark.conf.set(key, "true")
        assert dict(load_table(spark, str(tmp_path), "events").dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(key, prev)


def test_inference_conf_set_back_to_default_reinfers(spark, tmp_path, monkeypatch):
    """A conf toggled between reads is seen whichever way it returns to
    its default (unset, or set to the default value), and the confs
    are read in one py4j round trip."""
    path = str(tmp_path / "blobs.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    default = "false"
    was = spark.conf.get(key)

    def b_type():
        return dict(read_parquet(spark, path).dtypes)["b"]

    try:
        spark.conf.unset(key)
        assert b_type() == "binary"
        spark.conf.set(key, "true")
        assert b_type() == "string"
        spark.conf.unset(key)
        assert b_type() == "binary"
        spark.conf.set(key, "true")
        assert b_type() == "string"
        spark.conf.set(key, default)
        assert b_type() == "binary"
        _, n_jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert n_jobs == 0

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        calls = []
        monkeypatch.setattr(
            client, "send_command", lambda *a, **k: calls.append(a) or send(*a, **k)
        )
        assert inference_confs(spark)[list(_INFERENCE_CONFS).index(key)] == default
        monkeypatch.undo()
        assert len(calls) == 1
    finally:
        spark.conf.set(key, was)


def test_runtime_confs_set_only_what_a_caller_changed(spark, tmp_path, monkeypatch):
    """Every read applies the engine's RUNTIME_CONFS.  A session that
    already holds them costs one py4j call and no ``conf.set``; a conf
    the caller flipped between two loads is put back by the second."""
    from pyspark.sql.conf import RuntimeConfig

    from parquet_to_sql_spark.session import RUNTIME_CONFS, apply_runtime_confs

    path = _write_region(tmp_path)
    key = "spark.sql.adaptive.skewJoin.enabled"
    assert RUNTIME_CONFS[key] == "true"
    load_table(spark, str(tmp_path), "region")

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls, sets = [], []
    monkeypatch.setattr(
        client, "send_command", lambda *a, **k: calls.append(a) or send(*a, **k)
    )
    conf_set = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig, "set", lambda self, k, v: sets.append(k) or conf_set(self, k, v)
    )
    apply_runtime_confs(spark)
    assert (len(calls), sets) == (1, [])

    try:
        spark.conf.set(key, "false")
        sets.clear()
        ParquetSource(spark, path).load()
        assert (sets, spark.conf.get(key)) == ([key], "true")
        spark.conf.unset(key)
        sets.clear()
        load_table(spark, str(tmp_path), "region")
        assert (sets, spark.conf.get(key)) == ([key], "true")
    finally:
        monkeypatch.undo()
        spark.conf.set(key, "true")


class _CountingSettings:
    """Stands in for a session's cached conf-map handle and counts
    its renderings, i.e. the conf-map reads."""

    def __init__(self, handle):
        self.handle, self.reads = handle, 0

    def toString(self):
        self.reads += 1
        return self.handle.toString()


def test_one_conf_map_read_per_load(spark, tmp_path, monkeypatch):
    """A load reads the session's conf map once: ``apply_runtime_confs``
    hands its read to ``read_parquet``, and reads again only after it
    has put a conf back.  A runtime conf flipped between loads is
    restored and keys the schema memo by its restored value (a hit);
    a flipped inference-only conf keys it by the new value (a miss)."""
    from parquet_to_sql_spark import session

    path = _write_region(tmp_path)
    loads = (
        lambda: load_table(spark, str(tmp_path), "region"),
        lambda: ParquetSource(spark, path).load(),
    )
    loads[0]()
    settings = _CountingSettings(session._SETTINGS[spark])
    monkeypatch.setitem(session._SETTINGS, spark, settings)

    def reads_and_jobs(load):
        settings.reads = 0
        _, n_jobs = _jobs(spark, load)
        return settings.reads, n_jobs

    restored = "spark.sql.legacy.parquet.nanosAsLong"
    inference_only = "spark.sql.parquet.binaryAsString"
    assert restored in _INFERENCE_CONFS and restored in session.RUNTIME_CONFS
    assert inference_only in _INFERENCE_CONFS
    assert inference_only not in session.RUNTIME_CONFS
    was = spark.conf.get(inference_only)
    try:
        for load in loads:
            assert reads_and_jobs(load) == (1, 0)
            spark.conf.set(restored, "false")
            assert reads_and_jobs(load) == (2, 0)
            assert spark.conf.get(restored) == "true"
            spark.conf.set(inference_only, "true")
            assert reads_and_jobs(load) == (1, 1)
            spark.conf.set(inference_only, was)
            assert reads_and_jobs(load) == (1, 1)
    finally:
        spark.conf.set(restored, "true")
        spark.conf.set(inference_only, was)


def test_uri_path_bypasses_memo(spark, tmp_path):
    path = _write_region(tmp_path)
    uri = pathlib.Path(path).as_uri()
    assert uri.startswith("file:///")
    _, n_first = _jobs(spark, lambda: read_parquet(spark, uri))
    _, n_second = _jobs(spark, lambda: read_parquet(spark, uri))
    assert (n_first, n_second) == (1, 1)


def test_self_join_of_two_reads_resolves(spark, tmp_path):
    _write_region(tmp_path)
    a = load_table(spark, str(tmp_path), "region").alias("a")
    b = load_table(spark, str(tmp_path), "region").alias("b")
    rows = a.join(b, a.r_regionkey == b.r_regionkey + 1).select(
        a.r_name.alias("left"), b.r_name.alias("right")
    ).collect()
    assert [(r.left, r.right) for r in rows] == [("ASIA", "AFRICA")]


def test_corpus_count_sees_rewritten_documents(spark, tmp_path):
    from parquet_to_sql_spark.queries.fixtures import corpus_count

    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}), path)
    assert corpus_count(spark, str(tmp_path)) == 3
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), path)
    assert corpus_count(spark, str(tmp_path)) == 2


def _batch_parquet_reads(tree: ast.AST) -> list[int]:
    """Line numbers of ``<...>.read[.option(..)...].parquet(...)`` calls:
    batch reads (``readStream`` chains are not matched)."""
    lines = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        recv = node.func.value
        while isinstance(recv, ast.Call) and isinstance(recv.func, ast.Attribute):
            recv = recv.func.value
        if isinstance(recv, ast.Attribute) and recv.attr == "read":
            lines.append(node.lineno)
    return lines


def test_batch_parquet_reads_go_through_read_parquet():
    """Every batch Parquet read in the package must go through
    read_parquet, or each such read brings back a schema-inference
    Spark job.  Only read_parquet itself may call spark.read.parquet."""
    offenders = []
    for f in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(f.read_text(), str(f))
        allowed: set[int] = set()
        for fn in ast.walk(tree) if f == HELPER else ():
            if isinstance(fn, ast.FunctionDef) and fn.name == "read_parquet":
                allowed |= set(_batch_parquet_reads(fn))
        rel = f.relative_to(PACKAGE.parent)
        offenders += [
            f"{rel}:{n}" for n in _batch_parquet_reads(tree) if n not in allowed
        ]
    assert offenders == [], f"batch Parquet reads outside read_parquet: {offenders}"


def test_guard_sees_chained_and_ignores_streaming_reads():
    src = (
        "a = spark.read.parquet(p)\n"
        "b = spark.read.option('mergeSchema', 'true').parquet(p)\n"
        "c = spark.readStream.schema(s).parquet(p)\n"
        "df.write.parquet(p)\n"
    )
    assert _batch_parquet_reads(ast.parse(src)) == [1, 2]
