"""The worker shim (parquet_to_sql_spark/worker.py): a task's
``importlib.invalidate_caches()`` re-reads a zip archive's directory
only when the archive changed.

The unit tests need no Spark: they fake a task context and count
``zipimport._read_directory`` calls.  The Spark-level test runs a
fresh local[1] session in a subprocess, so its one Python worker has
never imported the package, and reads the counts from inside that
worker.

This module imports the package only inside test functions: the
Spark-level test's probe is unpickled in the worker by importing this
module, which must not install the shim itself.
"""

from __future__ import annotations

import importlib.util
import json
import os
import pathlib
import subprocess
import sys
import zipfile
import zipimport

import pytest

TESTS = pathlib.Path(__file__).resolve().parent
REPO = TESTS.parent


# ---------------------------------------------------------------- unit


def _write_zip(path: pathlib.Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Per-archive count of directory reads from now on."""
    counts: dict[str, int] = {}
    read = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


@pytest.fixture
def in_task():
    """``install`` as a task's worker sees it (a TaskContext is set);
    afterwards the context is cleared and the original method put back,
    so this driver process is left unpatched."""
    from pyspark import TaskContext

    from parquet_to_sql_spark.worker import install

    original = zipimport.zipimporter.invalidate_caches
    TaskContext._setTaskContext(TaskContext._getOrCreate())
    try:
        yield install
    finally:
        TaskContext._setTaskContext(None)
        zipimport.zipimporter.invalidate_caches = original


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, reads, in_task):
    seeded, fresh = tmp_path / "seeded.zip", tmp_path / "fresh.zip"
    _write_zip(seeded, {"a": "X = 1"})
    _write_zip(fresh, {"a": "X = 1"})
    # an importer live when the shim is installed has just been re-read
    # by this task's invalidation: its signature is recorded at install
    live = zipimport.zipimporter(str(seeded))
    monkeypatch.setitem(sys.path_importer_cache, str(seeded), live)
    in_task()
    reads.clear()
    for _ in range(3):
        live.invalidate_caches()
    assert reads.get(str(seeded), 0) == 0
    # an importer made later reads once, then only when the archive changes
    later = zipimport.zipimporter(str(fresh))
    reads.clear()
    for _ in range(3):
        later.invalidate_caches()
    assert reads == {str(fresh): 1}
    assert later.find_spec("a") is not None


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(tmp_path, reads, in_task, change):
    path = tmp_path / "lib.zip"
    _write_zip(path, {"a": "X = 1"})
    imp = zipimport.zipimporter(str(path))
    in_task()
    imp.invalidate_caches()
    reads.clear()
    if change == "size":
        _write_zip(path, {"a": "X = 1", "b": "Y = 2"})
    else:  # same bytes, new mtime only
        st = os.stat(path)
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == {str(path): 1}
    if change == "size":
        # the module the rewrite added is now importable
        spec = imp.find_spec("b")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.Y == 2


def test_missing_archive_falls_through_to_original(tmp_path, reads, in_task):
    path = tmp_path / "gone.zip"
    _write_zip(path, {"a": "X = 1"})
    imp = zipimport.zipimporter(str(path))
    in_task()
    imp.invalidate_caches()
    path.unlink()
    reads.clear()
    imp.invalidate_caches()
    imp.invalidate_caches()
    # every call delegates: the original tries the read and empties the importer
    assert reads == {str(path): 2}
    assert imp._files == {}


def test_install_is_idempotent_and_task_only(in_task):
    from pyspark import TaskContext

    original = zipimport.zipimporter.invalidate_caches
    TaskContext._setTaskContext(None)
    in_task()  # no TaskContext: the driver is never patched
    assert zipimport.zipimporter.invalidate_caches is original

    TaskContext._setTaskContext(TaskContext._getOrCreate())
    in_task()
    wrapped = zipimport.zipimporter.invalidate_caches
    in_task()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped is not original and wrapped.__wrapped__ is original


# --------------------------------------------------------- Spark level

_READS = [0]  # archive-directory reads in this worker since _count_reads
_SCHEMA = "pid long, reads long, shim boolean, package boolean"


def _count_reads() -> None:
    read = zipimport._read_directory
    if getattr(read, "_counting", False):
        return

    def counting(archive):
        _READS[0] += 1
        return read(archive)

    counting._counting = True
    zipimport._read_directory = counting


def _report():
    import pyarrow as pa

    shim = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
    return pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "reads": [_READS[0]], "shim": [shim],
         "package": ["parquet_to_sql_spark" in sys.modules]}
    )


def _probe(batches):
    """One task's report: its worker pid, the worker's running count
    of archive-directory reads, and whether the shim is installed."""
    _count_reads()
    for _ in batches:
        pass
    yield _report()


def _uninstall(batches):
    """Put the worker back as it was before the package was imported."""
    cls = zipimport.zipimporter
    cls.invalidate_caches = getattr(cls.invalidate_caches, "__wrapped__", cls.invalidate_caches)
    for name in [m for m in sys.modules if m.split(".")[0] == "parquet_to_sql_spark"]:
        del sys.modules[name]
    for _ in batches:
        pass
    yield _report()


class _NullConn:
    """A connection whose COPYs go nowhere (``copy_expert`` spelling)."""

    def __init__(self, dsn):
        pass

    def cursor(self):
        return self

    def execute(self, sql):
        pass

    def copy_expert(self, sql, f):
        f.read()

    def commit(self):
        pass

    def rollback(self):
        pass

    def close(self):
        pass


def fresh_worker_report() -> dict:
    """Run in a fresh local[1] process (one reused Python worker):
    a CopySink write, 7 probes, an uninstall, a hashkernel kernel and
    2 more probes.  Returns every probe's report."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[1]").appName("worker-shim")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "512m")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )
    from parquet_to_sql_spark.operators.hashkernel import word_hash_arrays
    from parquet_to_sql_spark.sinks.copy_pg import CopySink

    one = spark.range(1, numPartitions=1)

    def run(fn) -> dict:
        return one.mapInArrow(fn, _SCHEMA).collect()[0].asDict()

    out: dict = {}
    docs = spark.createDataFrame([(1, "a b"), (2, "c")], "id long, text string").coalesce(1)
    out["copied"] = CopySink("dsn", connection_factory=_NullConn).write(docs, "t")
    out["probes"] = [run(_probe) for _ in range(7)]
    out["uninstalled"] = run(_uninstall)
    out["kernel_rows"] = word_hash_arrays(docs, "id", "text").count()
    out["after_kernel"] = [run(_probe) for _ in range(2)]
    out["driver_shim"] = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
    spark.stop()
    return out


def test_reused_worker_skips_archive_rereads():
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), str(TESTS), env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c",
         "import json, test_worker; print(json.dumps(test_worker.fresh_worker_report()))"],
        cwd=TESTS, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    probes, after = out["probes"], out["after_kernel"]
    assert out["copied"] == 2 and out["kernel_rows"] == 2
    assert not out["driver_shim"]
    # local[1] reuses one worker for every task
    pids = {r["pid"] for r in probes + after + [out["uninstalled"]]}
    assert len(pids) == 1, pids
    # The CopySink writer was the worker's first Python task, and this
    # module does not import the package: the writer's by-reference
    # imports ran the package __init__, which installed the shim.
    assert all(r["shim"] and r["package"] for r in probes)
    # the first probe started the count; no later task re-read an archive
    assert [r["reads"] for r in probes] == [0] * len(probes)
    # uninstalled, the kernel's task re-read the archives; its
    # by-reference imports re-installed the shim, and later tasks skip
    assert not out["uninstalled"]["shim"] and not out["uninstalled"]["package"]
    assert after[0]["shim"] and after[0]["package"]
    assert after[0]["reads"] > 0
    assert after[1]["reads"] == after[0]["reads"]
