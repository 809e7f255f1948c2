"""``session.local_relation``: every small driver-side relation in the
package is shipped to the JVM as Arrow and planned as a
``LocalRelation``, so reading it starts no Python-worker task.

After a PySpark upgrade, re-run this file: the plain-session cases
check that an Arrow table is still planned as a ``LocalRelation``
with the arrow conf off, and the guard checks that no module builds
a relation another way."""

from __future__ import annotations

import ast
import json
import pathlib

import pytest
from pyspark.sql.types import StructType

from parquet_to_sql_spark.session import local_relation
from tests.conftest import SF_SMOKE

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "parquet_to_sql_spark"
HELPER = PACKAGE / "session.py"
ARROW = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture()
def plain(spark):
    """A new session on the shared context with the arrow conf off,
    as in a driver's plain session."""
    s = spark.newSession()
    s.conf.set(ARROW, "false")
    return s


def _jvm_schema(df) -> StructType:
    # df.schema may be the Python-side schema PySpark attaches; the
    # JVM's own is the one queries see.
    return StructType.fromJson(json.loads(df._jdf.schema().json()))


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(1, 1), (-(2**31), 2**40)], "a int, b bigint"),
        ([(1e18,), (0.0,), (20000.0,)], "hi double"),
        ([(True, "x", None), (None, None, 7), (False, "", None)], "b boolean, s string, n bigint"),
        ([], "gap_start long, gap_end long"),
        ({0: 0, 1: 5, 3: 9}.items(), "_pid int, _off long"),
    ],
    ids=["int_vs_bigint", "double_1e18", "bool_string_null", "zero_rows", "dict_items"],
)
def test_plain_session_plans_a_local_relation(plain, rows, ddl):
    df = local_relation(plain, rows, ddl)
    assert plain.conf.get(ARROW) == "false"
    assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    assert _jvm_schema(df) == StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == list(rows)


def _python_built_relations(plan) -> list[str]:
    """``LogicalRDD`` nodes of a JVM logical plan whose RDD lineage
    runs Python (a ``createDataFrame`` of a Python list).  The
    ``LogicalRDD`` of a ``localCheckpoint`` is not one."""
    found, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "LogicalRDD" and "PythonRDD" in node.rdd().toDebugString():
            found.append(node.simpleString(100))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return found


def test_python_built_relation_probe_sees_create_data_frame(plain):
    df = plain.createDataFrame([(1,)], "a int")
    assert _python_built_relations(df._jdf.queryExecution().analyzed())


@pytest.mark.parametrize("name", ["window_global_prefix_sum", "profile_sequence_gaps"])
def test_two_level_scans_plan_no_python_built_relation(plain, name):
    """The offsets (prefix_sum) and seams (sequence_gaps) come back
    from the driver as a LocalRelation, not a Python-built RDD."""
    from parquet_to_sql_spark.queries.registry import all_queries

    df = all_queries()[name].build(plain, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert _python_built_relations(plan) == []
    assert "LocalRelation" in plan.toString()
    assert df.count() > 0


def _create_data_frame_calls(tree: ast.AST) -> list[int]:
    """Line numbers of ``<anything>.createDataFrame(...)`` calls."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_relations_are_built_only_by_local_relation():
    """Only ``local_relation`` may call ``createDataFrame``: any other
    call puts a Python-built ``LogicalRDD`` (and a Python-worker
    stage) back into the queries that read it."""
    offenders = []
    for f in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(f.read_text(), str(f))
        allowed: set[int] = set()
        for fn in ast.walk(tree) if f == HELPER else ():
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_relation":
                allowed |= set(_create_data_frame_calls(fn))
        rel = f.relative_to(PACKAGE.parent)
        offenders += [
            f"{rel}:{n}" for n in _create_data_frame_calls(tree) if n not in allowed
        ]
    assert offenders == [], f"createDataFrame outside local_relation: {offenders}"


def test_guard_sees_every_create_data_frame_spelling():
    src = (
        "a = spark.createDataFrame(rows, ddl)\n"
        "b = df.sparkSession.createDataFrame(pdf).cache()\n"
        "c = local_relation(spark, rows, ddl)\n"
        "d = SparkSession.builder.getOrCreate().createDataFrame(t)\n"
    )
    assert sorted(_create_data_frame_calls(ast.parse(src))) == [1, 2, 4]
