"""``operators/util.py:local_frame``: driver-built frames as Arrow
LocalRelations — same rows and schema as ``createDataFrame(list)``, no
job to collect, and the one path the engine builds such frames by."""

import ast
import pathlib

import pytest
from pyspark.sql import Row

from ai_incident_analyst_spark.operators.util import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent \
    / "ai_incident_analyst_spark"

SHAPES = [
    pytest.param(
        [(1, None, float("nan"), -0.0, "x", True),
         (None, 2.5, None, 0.0, None, None)],
        "a long, b double, c double, d double, e string, f boolean",
        id="scalars-null-nan-negzero"),
    pytest.param(
        [(1, [1.0, float("nan"), -0.0, None]), (2, None), (3, [])],
        "i long, v array<double>", id="array-double"),
    pytest.param(
        [(1, [Row(a="x", b=1.0, c=[0.5]), Row(a=None, b=None, c=None)]),
         (2, None), (3, [])],
        "i long, s array<struct<a:string,b:double,c:array<double>>>",
        id="nested-array-struct-rows"),
    pytest.param([], "a long, b string", id="empty"),
]


@pytest.mark.parametrize("rows,schema", SHAPES)
def test_matches_create_dataframe(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema        # StructField == has nullable
    # repr: NaN != NaN under ==, and -0.0 == 0.0 would hide a lost sign
    assert repr(got.collect()) == repr(want.collect())


def test_struct_schema_nullability_kept(spark):
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType)

    schema = StructType([
        StructField("k", LongType(), False),
        StructField("v", ArrayType(DoubleType(), False), True)])
    rows = [(1, [0.25, -0.0]), (2, None)]
    got = local_frame(spark, rows, schema)
    assert got.schema == spark.createDataFrame(rows, schema).schema
    assert got.collect() == [Row(k=1, v=[0.25, -0.0]), Row(k=2, v=None)]


def test_collect_starts_no_job(spark, jobs_of):
    rows = [(i, float(i) / 3, [float(i), -0.0]) for i in range(700)]
    df = local_frame(spark, rows, "i long, x double, v array<double>")
    got, jobs = jobs_of(spark, df.collect)
    assert len(got) == 700 and jobs == []
    assert "LocalRelation" in df._jdf.queryExecution().logical().toString()


def _create_dataframe_calls(tree: ast.AST):
    """(line, enclosing function) of every ``*.createDataFrame(...)``."""
    found = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                found.append((child.lineno, fn))
            walk(child, name)
    walk(tree, None)
    return found


def test_engine_builds_driver_frames_only_through_local_frame():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for line, fn in _create_dataframe_calls(tree):
            if not (path.name == "util.py" and fn == "local_frame"):
                offenders.append(f"{path.relative_to(PACKAGE)}:{line}")
    assert offenders == [], (
        "createDataFrame outside operators/util.py:local_frame — build "
        f"driver-side frames with local_frame: {offenders}")
