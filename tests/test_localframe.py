"""``localframe``: DDL parsing, Arrow-built literal frames, and
``localize`` (collect a small frame once, read it without jobs); no
other module builds a literal frame from Python rows."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from quantlab_data_pipeline_spark.localframe import _ddl_names, local_df, localize


@pytest.mark.parametrize(
    "ddl, names",
    [
        ("a long, b string", ["a", "b"]),
        ("a array<double>, b map<string,int>", ["a", "b"]),
        ("a map<string,array<int>>, b int", ["a", "b"]),
        (
            "s struct<x:int,y:array<struct<p:string,q:decimal(10,2)>>>, "
            "d decimal(10,2), m map<string,struct<u:int,v:int>>",
            ["s", "d", "m"],
        ),
    ],
)
def test_ddl_names_skip_bracketed_commas(ddl, names):
    assert _ddl_names(ddl) == names


def test_local_df_nested_columns(spark):
    ddl = "a array<double>, b map<string,int>, s struct<x:int,y:string>"
    df = local_df(spark, [([1.0, 2.0], {"k": 1}, (3, "z"))], ddl)
    assert df.schema.simpleString() == (
        "struct<a:array<double>,b:map<string,int>,s:struct<x:int,y:string>>"
    )
    row = df.collect()[0]
    assert (row.a, row.b, row.s.x, row.s.y) == ([1.0, 2.0], {"k": 1}, 3, "z")


def test_localize_keeps_rows_and_schema_without_rerunning(spark):
    src = spark.range(6).select(
        F.col("id").alias("asset_id"),
        F.concat(F.lit("T"), (F.col("id") % 3).cast("string")).alias("ticker"),
        F.current_date().alias("start_date"),
    )
    loc = localize(src)
    assert loc.schema == src.schema
    assert sorted(loc.collect()) == sorted(src.collect())
    plan = loc.select("ticker")._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Range" not in plan


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_df_empty_is_a_local_scan(spark):
    """pandas' Arrow path skips an empty frame; local_df still plans
    a JVM local scan, with the declared schema."""
    ddl = "asset_id long, date date, m map<string,int>, s struct<x:int,y:string>"
    df = local_df(spark, [], ddl)
    assert df.schema.simpleString() == (
        "struct<asset_id:bigint,date:date,m:map<string,int>,s:struct<x:int,y:string>>"
    )
    assert df.count() == 0
    assert "LocalTableScan" in _plan(df) and "ExistingRDD" not in _plan(df)


PACKAGE = Path(__file__).resolve().parents[1] / "quantlab_data_pipeline_spark"
# (module, enclosing qualname) allowed to call createDataFrame besides
# localframe.py: the synthetic WRDS source hands it pandas frames, which
# convert through Arrow.
CREATE_DATAFRAME_ALLOWED = {("sources/wrds.py", "SyntheticWrdsSource._df")}


def _create_dataframe_calls(source: str) -> list[tuple[str, int]]:
    """(enclosing qualname, line) of every ``.createDataFrame(`` call."""
    found = []

    def visit(node: ast.AST, scope: tuple[str, ...]) -> None:
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = scope + (child.name,)
            if (
                isinstance(child, ast.Call)
                and getattr(child.func, "attr", "") == "createDataFrame"
            ):
                found.append((".".join(scope), child.lineno))
            visit(child, inner)

    visit(ast.parse(source), ())
    return found


def test_literal_frames_go_through_local_df():
    """``createDataFrame`` over Python rows plans a Python-RDD scan, and
    every action on it starts Python worker tasks: literal frames are
    built by localframe.local_df, nowhere else."""
    offenders = [
        f"{rel}:{line} ({scope or '<module>'})"
        for p in sorted(PACKAGE.rglob("*.py"))
        if (rel := p.relative_to(PACKAGE).as_posix()) != "localframe.py"
        for scope, line in _create_dataframe_calls(p.read_text())
        if (rel, scope) not in CREATE_DATAFRAME_ALLOWED
    ]
    assert not offenders, offenders


def test_create_dataframe_guard_names_the_enclosing_scope():
    src = (
        "class A:\n"
        "    def f(self, spark):\n"
        "        return spark.createDataFrame([], 'a long')\n"
        "def g(spark):\n"
        "    return spark.createDataFrame\n"
    )
    assert _create_dataframe_calls(src) == [("A.f", 3)]
