"""``localframe``: DDL parsing, Arrow-built literal frames, and
``localize`` (collect a small frame once, read it without jobs)."""

from __future__ import annotations

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
