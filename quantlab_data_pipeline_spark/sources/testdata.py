"""Loaders for the driver's synthetic TPC-H-ish testdata.

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under ``/root/testdata/sf*/``.

``events.ts`` has shipped with two encodings across driver rounds:
TIMESTAMP(NANOS) — which Spark reads as a nanosecond long under
``spark.sql.legacy.parquet.nanosAsLong=true`` (set in
:func:`..session.get_spark`) — and plain TIMESTAMP(MICROS), which Spark
reads as TIMESTAMP_NTZ. :func:`load_table` normalizes both to a session
-timezone (UTC) microsecond TIMESTAMP: the nanos long via integer
division (float division loses precision at ~1.7e18 ns, and truncation
matches DuckDB), the NTZ via a plain cast (identical wall times under
the UTC session). Downstream numeric casts like
``ts.cast("long")`` (sessionize gap arithmetic) are only legal on the
normalized TIMESTAMP type — Spark refuses TIMESTAMP_NTZ -> BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
