"""Driver-side literal DataFrames without a Python-RDD scan.

``spark.createDataFrame(list_of_tuples, schema)`` plans a Python RDD:
every action on the frame (and every write) runs its partitions
through a Python worker task. Measured in this environment, a ONE-ROW
ledger write through that path costs ~4 s of wall per action at ~60 ms
of CPU — pure Python-worker round-trip overhead — and the intake sinks
pay it up to ten times per micro-batch (ledger marks, store meta,
probe-id frames). The pandas/Arrow path
(``createDataFrame(pandas.DataFrame, schema)``) converts driver-side
into Arrow batches and plans a JVM-only scan: the same write measures
~0.1-0.4 s (per-job walls from :mod:`.observe`, round 10).

:func:`local_df` is the drop-in: same rows, same DDL schema string,
Arrow conversion instead of the Python RDD; array, map and struct
columns convert too.

:func:`localize` is the way to materialize a small frame once: it
collects the frame's rows to the driver in one job and returns them as
the same kind of local scan, so the frame's lineage (a join, say) is
not re-run by each later action that reads it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["local_df", "localize"]


def _ddl_names(schema: str) -> list[str]:
    """Column names from a DDL string ("a long, b string" -> [a, b]).

    Type parameters may hold commas (``map<string,int>``,
    ``struct<x:int,y:array<double>>``, ``decimal(10,2)``), so every
    bracketed span, nested ones included, is removed before the split.
    """
    flat, depth = [], 0
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif depth == 0:
            flat.append(ch)
    return [part.strip().split()[0] for part in "".join(flat).split(",")]


def local_df(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` through the Arrow path.

    ``rows``: list of tuples (may be empty); ``schema``: DDL string or
    ``StructType``. Returns a frame with exactly the requested schema,
    planned as a JVM local scan — no Python task on any downstream
    action.
    """
    import pandas as pd
    import pyarrow as pa

    names = schema.names if isinstance(schema, StructType) else _ddl_names(schema)
    rows = list(rows)
    if not rows:
        # pandas' Arrow path skips an empty frame and plans a Python RDD;
        # an empty Arrow table converts like any other.
        return spark.createDataFrame(pa.table({n: pa.nulls(0) for n in names}), schema=schema)
    pdf = pd.DataFrame.from_records(rows, columns=names)
    return spark.createDataFrame(pdf, schema=schema)


def localize(df: DataFrame) -> DataFrame:
    """Collect ``df`` (a small dimension) once and return its rows as a
    local scan with the same schema. Selecting from and collecting the
    result runs no job; broadcasting it reads the collected rows."""
    return local_df(df.sparkSession, df.collect(), df.schema)
