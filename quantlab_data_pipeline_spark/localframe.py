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

:func:`pin` is the way to materialize any other frame once, and the
only one in this package: an eager ``localCheckpoint``. The checkpoint
is private to the frames that read it. Nothing enters the CacheManager,
so a later execution of the same plan recomputes instead of being
served from an earlier one. It also freezes the data: a checkpoint has
no lineage, so a later write to a path the frame read cannot re-cache
or re-execute it (a ``persist`` is re-cached when its input path is
written to). :func:`unpin` releases a pinned frame's blocks; a frame
that still reads them fails loudly ("Checkpoint block ... not found")
instead of recomputing.

:func:`materialized` is the scope. On exit, on success and on raise
alike, it unpins every pin made on the calling thread while it was the
innermost open scope. The rule for who opens it:

* a function opens ``materialized()`` only when nothing it returns
  reads one of its pins: the index build, append and compaction
  functions, rollup refresh, DSIR fold and compaction, BPE training,
  the composed curation sink (once per batch), and ``observe`` and the
  correctness mirror (once per run of a row);
* a function that returns a lazy frame over its pins (pair generators,
  connected components, PageRank, triangle count, hierarchy, skew
  ranks, the bigram LM, ``split_corrupt``, registry rows) unpins the
  pins its result does not read before it returns. The pins its result
  reads belong to the caller's scope; with no scope open, Spark's
  ContextCleaner releases them once the frame is garbage-collected.

Never drop a release to silence a "block not found" error: fix the
scope instead. And never replace a pin with a ``persist``: a persisted
frame recomputed after its sink appended to the store it read gives
wrong verdicts, with no error.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["local_df", "localize", "materialized", "pin", "unpin"]

_scopes = threading.local()


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


def pin(df: DataFrame) -> DataFrame:
    """``df`` computed once (an eager ``localCheckpoint``), registered
    with the innermost open :func:`materialized` scope of this thread."""
    pinned = df.localCheckpoint(eager=True)
    open_scopes = getattr(_scopes, "stack", None)
    if open_scopes:
        open_scopes[-1].append(pinned)
    return pinned


def unpin(df: DataFrame) -> None:
    """Release the blocks of a frame returned by :func:`pin`. Through
    ``SparkContext.unpersistRDD``: ``RDD.unpersist`` does the same but
    logs a WARN for every locally checkpointed RDD."""
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)


@contextmanager
def materialized() -> Iterator[None]:
    """Unpin, on exit, every pin made on this thread while this was the
    innermost open scope."""
    stack = _scopes.__dict__.setdefault("stack", [])
    stack.append([])
    try:
        yield
    finally:
        for df in stack.pop():
            unpin(df)
