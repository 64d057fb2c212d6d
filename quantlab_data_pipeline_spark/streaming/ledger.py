"""The replay ledger every ``foreachBatch`` sink in this package runs on.

Structured Streaming re-delivers a micro-batch whose commit did not
land, so a sink that folds batches into a persisted store must be safe
to run twice for one batch id. The protocol, written once here:

* the store keeps a ledger at ``<store>/_applied_batch``: one
  ``batch_id long`` row appended per committed batch; its maximum is
  the mark. It is read from storage on every batch, so deleting it
  under a live sink makes the next delivery re-run;
* a batch id at or below the mark is skipped without touching Spark
  beyond the ledger read;
* otherwise the sink body runs. Each of its writes is either a
  dynamic overwrite of partitions only this batch owns
  (:func:`overwrite_batch_partition`) or an append anti-joined against
  what the store already holds, so re-running a crashed batch
  converges to the same store;
* the mark is written LAST, and only when the body wrote something: a
  body that finds its batch empty returns ``None`` and leaves no mark;
  a body that raises leaves no mark either.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localframe import local_df

__all__ = ["last_applied_batch", "ledgered", "overwrite_batch_partition"]


def _ledger(path: str) -> str:
    return f"{path}/_applied_batch"


def last_applied_batch(spark: SparkSession, path: str) -> int:
    """Highest micro-batch id already committed to the store at
    ``path`` (-1 if none)."""
    try:
        rows = spark.read.parquet(_ledger(path)).collect()
    except Exception:  # noqa: BLE001 — first batch: ledger doesn't exist yet
        return -1
    return max((int(r["batch_id"]) for r in rows), default=-1)


def _mark(spark: SparkSession, path: str, batch_id: int) -> None:
    local_df(spark, [(int(batch_id),)], "batch_id long").coalesce(
        1
    ).write.mode("append").parquet(_ledger(path))


def overwrite_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """Write ``df`` as the ``batch_id=N`` partition of the hive-
    partitioned table at ``path``, replacing whatever a crashed attempt
    at the same batch left there and leaving every other partition
    alone."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def ledgered(
    path: str, body: Callable[[DataFrame, int], Any]
) -> Callable[[DataFrame, int], tuple[bool, Any]]:
    """A ``foreachBatch`` function running ``body`` under the ledger of
    the store at ``path``.

    ``body(batch_df, batch_id)`` writes the batch and returns the value
    the sink hands back, or ``None`` when the batch is empty. The
    returned function gives ``(applied, result)``: ``applied`` is False
    when the batch id was at or below the mark and ``body`` did not
    run. ``foreachBatch`` ignores it; a composing sink reads it.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> tuple[bool, Any]:
        spark = batch_df.sparkSession
        if batch_id <= last_applied_batch(spark, path):
            return False, None
        result = body(batch_df, batch_id)
        if result is not None:
            _mark(spark, path, batch_id)
        return True, result

    return _apply
