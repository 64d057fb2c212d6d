"""Streaming sharded-corpus writer (foreachBatch sink).

Completes the streaming curation story's WRITE end: intake sinks
(crawl, media, DSIR, ANN) decide what enters the corpus; this sink
gives the accepted documents their final layout — the size-balanced,
manifested shard scheme of :mod:`..llm.sharding` — incrementally, one
micro-batch at a time. Training infra then consumes ``payload/``
shard-by-shard and verifies each download against ``manifest/``.

Append-only-by-construction: every batch's documents are binned AMONG
THEMSELVES (the deterministic prefix-sum first-fit of
``shard_assign``) into NEW shard ids starting after the highest shard
any PRIOR batch created. Sealed shards are therefore immutable — a
property object stores reward (no read-modify-write of old shards,
trivially cacheable downloads) at the cost of at most one underfull
shard per batch (bounded waste: < target_bytes per batch, amortized
away at production batch sizes).

Replay follows :mod:`.ledger`. What this sink adds: the shard base
excludes the current batch's own manifest rows and shard ids are a
pure function of batch content, so a replay after a crash overwrites
the same partitions with the same bytes.

Scale shape per batch: ONE range exchange for the prefix sum (frozen
with ``localCheckpoint`` inside ``grouped_global_cumsum`` so the
payload write and the manifest aggregate read the same physical
binning — the round-9 two-subtree lesson), one shard-keyed write, one
metadata-scale manifest aggregate. The manifest read for the base is
batch-count-scale metadata, never corpus-scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import is_dir
from ..llm.sharding import content_fingerprint, shard_assign, shard_manifest
from .ledger import last_applied_batch, ledgered, overwrite_batch_partition

__all__ = [
    "shard_sink",
    "read_shard_manifest",
    "read_shard_payload",
    "last_applied_batch",
]


def read_shard_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The accumulated manifest: one row per (batch_id, shard_id)."""
    return spark.read.parquet(f"{path}/manifest")


def read_shard_payload(spark: SparkSession, path: str) -> DataFrame:
    """The sharded corpus payload (hive-partitioned by shard_id)."""
    return spark.read.parquet(f"{path}/payload")


def _next_base(spark: SparkSession, path: str, batch_id: int) -> int:
    """First shard id available to ``batch_id``: one past the highest
    shard any OTHER batch created. Excluding the current batch's own
    manifest rows makes the computation replay-stable — a crashed
    attempt that already wrote its manifest partition does not shift
    the base of its own replay."""
    if not is_dir(spark, f"{path}/manifest"):
        return 0
    try:
        manifest = read_shard_manifest(spark, path)
    except Exception:  # noqa: BLE001 — a crashed FIRST attempt can leave
        # a file-less manifest directory (partition dir created, no
        # committed parquet); that store has no sealed shards yet.
        return 0
    row = (
        manifest.filter(F.col("batch_id") != int(batch_id))
        .agg(F.max("shard_id").alias("m"))
        .first()
    )
    return 0 if row is None or row["m"] is None else int(row["m"]) + 1


def shard_sink(
    path: str,
    target_bytes: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    overhead_bytes: int = 64,
):
    """A ``foreachBatch`` function maintaining the sharded store at
    ``path``. Payload bytes are UTF-8 octets of ``text_col`` plus a
    fixed per-row ``overhead_bytes`` (framing/metadata allowance), the
    same accounting the batch registry rows use.

    Usage::

        q = (doc_stream.writeStream
             .foreachBatch(shard_sink(store, 512 << 20))
             .option("checkpointLocation", ckpt)
             .start())
    """

    def _body(batch_df: DataFrame, batch_id: int) -> bool | None:
        if batch_df.isEmpty():
            return None
        base = _next_base(batch_df.sparkSession, path, batch_id)
        d = batch_df.withColumn(
            "__bytes",
            (
                F.coalesce(F.octet_length(text_col), F.lit(0))
                + F.lit(int(overhead_bytes))
            ).cast("long"),
        )
        assigned = shard_assign(
            d,
            "__bytes",
            target_bytes,
            [
                F.md5(F.col(id_col).cast("string")).asc(),
                F.col(id_col).asc(),
            ],
            shard_col="__local_shard",
        ).withColumn(
            "shard_id", (F.col("__local_shard") + F.lit(base)).cast("long")
        )
        # Payload first, manifest second (the ledger marks after both)
        # — each a dynamic overwrite of exactly this batch's partitions,
        # so any crash point replays to the identical store.
        # Rebalance on shard_id before the partitioned write (guide
        # §6): the assignment frame arrives in ~shuffle-partition-many
        # pieces, and without the hint each task writes one file per
        # shard it touches — tasks x shards tiny payload files. A
        # shard IS the file-sizing unit (target_bytes), so colocating
        # each shard's rows yields one ~target-sized file per shard;
        # AQE still splits a genuinely oversized partition.
        (
            assigned.drop("__local_shard")
            .withColumnRenamed("__bytes", "payload_bytes")
            .hint("rebalance", "shard_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard_id")
            .parquet(f"{path}/payload")
        )
        manifest = shard_manifest(
            assigned,
            content_fingerprint(F.coalesce(F.col(text_col), F.lit(""))),
            "__bytes",
            id_col=id_col,
            shard_col="shard_id",
        )
        overwrite_batch_partition(manifest, batch_id, f"{path}/manifest")
        return True

    return ledgered(path, _body)
