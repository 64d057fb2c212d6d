"""Streaming embedding-ANN intake (foreachBatch sink).

Completes the intake triad: the MinHash text index
(:mod:`.dedup` / :mod:`..llm.dedup_index`), the perceptual media index
(:mod:`.media_intake`), and now the IVF embedding index — all three
persisted dedup stores are continuously maintainable from a stream
with the same guarantees. An embedding stream (fresh crawl vectors)
flags each micro-batch against the persisted IVF index (semantic
near-dup = top-1 cosine >= threshold), writes verdicts durably, and
appends only the accepted novel vectors under the FROZEN centroids
(the FAISS add-after-train convention — query semantics stay identical
to a from-scratch build with the same quantizers).

Per batch, under :mod:`.ledger`, in the media sink's order and for
its reasons (verdicts reach stable storage BEFORE the index mutates,
because appending re-caches dependent plans against the new file
list):

1. flag the batch against the index (partition-pruned nprobe scan);
2. write the localCheckpointed verdicts as the batch's ``batch_id``
   partition; the kept ids come from the same checkpoint;
3. append accepted vectors, anti-joined on already-stored ids.

Intra-batch policy matches media intake: two same-batch vectors within
the threshold are both admitted (the index arbitrates across batches);
intra-batch EXACT duplicates (bit-identical embeddings) keep the min
id. The first non-empty batch builds the index and trains centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import path_exists
from ..llm.ann_index import (
    append_to_ann_index,
    build_ivf_index,
    query_ivf_index,
)
from .ledger import ledgered, overwrite_batch_partition

__all__ = ["ann_intake_sink", "read_ann_verdicts"]


def _index_exists(spark: SparkSession, index_path: str) -> bool:
    return path_exists(spark, f"{index_path}/centroids")


def ann_intake_sink(
    index_path: str,
    out_path: str,
    threshold: float = 0.9,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """A ``foreachBatch`` function running the ANN-dedup intake loop.

    Usage::

        q = (vector_stream.writeStream
             .foreachBatch(ann_intake_sink(idx, out))
             .option("checkpointLocation", ckpt)
             .start())

    ``out_path`` receives one verdict row per batch vector, hive-
    partitioned by ``batch_id``: (vec_id, is_dup, best_match_id,
    best_score, kept) — ``is_dup`` is the cross-batch index verdict at
    ``threshold``, ``kept`` additionally requires winning the
    intra-batch exact (bit-identical embedding) dedup; only kept
    vectors enter the index.
    """

    def _body(batch_df: DataFrame, batch_id: int) -> bool | None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return None
        first = not _index_exists(spark, index_path)
        if first:
            flagged = batch_df.select(
                F.col(id_col),
                F.lit(False).alias("is_dup"),
                F.lit(None).cast("long").alias("best_match_id"),
                F.lit(None).cast("double").alias("best_score"),
            )
        else:
            best = query_ivf_index(
                batch_df,
                index_path,
                k=1,
                nprobe=nprobe,
                id_col=id_col,
                vec_col=vec_col,
            ).select(
                F.col("query_id").alias(id_col),
                F.col("neighbor_id").alias("best_match_id"),
                F.col("score").alias("best_score"),
            )
            flagged = (
                batch_df.select(id_col)
                .join(best, id_col, "left")
                .select(
                    F.col(id_col),
                    F.coalesce(
                        F.col("best_score") >= threshold, F.lit(False)
                    ).alias("is_dup"),
                    "best_match_id",
                    "best_score",
                )
            )
        # intra-batch exact dedup: min id per bit-identical embedding
        winners = (
            batch_df.join(
                flagged.filter(~F.col("is_dup")).select(id_col), id_col
            )
            .select(id_col, F.md5(F.col(vec_col).cast("string")).alias("__fp"))
            .groupBy("__fp")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, F.lit(True).alias("kept"))
        )
        # Step 2: verdicts to stable storage BEFORE the index mutates,
        # checkpointed so the kept ids below cannot re-evaluate the flag
        # plan against the appended index (see media_intake).
        verdicts = (
            flagged.join(winners, id_col, "left")
            .withColumn("kept", F.coalesce("kept", F.lit(False)))
            .localCheckpoint()
        )
        overwrite_batch_partition(verdicts, batch_id, out_path)
        kept_ids = verdicts.filter("kept").select(id_col)
        accepted = batch_df.join(kept_ids, id_col)
        if first:
            build_ivf_index(
                accepted,
                index_path,
                n_lists=n_lists,
                id_col=id_col,
                vec_col=vec_col,
            )
        else:
            novel = accepted.join(
                spark.read.parquet(f"{index_path}/assignments").select(
                    id_col
                ),
                id_col,
                "left_anti",
            )
            if not novel.isEmpty():
                append_to_ann_index(
                    novel, index_path, id_col=id_col, vec_col=vec_col
                )
        return True

    return ledgered(index_path, _body)


def read_ann_verdicts(spark: SparkSession, out_path: str) -> DataFrame:
    """The accumulated verdict log written by :func:`ann_intake_sink`."""
    return spark.read.parquet(out_path)
