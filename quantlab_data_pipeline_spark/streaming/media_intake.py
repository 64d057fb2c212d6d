"""Streaming perceptual media intake (foreachBatch sink).

Completes the media-index story the way :mod:`.rollup_sink` completes
the rollup one: :mod:`..llm.media_index` gives the batch intake loop
(``flag_new_media -> keep !is_dup -> append_to_media_index``); this
wires a media STREAM into it, so the persisted fingerprint index
becomes the continuously-maintained dedup state of a crawl. The sink
is ``foreachBatch`` — appending to an external bucketed index is a
batch-only operation.

Per micro-batch, under :mod:`.ledger` and IN THIS ORDER (the order is
load-bearing):

1. flag the batch against the index (banded candidate join + exact
   Hamming; the corpus side reads in place, only the batch shuffles)
   and decide ``kept`` = non-duplicate AND the min-id representative
   per exact fingerprint (micro-batch-internal exact recrawls never
   both enter the index);
2. WRITE the verdicts to ``out_path`` — before the index mutates.
   A Spark-CACHED flag frame would not survive step 3: appending to
   the bucketed catalog table re-caches dependent plans against the
   NEW index (every accepted asset suddenly "matches itself"). The
   verdict frame is therefore localCheckpointed — materialized,
   lineage-free blocks that CANNOT re-evaluate against the mutated
   index — written to stable storage, and reused in memory for every
   downstream step;
3. append the keepers to the index, anti-joined against the
   fingerprints already stored.

Granularity caveat: two assets in the SAME micro-batch whose
fingerprints differ by 1..max_hamming bits are both admitted — the
index only arbitrates across batches, and intra-batch NEAR-dup
clustering (non-transitive at hamming > 0) is a policy the caller
owns. Intra-batch EXACT duplicates are deduped by the keeper rule.
The first batch with a row of the sink's modality builds the index; a
batch without one writes nothing and is still marked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.media_index import (
    _fingerprint,
    append_to_media_index,
    build_media_index,
    flag_new_media,
)
from ..fsutil import path_exists
from ..localframe import pin
from .ledger import ledgered, overwrite_batch_partition

__all__ = ["media_intake_sink", "read_intake_verdicts"]


def _index_exists(spark: SparkSession, index_path: str) -> bool:
    # Hadoop-FS probe, NOT os.path: on hdfs://s3a:// a local-FS check
    # would always say "absent" and a restart would rebuild (clobber)
    # an existing index.
    return path_exists(spark, f"{index_path}/meta")


def _with_kept(flagged: DataFrame, fp: DataFrame) -> DataFrame:
    """Verdicts + ``kept``: non-duplicate AND min-asset_id per exact
    fingerprint (the intra-batch exact-dedup winner). Fingerprints are
    8 bytes, so the winner join is on batch-sized narrow rows. ``fp``
    is the batch's (asset_id, fp) frame — the sink computes it ONCE
    per batch and reuses it here (guide §1.2: the old signature took
    the media frame and re-decoded + re-hashed every asset a second
    time inside the verdict write)."""
    winners = (
        fp.join(flagged.filter(~F.col("is_dup")).select("asset_id"), "asset_id")
        .groupBy("fp")
        .agg(F.min("asset_id").alias("asset_id"))
        .select("asset_id", F.lit(True).alias("kept"))
    )
    return flagged.join(winners, "asset_id", "left").withColumn(
        "kept", F.coalesce("kept", F.lit(False))
    )


def media_intake_sink(
    index_path: str,
    out_path: str,
    modality: str = "image",
    max_hamming: int = 6,
    bands: int | None = None,
    bucket_n: int = 8,
):
    """A ``foreachBatch`` function running the media-dedup intake loop.

    Usage::

        q = (media_stream.writeStream
             .foreachBatch(media_intake_sink(idx, out))
             .option("checkpointLocation", ckpt)
             .start())

    ``out_path`` receives one verdict row per batch asset, hive-
    partitioned by ``batch_id``: (asset_id, is_dup, best_match_id,
    best_hamming, n_matches, kept) — ``is_dup`` is the cross-batch
    index verdict, ``kept`` additionally requires winning the
    intra-batch exact dedup; only kept assets enter the index. Called
    directly, the sink returns ``(applied, kept)`` as
    :func:`.ledger.ledgered` does, ``kept`` being the kept
    ``asset_id`` frame.
    """

    def _body(batch_df: DataFrame, batch_id: int) -> DataFrame | None:
        spark = batch_df.sparkSession
        # ONE decode+fingerprint pass per batch (guide §1.2/§4): every
        # decision below — flag, intra-batch winner, accepted set,
        # index append — needs only the 16-byte (asset_id, fp) rows,
        # never the pixels again. The old flow re-rendered and
        # re-hashed the batch for the winner join and a third time for
        # the append. A pin materializes it once and cuts
        # lineage, so the self-referential index append below stays
        # frozen for free. Losing the blocks mid-batch just replays
        # the batch, which is convergent by construction (module
        # docstring), so no durability is given up. Emptiness is read
        # off the checkpointed 16-byte rows (the fingerprinter emits
        # one row per asset of the modality) instead of paying a
        # separate limit-1 decode job against the raw batch plan first.
        fp = pin(_fingerprint(batch_df, modality))
        if fp.isEmpty():
            # No row of this modality: nothing to write, but a batch
            # that has rows is still committed, so a redelivery skips.
            return None if batch_df.isEmpty() else fp.select("asset_id")
        first = not _index_exists(spark, index_path)
        if first:
            flagged = fp.select(
                "asset_id",
                F.lit(False).alias("is_dup"),
                F.lit(None).cast("long").alias("best_match_id"),
                F.lit(None).cast("int").alias("best_hamming"),
                F.lit(0).cast("long").alias("n_matches"),
            )
        else:
            flagged = flag_new_media(batch_df, index_path, precomputed_fp=fp)
        # Step 2: verdicts to stable storage BEFORE the index mutates
        # (see module docstring). The verdict frame is pinned
        # ONCE: the write, the kept set, and the index append all read
        # the same materialized lineage-free blocks, so nothing
        # downstream can re-evaluate the flag plan against the
        # post-append index (a checkpoint has no lineage to re-cache,
        # so no storage read-back is needed; guide §1.2/§5).
        verdicts = pin(_with_kept(flagged, fp))
        overwrite_batch_partition(verdicts, batch_id, out_path)
        kept_ids = verdicts.filter("kept").select("asset_id")
        accepted_fp = fp.join(kept_ids, "asset_id")
        if first:
            build_media_index(
                batch_df,
                index_path,
                modality=modality,
                max_hamming=max_hamming,
                bands=bands,
                bucket_n=bucket_n,
                precomputed_fp=accepted_fp,
            )
        else:
            # Anti-join against stored fingerprints: a replay of this
            # batch after a crash before the mark appends nothing.
            # Pinned so the emptiness probe and the append read one
            # materialization (the probe used to run the anti-join once
            # for limit-1 and the append a second time in full).
            novel = pin(
                accepted_fp.join(
                    spark.read.parquet(f"{index_path}/fingerprints").select(
                        "asset_id"
                    ),
                    "asset_id",
                    "left_anti",
                )
            )
            if not novel.isEmpty():
                append_to_media_index(
                    None, index_path, precomputed_fp=novel
                )
        # The kept set, handed back so a composing sink (the curation
        # pipeline) can feed its next stage without re-reading the
        # verdict log it just wrote. Derived from the checkpointed
        # verdict frame — byte-equal to reading the persisted verdicts
        # back. foreachBatch itself ignores the return value.
        return kept_ids

    return ledgered(index_path, _body)


def read_intake_verdicts(spark: SparkSession, out_path: str) -> DataFrame:
    """The accumulated verdict log written by :func:`media_intake_sink`."""
    return spark.read.parquet(out_path)
