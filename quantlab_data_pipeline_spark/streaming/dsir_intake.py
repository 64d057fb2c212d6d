"""Streaming DSIR intake (foreachBatch sink).

Completes the DSIR story the way :mod:`.media_intake` completes the
media-index one: :mod:`..llm.dsir` gives the persisted count model
(target built offline from the curated corpus; raw folded forward
batch by batch); this wires a crawl STREAM into it, so every
micro-batch is importance-scored at decision time and the raw model
follows the crawl without ever re-tokenizing accepted batches.

Per micro-batch, under :mod:`.ledger` and in this order:

1. FOLD the batch's bucket-count delta into the raw store as its
   ``{raw_path}/counts/batch_id=N`` partition — counts (unlike
   fingerprints) cannot be anti-joined, so the partition overwrite is
   what makes the fold exactly idempotent. The first non-empty batch
   also writes the store meta, COPIED from the target store so the two
   feature spaces can never diverge; a raw store found already present
   is checked once against the target's meta instead.
2. score the batch with :func:`..llm.dsir.dsir_select_stored` against
   the target store and the just-folded raw store — each batch scores
   under the raw model including everything seen up to and including
   itself (the uniform rule that makes batch 0, whose only model is
   itself, consistent with every later batch), with selection ranks
   and the frac/k cut applied WITHIN the batch;
3. verdicts land at ``out_path`` as the batch's ``batch_id``
   partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.dsir import (
    dsir_select_stored,
    hashed_ngram_counts,
    read_dsir_meta,
    write_dsir_meta,
)
from ..fsutil import path_exists
from ..localframe import pin
from .ledger import ledgered, overwrite_batch_partition

__all__ = ["dsir_intake_sink", "read_dsir_verdicts"]


def _store_exists(spark: SparkSession, path: str) -> bool:
    # Hadoop-FS probe, NOT os.path: a local-FS check on a cluster store
    # URI would route every restart into the "first batch" build path.
    return path_exists(spark, f"{path}/meta")


def dsir_intake_sink(
    target_path: str,
    raw_path: str,
    out_path: str,
    frac: float | None = None,
    k: int | None = None,
    salt: str = "dsir",
):
    """A ``foreachBatch`` function running the DSIR intake loop.

    Usage::

        q = (doc_stream.writeStream
             .foreachBatch(dsir_intake_sink(target, raw, out, frac=0.25))
             .option("checkpointLocation", ckpt)
             .start())

    ``out_path`` receives one verdict row per batch doc, partitioned
    by ``batch_id``: (doc_id, n_grams, log_w, sel_key, rank, selected)
    — the :func:`..llm.dsir.dsir_select` contract, cut within the
    batch. The target store must exist (built offline with
    ``build_dsir_counts``); the raw store is created and owned by this
    sink, its feature space copied from the target's. A raw store left
    under a different feature space raises ``ValueError``.
    """
    if (frac is None) == (k is None):
        raise ValueError("pass exactly one of frac= or k=")
    meta = None  # the target's (buckets, ns), read once per instance
    raw_checked = False

    def _body(batch_df: DataFrame, batch_id: int) -> bool | None:
        nonlocal meta, raw_checked
        if batch_df.isEmpty():
            return None
        spark = batch_df.sparkSession
        if meta is None:
            meta = read_dsir_meta(spark, target_path)
        if not _store_exists(spark, raw_path):
            write_dsir_meta(spark, raw_path, *meta)
        elif not raw_checked:
            raw_meta = read_dsir_meta(spark, raw_path)
            if raw_meta != meta:
                raise ValueError(
                    f"raw store {raw_path} has (buckets, ns) = {raw_meta}, "
                    f"target {target_path} has {meta}"
                )
        raw_checked = True
        buckets, ns = meta
        # ONE tokenize pass per batch (guide §1.2): the md5-per-gram
        # explode is the dominant per-batch cost, and both the fold
        # (step 1) and the scoring join (step 2) consume exactly the
        # per-doc bucket counts. A pin materializes them
        # once — counts rows are (id, bucket, cnt), far smaller than
        # the text — and cuts lineage, so the scoring subtree cannot
        # re-evaluate against the just-appended raw store either.
        # Losing the blocks mid-batch replays the batch (idempotent by
        # the partition-overwrite design), so durability is unchanged.
        counts = pin(hashed_ngram_counts(batch_df, buckets=buckets, ns=ns))
        # Step 1: fold — a crash-replay rewrites its own delta, never
        # double-counts it.
        overwrite_batch_partition(
            counts.groupBy("bucket").agg(F.sum("cnt").alias("cnt")),
            batch_id,
            f"{raw_path}/counts",
        )
        # Step 2+3: score under the just-folded model, verdicts out.
        verdicts = dsir_select_stored(
            batch_df,
            target_path,
            raw_path,
            frac=frac,
            k=k,
            salt=salt,
            batch_counts=counts,
            # the raw store's meta is the target's (created as a copy
            # above, or checked once): the scorer's two meta reads +
            # equality check would repeat that per batch
            known_meta=meta,
        )
        overwrite_batch_partition(verdicts, batch_id, out_path)
        return True

    return ledgered(raw_path, _body)


def read_dsir_verdicts(spark: SparkSession, out_path: str) -> DataFrame:
    """The accumulated verdict log written by :func:`dsir_intake_sink`."""
    return spark.read.parquet(out_path)
