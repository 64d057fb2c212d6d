"""Stateful streaming deduplication — incremental exact dedup over a
document stream with ``applyInPandasWithState``.

Batch exact dedup (llm/dedup.py) answers "which docs are copies" after
the fact; this operator answers it *online*: the first document with a
given content fingerprint passes through, later copies are dropped,
and the seen-set lives in Spark's managed state store (checkpointed,
partitioned by fingerprint, survives restarts). This is the shape an
always-on training-data intake needs — the state store scales out with
the key space instead of a driver-side set.

The grouping key is the fingerprint itself, so state per group is just
(first_seen flag + count); no per-key memory growth beyond the key.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..llm.text import with_fingerprint

# Output: the surviving (first-seen) docs + running copy count per hash.
DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("fingerprint", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_copies_so_far", T.LongType()),
        T.StructField("is_first", T.BooleanType()),
    ]
)

# State per fingerprint: keeper id + how many copies seen.
DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("keeper_id", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _dedup_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (fingerprint,) = key
    keeper_id, n_seen = state.get if state.exists else (None, 0)
    out_rows: list[dict[str, Any]] = []
    for pdf in batches:
        for doc_id in sorted(int(x) for x in pdf["doc_id"]):
            n_seen += 1
            if keeper_id is None:
                keeper_id = doc_id
                out_rows.append(
                    {
                        "fingerprint": fingerprint,
                        "doc_id": doc_id,
                        "n_copies_so_far": n_seen,
                        "is_first": True,
                    }
                )
    state.update((keeper_id, n_seen))
    yield pd.DataFrame(
        out_rows, columns=["fingerprint", "doc_id", "n_copies_so_far", "is_first"]
    )


def streaming_exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Emit only the first-seen document per content fingerprint.

    ``applyInPandasWithState`` keyed on the fingerprint: each micro-batch
    updates (keeper_id, n_seen) in the state store and emits a row only
    when a fingerprint is new. Downstream sees an append-only stream of
    unique documents.
    """
    return (
        with_fingerprint(docs, text_col)
        .groupBy("fingerprint")
        .applyInPandasWithState(
            _dedup_fn,
            outputStructType=DEDUP_OUTPUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------------ streaming near-dup

# Output: each later arrival into an occupied LSH bucket, linked to the
# bucket's first-seen keeper (the star-shaped candidate set — enough for
# dedup, where transitivity runs through the keeper).
NEARDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("keeper_id", T.LongType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("band_hash", T.LongType()),
    ]
)

# State per (band_idx, band_hash) bucket: just the keeper id.
NEARDUP_STATE_SCHEMA = T.StructType([T.StructField("keeper_id", T.LongType())])


def _bucket_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    band_idx, band_hash = key
    (keeper,) = state.get if state.exists else (None,)
    out_rows: list[dict[str, Any]] = []
    for pdf in batches:
        for doc_id in sorted(int(x) for x in pdf["doc_id"]):
            if keeper is None:
                keeper = doc_id
            elif doc_id != keeper:
                out_rows.append(
                    {
                        "doc_id": doc_id,
                        "keeper_id": keeper,
                        "band_idx": band_idx,
                        "band_hash": band_hash,
                    }
                )
    state.update((keeper,))
    yield pd.DataFrame(
        out_rows, columns=["doc_id", "keeper_id", "band_idx", "band_hash"]
    )


def streaming_minhash_candidates(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Online near-duplicate candidates: MinHash + banded LSH over a
    document stream.

    The signature and band expressions are the *same* stateless
    expressions as the batch path (``llm.dedup.minhash_signatures`` /
    ``band_buckets``); only the bucket occupancy is stateful —
    ``applyInPandasWithState`` keyed on (band_idx, band_hash) stores one
    keeper id per bucket, and every later arrival into an occupied
    bucket emits a (doc, keeper) candidate immediately. State volume is
    one long per occupied bucket, partitioned by the band key across
    the cluster's state store — the always-on twin of the batch
    self-join, with the same recall structure (a pair surfaces iff some
    whole band matches). Exact-score candidates downstream (batch
    ``ngram_jaccard_pairs`` or the signature estimate) before dropping.
    """
    if bands > num_hashes or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}"
        )
    from ..llm.dedup import band_buckets, minhash_signatures

    sigs = minhash_signatures(
        docs, text_col=text_col, num_hashes=num_hashes, shingle_k=shingle_k
    )
    buckets = band_buckets(sigs, "doc_id", bands)
    return buckets.groupBy("band_idx", "band_hash").applyInPandasWithState(
        _bucket_fn,
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup_bounded(
    docs: DataFrame,
    watermark_delay: str = "1 hour",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Bounded-state variant of :func:`streaming_exact_dedup` using the
    built-in ``dropDuplicatesWithinWatermark``.

    The custom stateful dedup above keeps every fingerprint forever —
    correct, but state grows with distinct-document count, which on an
    unbounded feed eventually needs a TTL policy. When duplicates are
    known to arrive within a bounded window (the common log-replay /
    at-least-once-delivery case), the engine-native operator is the
    right tool: state for a fingerprint is dropped once the watermark
    passes it, so state size tracks the duplicate-arrival window, not
    corpus history. Trade-off (documented, not hidden): a duplicate
    arriving later than ``watermark_delay`` after the original is
    re-emitted — choose this variant per the source's delivery bound.
    """
    return (
        with_fingerprint(docs, text_col)
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
