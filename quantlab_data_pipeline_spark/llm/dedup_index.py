"""Persistent MinHash dedup index — incremental near-dup detection.

At 100 TB you cannot re-mine the whole corpus every time a batch of new
documents arrives. The reference pipeline has no analogue (its dedup is
per-snapshot); production corpus curation needs the incremental shape:
persist the corpus's MinHash state ONCE — signatures plus banded LSH
buckets, ids and 8-byte hashes only, never text — and check each
incoming batch against that index with two narrow equi-joins:

1. band the new batch's signatures and equi-join on
   ``(band_idx, band_hash)`` against the stored buckets. Candidate
   generation shuffles only the batch's band keys and matching index
   rows — the corpus itself is never re-read, re-shingled, or shuffled.
2. estimate Jaccard for each candidate pair as the fraction of equal
   signature slots (the standard unbiased MinHash estimator) and keep
   pairs at/above the threshold. No text comparison anywhere: the
   index stays a few percent of corpus size and the whole check is
   pure Catalyst expressions.

Accepted batches append their signatures + buckets (:func:`append_to_index`),
so the index is the only state that grows. Band structure is recorded in
a one-row ``meta`` table and enforced on every query/append — mixing
band parameters silently breaks LSH recall, so a mismatch raises.

Index layout (all parquet, engine-agnostic; tombstones, compaction,
the bucketed band table and ``meta`` follow the one protocol in
:mod:`..storage.index_store`):

- ``{path}/meta``        — (num_hashes, bands, shingle_k, bucket_n), 1 row
- ``{path}/signatures``  — (doc_id, signature array<long>)
- ``{path}/buckets``     — (doc_id, band_idx, band_hash); with
  ``bucket_n`` set at build time this is a Spark bucketed table on the
  join key, so the candidate equi-join reads the corpus-sized index
  with NO exchange — only the incoming batch shuffles (see
  :func:`build_dedup_index`)
- ``{path}/exact``       — (doc_id, text_md5): the exact-duplicate
  fast path — an incoming batch can be checked for byte-identical
  re-ingests with ONE equi-join on a 16-byte digest, no banding, no
  estimator (:func:`flag_new_batch_exact`). md5 is engine-portable, so
  this path is hash-checkable against a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import band_buckets, ensure_parallelism, minhash_signatures
from ..localframe import materialized, pin
from ..storage.index_store import BANDS, IndexStore

__all__ = [
    "build_dedup_index",
    "append_to_index",
    "query_dedup_index",
    "flag_new_batch",
    "flag_new_batch_exact",
    "read_index_meta",
    "remove_from_dedup_index",
    "compact_dedup_index",
]


def _exact_hashes(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        id_col, F.md5(F.col(text_col).cast("binary")).alias("text_md5")
    )


def _signatures(
    docs: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_k: int
) -> DataFrame:
    return minhash_signatures(
        ensure_parallelism(docs),
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
    ).select(id_col, "signature")


def _store(
    spark: SparkSession, path: str, id_col: str = "doc_id", bucket_n=None
) -> IndexStore:
    return IndexStore(
        spark, path, "doc_id", id_col, ("signatures", BANDS, "exact"),
        band_key="band_hash", bucket_n=bucket_n,
    )


def build_dedup_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    bucket_n: int | None = None,
) -> None:
    """Create the index at ``path`` from the current corpus (overwrite).

    ``bucket_n`` writes the ``buckets`` table bucketed on the LSH join
    key ``(band_idx, band_hash)`` (Spark ``bucketBy`` + an external
    table entry). The candidate join in :func:`query_dedup_index` then
    reads the index pre-partitioned: only the (small) incoming batch is
    shuffled, never the corpus-sized index. At 100 TB the index is
    billions of band rows — re-exchanging it on every intake batch is
    the dominant cost of the unbucketed layout, and bucketing pays that
    shuffle exactly once, at build time. Same trade as the
    hive-partitioned IVF lists in ``ann_index``: layout work at write
    time buys exchange-free probes forever after.
    """
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    store = _store(docs.sparkSession, path, id_col, bucket_n or 0)
    store.clear_tombstones()
    # One lineage feeds both tables; pinned so shingling runs once.
    with materialized():
        sigs = pin(_signatures(docs, id_col, text_col, num_hashes, shingle_k))
        store.write(sigs, "signatures", "overwrite")
        store.write(band_buckets(sigs, id_col, bands), BANDS, "overwrite")
    store.write(_exact_hashes(docs, id_col, text_col), "exact", "overwrite")
    store.write_rows(
        "meta",
        [(num_hashes, bands, shingle_k, bucket_n or 0, HASH_FAMILY)],
        "num_hashes int, bands int, shingle_k int, bucket_n int, "
        "hash_family string",
    )


#: Signature hash family this code computes. Recorded in ``meta`` and
#: VERIFIED on every read: querying an index whose stored signatures
#: came from a different family (e.g. the pre-round-3 xxhash64 one)
#: would produce zero band matches and silently flag nothing — the
#: same class of silent recall loss as a band-structure mismatch, so
#: it raises the same way.
HASH_FAMILY = "cw-md5-v1"


def read_index_meta(spark: SparkSession, path: str) -> tuple[int, int, int]:
    """(num_hashes, bands, shingle_k) recorded at build time. Raises
    if the index's recorded hash family (or its absence, for
    pre-round-3 xxhash64 indexes) does not match what this code
    computes — mixed families never error organically, they just
    return no duplicates."""
    return _checked_meta(_store(spark, path))


def _checked_meta(store: IndexStore) -> tuple[int, int, int]:
    row = store.meta
    family = row.asDict().get("hash_family")
    if family != HASH_FAMILY:
        raise ValueError(
            f"dedup index at {store.path!r} was built with hash family "
            f"{family!r}, but this code computes {HASH_FAMILY!r}; "
            "querying across families silently matches nothing — "
            "rebuild the index with build_dedup_index"
        )
    return int(row["num_hashes"]), int(row["bands"]), int(row["shingle_k"])


def remove_from_dedup_index(spark: SparkSession, path: str, doc_ids) -> None:
    """Takedown: logically remove indexed documents by id.

    Appends the ids to ``{path}/tombstones`` — an O(delete-set) write;
    the corpus-sized signature/bucket/exact stores are untouched. Every
    query path anti-joins the tombstone set, so removed documents stop
    matching immediately; :func:`compact_dedup_index` later rewrites
    the stores to reclaim space. Contract: ids are permanent document
    identities — a tombstoned id stays masked even if re-appended,
    until a compaction clears the tombstone set (re-ingest a removed
    document under a fresh id).

    ``doc_ids`` is a one-column DataFrame or an iterable of ints; an
    empty iterable writes nothing.
    """
    _store(spark, path).remove(doc_ids)


def compact_dedup_index(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> None:
    """Physically drop tombstoned documents from the signature, bucket,
    and exact stores, then clear the tombstone set. No-op when nothing
    was removed. One filtered pass per store — the reclaim cost every
    tombstone design amortizes by compacting on a cadence, not per
    delete. The store pins each filtered frame before its source
    path is overwritten (lineage re-execution would otherwise read the
    half-rewritten store)."""
    _store(spark, path, id_col).compact()


def append_to_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Add an accepted batch to the index, with the build-time band
    structure (read from ``meta`` — callers cannot drift the params)."""
    store = _store(docs.sparkSession, path, id_col)
    num_hashes, bands, shingle_k = _checked_meta(store)
    # An intake caller naturally derives ``docs`` from a read of this
    # index (anti-join against {path}/exact or the flag output), and
    # Spark RE-EXECUTES cached plans whose input paths are appended to
    # — so a persist here is not a freeze, and without one each write
    # below would re-evaluate the batch against the partially-mutated
    # index and silently drop the very docs being admitted. A pin holds
    # batch-sized blocks with no lineage to re-execute; every write
    # then sees the pre-append decision.
    with materialized():
        sigs = pin(_signatures(docs, id_col, text_col, num_hashes, shingle_k))
        exact = pin(_exact_hashes(docs, id_col, text_col))
        store.write(sigs, "signatures", "append")
        store.write(band_buckets(sigs, id_col=id_col, bands=bands), BANDS, "append")
        store.write(exact, "exact", "append")


def query_dedup_index(
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs between a new batch and the indexed corpus.

    Returns ``(new_id, indexed_id, est_jaccard)`` for every candidate
    pair whose signature-agreement estimate is >= ``threshold``. A pair
    is a candidate iff some band matches exactly (same S-curve recall
    as :func:`..dedup.lsh_candidate_pairs`); identical documents always
    collide in every band, so exact re-ingests are never missed.
    """
    store = _store(new_docs.sparkSession, path, id_col)
    num_hashes, bands, shingle_k = _checked_meta(store)
    new_sigs = _signatures(new_docs, id_col, text_col, num_hashes, shingle_k)
    new_buckets = band_buckets(new_sigs, id_col=id_col, bands=bands)
    # No persist: the band branch and the estimator branch each
    # re-shingle the (batch-sized) probe — bounded CPU — while a
    # persist here would outlive the returned lazy DataFrame and leak
    # a cached frame per intake batch (ADVICE r7 on the media twin).
    # Carrying the 64-slot signature through 16 band rows (the media
    # index's keep_fp fix) would 16x the candidate-join shuffle, so
    # recomputation is the cheaper leak-free shape for text.
    idx_buckets = store.bands()
    # Masking the signature frame alone suffices: a tombstoned id's
    # surviving bucket rows drop out of the candidate set at the
    # signature inner join below.
    idx_sigs = store.live("signatures")

    candidates = (
        new_buckets.select(
            F.col(id_col).alias("new_id"), "band_idx", "band_hash"
        )
        .join(
            idx_buckets.select(
                F.col(id_col).alias("indexed_id"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .select("new_id", "indexed_id")
        .distinct()
    )
    agree = F.size(
        F.filter(
            F.zip_with("new_sig", "idx_sig", lambda a, b: a == b),
            lambda m: m,
        )
    )
    return (
        candidates.join(
            new_sigs.select(
                F.col(id_col).alias("new_id"), F.col("signature").alias("new_sig")
            ),
            "new_id",
        )
        .join(
            idx_sigs.select(
                F.col(id_col).alias("indexed_id"),
                F.col("signature").alias("idx_sig"),
            ),
            "indexed_id",
        )
        .withColumn(
            "est_jaccard",
            F.round(agree / F.lit(float(num_hashes)), 6),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "indexed_id", "est_jaccard")
    )


def flag_new_batch(
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Annotate a new batch against the index: ``is_dup`` plus the best
    indexed match (highest estimate, lowest id tie-break — deterministic).
    The typical intake loop is ``flag -> keep !is_dup -> append_to_index``."""
    pairs = query_dedup_index(new_docs, path, threshold, id_col, text_col)
    # max(struct) picks the highest estimate; negating the id inside the
    # struct makes ties resolve to the LOWEST indexed id, deterministically.
    best = pairs.groupBy("new_id").agg(
        F.max(
            F.struct(
                "est_jaccard",
                (-F.col("indexed_id")).alias("__negid"),
            )
        ).alias("__b"),
        F.count("*").alias("n_matches"),
    ).select(
        "new_id",
        F.col("__b.est_jaccard").alias("best_est_jaccard"),
        (-F.col("__b.__negid")).alias("best_match_id"),
        "n_matches",
    )
    return (
        new_docs.join(
            best, new_docs[id_col] == best["new_id"], "left"
        )
        .drop("new_id")
        .withColumn("is_dup", F.col("best_est_jaccard").isNotNull())
        .withColumn("n_matches", F.coalesce("n_matches", F.lit(0)))
    )


def flag_new_batch_exact(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-duplicate subset of :func:`flag_new_batch`: flag batch
    documents whose text is byte-identical to an already-indexed
    document. One md5 equi-join against the per-digest aggregate of the
    ``exact`` table — no banding, no signature estimate, and (unlike
    the MinHash path) fully replayable by a SQL oracle since md5 is
    engine-portable. Returns the batch plus ``is_dup``, ``n_matches``
    (indexed documents sharing the digest) and ``best_match_id``
    (lowest matching indexed id — same tie-break as the estimator
    path). At 100 TB the index side aggregates to one row per distinct
    digest before the join, so the join key set is bounded by corpus
    cardinality, not corpus size."""
    stored = _store(new_docs.sparkSession, path, id_col).live("exact")
    idx = stored.groupBy("text_md5").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min(id_col).alias("best_match_id"),
    )
    return (
        _exact_hashes(new_docs, id_col, text_col)
        .join(idx, "text_md5", "left")
        .select(
            id_col,
            F.col("n_matches").isNotNull().alias("is_dup"),
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            "best_match_id",
        )
    )
