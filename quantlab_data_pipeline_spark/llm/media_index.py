"""Persistent perceptual-fingerprint index — incremental media dedup.

The media twin of :mod:`.dedup_index` (MinHash text index): a crawl
ingests image/audio batches continuously, and re-fingerprinting or
re-shuffling the whole already-accepted corpus per batch is the cost
this index removes. Stored layout at ``path``:

* ``fingerprints/`` — (asset_id, fp) parquet: 8 bytes per asset plus
  the id; the pixels/samples NEVER enter the index.
* ``buckets`` — (asset_id, band_idx, band_val) as a Hive-bucketed
  table on (band_idx, band_val) (``bucket_n`` buckets): a probe batch
  shuffles ITSELF into the stored bucketing and the corpus side reads
  in place — no corpus-wide exchange per batch (same exchange-saving
  layout the text index measured: the gap grows with index size).
* ``meta`` — (modality, max_hamming, bands, bucket_n) pinned at build
  time so callers cannot drift the band structure between batches.

Tombstones, compaction, the bucketed band table and ``meta`` follow the
one protocol in :mod:`..storage.index_store`.

Banding follows ``dedup.simhash_near_dup_pairs``: ``bands`` defaults
to the pigeonhole minimum ``max_hamming + 1`` (recall exact, widest —
most selective — band values; see the round-7 probe numbers in
BASELINE.md). The typical intake loop is
``flag_new_media -> keep !is_dup -> append_to_media_index``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage.index_store import BANDS, IndexStore

__all__ = [
    "build_media_index",
    "append_to_media_index",
    "query_media_index",
    "flag_new_media",
    "remove_from_media_index",
    "compact_media_index",
]

_FINGERPRINTERS = {"image": "image_dhash", "audio": "audio_fingerprint"}


def _fingerprint(media: DataFrame, modality: str) -> DataFrame:
    """(asset_id, fp) via the modality's Arrow kernel."""
    from . import multimodal

    if modality not in _FINGERPRINTERS:
        raise ValueError(f"unknown modality {modality!r}")
    fp = getattr(multimodal, _FINGERPRINTERS[modality])(media)
    return fp.select("asset_id", F.col(fp.columns[1]).alias("fp"))


def _bands(fp_df: DataFrame, bands: int, keep_fp: bool = False) -> DataFrame:
    """(asset_id, band_idx, band_val) — bit-band explode of the 64-bit
    fingerprint, identical construction to simhash_near_dup_pairs.
    ``keep_fp`` carries the 8-byte fingerprint through the band rows
    (query path: the probe batch is then scanned ONCE — the exact
    Hamming check reads ``fp`` off the band row instead of joining the
    fingerprint frame back, so no persist/cache lifecycle exists on
    the probe side at all)."""
    width = 64 // bands
    # Signed-64 view of the low-`width` ones-mask: at bands=1 the band
    # is the whole fingerprint and (1 << 64) - 1 overflows a Java long,
    # but its two's-complement value -1 is the same 64 set bits.
    m = (1 << width) - 1
    mask = F.lit(m - (1 << 64) if m >= 1 << 63 else m).cast("long")
    band = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftrightunsigned(F.col("fp"), i * width)
                    .bitwiseAND(mask)
                    .alias("band_val"),
                )
                for i in range(bands)
            ]
        )
    )
    head = ["asset_id", "fp"] if keep_fp else ["asset_id"]
    return fp_df.select(*head, band.alias("b")).select(
        *head, "b.band_idx", "b.band_val"
    )


def _store(spark: SparkSession, path: str, bucket_n=None) -> IndexStore:
    return IndexStore(
        spark, path, "asset_id", stores=("fingerprints", BANDS),
        band_key="band_val", bucket_n=bucket_n,
    )


def build_media_index(
    media: DataFrame,
    path: str,
    modality: str = "image",
    max_hamming: int = 6,
    bands: int | None = None,
    bucket_n: int = 8,
    precomputed_fp: DataFrame | None = None,
) -> None:
    """Create the index at ``path`` from the current corpus (overwrite).

    ``precomputed_fp`` — an already-MATERIALIZED (persisted or
    localCheckpointed) (asset_id, fp) frame for exactly ``media``'s
    assets — skips the decode+fingerprint pass entirely (guide §1.2:
    don't recompute what a caller already holds; the intake sink
    fingerprints each batch once and reuses the 16-byte rows for flag,
    winner, and append). The caller owns materialization; an
    un-materialized frame would be evaluated once per write below.
    """
    if bands is None:
        bands = max_hamming + 1
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} breaks pigeonhole recall for "
            f"max_hamming={max_hamming}"
        )
    store = _store(media.sparkSession, path, bucket_n)
    store.clear_tombstones()
    fp = (
        precomputed_fp
        if precomputed_fp is not None
        else _fingerprint(media, modality).persist()
    )
    try:
        store.write(fp, "fingerprints", "overwrite")
        # An overwrite, so a rebuild at an existing path never stacks
        # fresh band rows on stale ones (ADVICE r7).
        store.write(_bands(fp, bands), BANDS, "overwrite")
    finally:
        if precomputed_fp is None:
            fp.unpersist()
    store.write_rows(
        "meta",
        [(modality, max_hamming, bands, bucket_n)],
        "modality string, max_hamming int, bands int, bucket_n int",
    )


def append_to_media_index(
    media: DataFrame, path: str, precomputed_fp: DataFrame | None = None
) -> None:
    """Add an accepted batch with the build-time band structure.

    Write order is load-bearing: BANDS first, fingerprints last. An
    intake caller naturally derives ``media`` from a read of
    ``{path}/fingerprints`` (e.g. anti-joining a batch against what is
    already indexed), and Spark re-caches cached plans that read a
    path the moment that path is appended to — so if fingerprints
    were written first, the bands action would re-evaluate ``media``
    against the POST-append file list and silently drop every asset
    it just admitted. With the self-referential write last, both
    actions see the pre-append index.

    ``precomputed_fp`` (optional): a (asset_id, fp) frame for exactly
    the batch's assets, computed by a caller that already paid the
    decode+fingerprint pass (the intake sink). It is localCheckpointed
    here regardless — the freeze below is this function's invariant,
    not the caller's. With ``precomputed_fp``, ``media`` may be None
    (nothing else is read from it)."""
    spark = (media if precomputed_fp is None else precomputed_fp).sparkSession
    store = _store(spark, path)
    modality, bands = store.meta["modality"], store.meta["bands"]
    # localCheckpoint, not persist: persist is NOT a freeze — Spark
    # re-caches (re-executes) cached plans whose input paths are
    # written to, so a persisted frame whose lineage reads this index
    # would silently flip under the second write. Checkpointed blocks
    # have no lineage to re-execute. Batch-sized, so the
    # materialization is cheap; blocks are freed when the frame is
    # garbage-collected.
    fp = (
        precomputed_fp
        if precomputed_fp is not None
        else _fingerprint(media, modality)
    ).localCheckpoint()
    store.write(_bands(fp, bands), BANDS, "append")
    store.write(fp, "fingerprints", "append")


def query_media_index(
    new_media: DataFrame, path: str, precomputed_fp: DataFrame | None = None
) -> DataFrame:
    """(new_id, indexed_id, hamming) for every probe asset within the
    index's ``max_hamming`` of a stored fingerprint. Candidates come
    from the banded equi-join against the bucketed layout (pigeonhole-
    exact recall); only the candidate pairs' 8-byte fingerprints enter
    the exact Hamming check. The probe fingerprint rides the band rows
    (``keep_fp`` — 8 extra bytes per band row), so the probe batch is
    decoded and fingerprinted exactly once per action with NO cached
    state left behind (the r7 ``persist`` leak is gone by design: the
    second probe-side join it was caching no longer exists).

    ``precomputed_fp``: a materialized (asset_id, fp) frame for the
    probe batch, for callers that already fingerprinted it (the intake
    sink) — skips the decode+hash entirely."""
    spark = (new_media if precomputed_fp is None else precomputed_fp).sparkSession
    store = _store(spark, path)
    modality, max_hamming, bands = (
        store.meta[c] for c in ("modality", "max_hamming", "bands")
    )
    new_fp = (
        precomputed_fp
        if precomputed_fp is not None
        else _fingerprint(new_media, modality)
    )
    idx_buckets = store.bands()
    # Masking the fingerprint frame alone suffices: a tombstoned id's
    # surviving BUCKET rows drop out of the candidate set at the
    # fingerprint inner join below.
    idx_fp = store.live("fingerprints")
    candidates = (
        _bands(new_fp, bands, keep_fp=True)
        .select(
            F.col("asset_id").alias("new_id"),
            F.col("fp").alias("fa"),
            "band_idx",
            "band_val",
        )
        .join(
            idx_buckets.select(
                F.col("asset_id").alias("indexed_id"), "band_idx", "band_val"
            ),
            ["band_idx", "band_val"],
        )
        # fa is functionally dependent on new_id, so carrying it through
        # the distinct leaves the candidate cardinality unchanged.
        .select("new_id", "fa", "indexed_id")
        .distinct()
    )
    return (
        candidates.join(
            idx_fp.select(
                F.col("asset_id").alias("indexed_id"), F.col("fp").alias("fb")
            ),
            "indexed_id",
        )
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("new_id", "indexed_id", "hamming")
    )


def flag_new_media(
    new_media: DataFrame, path: str, precomputed_fp: DataFrame | None = None
) -> DataFrame:
    """Annotate a probe batch: (asset_id, is_dup, best_match_id,
    best_hamming, n_matches) — best match = lowest hamming, then lowest
    indexed id (deterministic). ``precomputed_fp`` as in
    :func:`query_media_index`; the asset universe is then read off the
    fingerprint frame (1:1 with the batch), so the media frame is never
    touched at all."""
    pairs = query_media_index(new_media, path, precomputed_fp=precomputed_fp)
    best = (
        pairs.groupBy("new_id")
        .agg(
            F.min(F.struct("hamming", "indexed_id")).alias("__b"),
            F.count("*").alias("n_matches"),
        )
        .select(
            "new_id",
            F.col("__b.indexed_id").alias("best_match_id"),
            F.col("__b.hamming").alias("best_hamming"),
            "n_matches",
        )
    )
    ids = (
        new_media if precomputed_fp is None else precomputed_fp
    ).select("asset_id").distinct()
    return (
        ids.join(best, ids["asset_id"] == best["new_id"], "left")
        .drop("new_id")
        .select(
            "asset_id",
            F.col("best_match_id").isNotNull().alias("is_dup"),
            "best_match_id",
            "best_hamming",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
        )
    )


def remove_from_media_index(spark: SparkSession, path: str, asset_ids) -> None:
    """Takedown: logically remove indexed assets by id.

    Appends the ids to ``{path}/tombstones`` — an O(delete-set) write;
    the corpus-sized fingerprint and bucket stores are untouched.
    Every subsequent query anti-joins the tombstone set, so removed
    assets stop matching immediately; :func:`compact_media_index`
    later rewrites the stores to reclaim the space. Contract: ids are
    permanent asset identities — a tombstoned id stays masked even if
    re-appended, until a compaction clears the tombstone set (re-ingest
    a removed asset under a fresh id, the same rule every
    tombstone-based store imposes).

    ``asset_ids`` is a one-column DataFrame or an iterable of ints; an
    empty iterable writes nothing.
    """
    _store(spark, path).remove(asset_ids)


def compact_media_index(spark: SparkSession, path: str) -> None:
    """Physically drop tombstoned assets from the fingerprint and
    bucket stores, then clear the tombstone set. A no-op when nothing
    was removed. The rewrite is one filtered pass over each store —
    the reclaim cost every tombstone design amortizes by running
    compaction on a cadence, not per delete. localCheckpoint pins the
    filtered frames before their source paths are overwritten (lineage
    re-execution would otherwise read the half-rewritten store)."""
    _store(spark, path).compact()
