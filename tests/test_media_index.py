"""Persistent perceptual media index (llm/media_index.py).

The intake-loop contract, mirroring tests/test_dedup_index.py for the
media twin: build once, flag each probe batch against the stored
8-byte fingerprints (banded candidate join, exact Hamming check),
append accepted assets. Near-dup recall at max_hamming > 0 is checked
against a brute-force local dHash computation (pigeonhole recall must
be EXACT, not probabilistic), rebuilds at an existing path must not
stack stale bucket rows (ADVICE r7), and no cached DataFrames may
outlive a query (the r7 persist leak)."""

from __future__ import annotations

import numpy as np
import pytest

from quantlab_data_pipeline_spark.llm.codecs import png_encode, wav_encode


@pytest.fixture()
def index_path(tmp_path):
    return str(tmp_path / "media_index")


_IMG_META = {
    "width": 40,
    "height": 40,
    "n_frames": 1,
    "sample_rate": None,
    "format": "png",
}


def _img(seed: int) -> np.ndarray:
    """Deterministic smooth 40x40 grayscale frame — smooth, so a small
    local edit moves only a few dHash bits (the property the near-dup
    tests rely on)."""
    base = (np.add.outer(np.arange(40), np.arange(40)) * (3 + seed) + seed * 17) % 256
    return base.astype(np.uint8)


def _edit(img: np.ndarray, patch: int) -> np.ndarray:
    out = img.copy()
    out[:patch, :patch] = 255
    return out


def _media(spark, imgs: dict[int, np.ndarray]):
    from quantlab_data_pipeline_spark.llm.multimodal import MEDIA_SCHEMA

    rows = [
        (aid, "image", png_encode(img), _IMG_META) for aid, img in imgs.items()
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_near_dup_recall_matches_brute_force(spark, index_path):
    """max_hamming > 0: the banded index must return EXACTLY the pairs a
    brute-force all-pairs dHash comparison finds within the bound —
    pigeonhole banding is a recall-exact blocking, not an approximation."""
    from quantlab_data_pipeline_spark.llm.media_index import (
        build_media_index,
        query_media_index,
    )
    from quantlab_data_pipeline_spark.llm.multimodal import dhash_bits

    corpus = {i: _img(i) for i in range(1, 6)}
    probes = {
        101: corpus[1].copy(),        # exact re-crawl -> hamming 0
        102: _edit(corpus[2], 4),     # light edit -> small hamming
        103: _edit(corpus[3], 8),     # heavier edit
        109: np.random.default_rng(9).integers(0, 256, (40, 40), dtype=np.uint8),
    }
    max_h = 8
    build_media_index(
        _media(spark, corpus), index_path, modality="image", max_hamming=max_h
    )
    expected = {
        (pid, cid, _ham(dhash_bits(pimg), dhash_bits(cimg)))
        for pid, pimg in probes.items()
        for cid, cimg in corpus.items()
        if _ham(dhash_bits(pimg), dhash_bits(cimg)) <= max_h
    }
    assert (101, 1, 0) in expected  # the plant is in scope
    got = {
        (r["new_id"], r["indexed_id"], r["hamming"])
        for r in query_media_index(_media(spark, probes), index_path).collect()
    }
    assert got == expected


def test_flag_append_then_findable(spark, index_path):
    from quantlab_data_pipeline_spark.llm.media_index import (
        append_to_media_index,
        build_media_index,
        flag_new_media,
    )

    build_media_index(
        _media(spark, {i: _img(i) for i in range(1, 4)}),
        index_path,
        modality="image",
        max_hamming=0,
    )
    fresh = _media(spark, {50: _img(50)})
    flagged = {r["asset_id"]: r for r in flag_new_media(fresh, index_path).collect()}
    assert not flagged[50]["is_dup"] and flagged[50]["n_matches"] == 0
    append_to_media_index(fresh, index_path)

    again = _media(spark, {51: _img(50)})  # re-crawl of the appended asset
    flagged = {r["asset_id"]: r for r in flag_new_media(again, index_path).collect()}
    assert flagged[51]["is_dup"]
    assert flagged[51]["best_match_id"] == 50
    assert flagged[51]["best_hamming"] == 0


def test_band_structure_pinned_in_meta(spark, index_path):
    from quantlab_data_pipeline_spark.llm.media_index import build_media_index
    from quantlab_data_pipeline_spark.storage.index_store import (
        read_meta as _read_meta,
    )

    with pytest.raises(ValueError, match="pigeonhole"):
        build_media_index(
            _media(spark, {1: _img(1)}), index_path, max_hamming=6, bands=4
        )
    build_media_index(_media(spark, {1: _img(1)}), index_path, max_hamming=6)
    # bands defaults to the pigeonhole minimum max_hamming + 1
    assert _read_meta(spark, index_path) == ("image", 6, 7, 8)


def test_audio_modality_round_trip(spark, index_path):
    from quantlab_data_pipeline_spark.llm.media_index import (
        build_media_index,
        flag_new_media,
    )
    from quantlab_data_pipeline_spark.llm.multimodal import MEDIA_SCHEMA

    def tone(freq: float) -> bytes:
        t = np.arange(800) / 16000.0
        return wav_encode(
            (2000 * np.sin(2 * np.pi * freq * t)).astype(np.int16), 16000
        )

    meta = {
        "width": None,
        "height": None,
        "n_frames": None,
        "sample_rate": 16000,
        "format": "wav",
    }
    corpus = spark.createDataFrame(
        [(1, "audio", tone(440.0), meta), (2, "audio", tone(1200.0), meta)],
        MEDIA_SCHEMA,
    )
    build_media_index(corpus, index_path, modality="audio", max_hamming=0)
    probe = spark.createDataFrame(
        [(10, "audio", tone(440.0), meta), (11, "audio", tone(2500.0), meta)],
        MEDIA_SCHEMA,
    )
    flagged = {r["asset_id"]: r for r in flag_new_media(probe, index_path).collect()}
    assert flagged[10]["is_dup"] and flagged[10]["best_match_id"] == 1
    assert not flagged[11]["is_dup"]


def test_index_stores_no_pixels(spark, index_path):
    """The scale contract: ids + 8-byte fingerprints only — payload
    bytes never enter the index."""
    from quantlab_data_pipeline_spark.llm.media_index import build_media_index

    build_media_index(
        _media(spark, {i: _img(i) for i in range(1, 4)}), index_path
    )
    fp_cols = spark.read.parquet(f"{index_path}/fingerprints").columns
    bucket_cols = spark.read.parquet(f"{index_path}/buckets").columns
    assert set(fp_cols) == {"asset_id", "fp"}
    assert set(bucket_cols) == {"asset_id", "band_idx", "band_val"}


def test_fresh_session_reregisters_bucketed_scan(spark, index_path):
    """Bucket metadata lives in the session catalog; dropping the table
    (= a fresh session, files intact) must re-register from meta and
    keep both the answers and the bucketed index-side scan."""
    from quantlab_data_pipeline_spark.llm.media_index import (
        build_media_index,
        flag_new_media,
    )
    from quantlab_data_pipeline_spark.storage.index_store import (
        bucket_table as _bucket_table_name,
    )

    build_media_index(
        _media(spark, {i: _img(i) for i in range(1, 4)}),
        index_path,
        max_hamming=0,
    )
    probe = _media(spark, {20: _img(2)})
    before = sorted(
        (r["asset_id"], r["is_dup"], r["n_matches"])
        for r in flag_new_media(probe, index_path).collect()
    )
    spark.sql(f"DROP TABLE IF EXISTS {_bucket_table_name(index_path)}")
    flagged = flag_new_media(probe, index_path)
    after = sorted(
        (r["asset_id"], r["is_dup"], r["n_matches"]) for r in flagged.collect()
    )
    assert before == after
    assert before[0][1]  # the re-crawl of asset 2 is still caught
    assert "Bucketed: true" in (
        flagged._jdf.queryExecution().executedPlan().toString()
    )


def test_rebuild_clears_stale_bucket_rows(spark, index_path):
    """build at an existing path must OVERWRITE: the bucket table is
    external, so DROP TABLE alone keeps the files and a rebuild would
    stack new band rows on stale ones (ADVICE r7). After rebuilding
    with a different corpus the bucket store must hold exactly the new
    corpus's rows and old assets must be gone from query results."""
    from quantlab_data_pipeline_spark.llm.media_index import (
        build_media_index,
        query_media_index,
    )

    build_media_index(
        _media(spark, {i: _img(i) for i in range(1, 6)}),
        index_path,
        max_hamming=0,
        bands=4,
    )
    n_first = spark.read.parquet(f"{index_path}/buckets").count()
    assert n_first == 5 * 4

    build_media_index(
        _media(spark, {i: _img(i) for i in range(10, 13)}),
        index_path,
        max_hamming=0,
        bands=4,
    )
    assert spark.read.parquet(f"{index_path}/buckets").count() == 3 * 4

    probe = _media(spark, {90: _img(1), 91: _img(10)})
    got = {
        (r["new_id"], r["indexed_id"])
        for r in query_media_index(probe, index_path).collect()
    }
    assert got == {(91, 10)}  # asset 1 was only in the replaced corpus


def test_query_leaves_no_cached_dataframes(spark, index_path):
    """The r7 leak: query persisted the probe fingerprints and never
    released them, accumulating one cached frame per intake batch.
    After a full flag_new_media materialization the persistent-RDD set
    must not have grown (build/append persist transiently but release
    in try/finally)."""
    from quantlab_data_pipeline_spark.llm.media_index import (
        build_media_index,
        flag_new_media,
    )

    build_media_index(
        _media(spark, {i: _img(i) for i in range(1, 4)}), index_path
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for batch_id in (30, 31):
        flag_new_media(_media(spark, {batch_id: _img(batch_id)}), index_path).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_takedown_masks_then_compaction_reclaims(spark, index_path):
    """remove_from_media_index hides an asset immediately (tombstone
    write only), other assets keep matching, and compact_media_index
    physically rewrites the fingerprint + bucket stores — same answers,
    stores shrunk, tombstones cleared, bucketed layout preserved."""
    from quantlab_data_pipeline_spark.llm.media_index import (
        build_media_index,
        compact_media_index,
        flag_new_media,
        remove_from_media_index,
    )

    corpus = {i: _img(i) for i in range(1, 6)}
    build_media_index(
        _media(spark, corpus), index_path, modality="image", max_hamming=0
    )
    probe = _media(spark, {101: corpus[1].copy(), 102: corpus[2].copy()})

    def flags():
        return {
            r["asset_id"]: (r["is_dup"], r["best_match_id"])
            for r in flag_new_media(probe, index_path).collect()
        }

    assert flags() == {101: (True, 1), 102: (True, 2)}
    remove_from_media_index(spark, index_path, [1])
    assert flags() == {101: (False, None), 102: (True, 2)}
    compact_media_index(spark, index_path)
    assert flags() == {101: (False, None), 102: (True, 2)}
    fps = {
        r["asset_id"]
        for r in spark.read.parquet(f"{index_path}/fingerprints").collect()
    }
    assert 1 not in fps and 2 in fps
    import os

    assert not os.path.exists(f"{index_path}/tombstones")
    # Bucket store rewritten without the tombstoned asset's band rows.
    from quantlab_data_pipeline_spark.storage.index_store import (
        bucket_table as _bucket_table_name,
    )

    bk = {
        r["asset_id"]
        for r in spark.table(_bucket_table_name(index_path)).collect()
    }
    assert 1 not in bk and 2 in bk
    # No-op compaction must not error.
    compact_media_index(spark, index_path)


def test_takedown_dataframe_ids_and_append_still_works(spark, index_path):
    """Takedown accepts a DataFrame of ids; appends after a compaction
    land in the rewritten bucketed layout and are findable."""
    from pyspark.sql import functions as F

    from quantlab_data_pipeline_spark.llm.media_index import (
        append_to_media_index,
        build_media_index,
        compact_media_index,
        flag_new_media,
        remove_from_media_index,
    )

    corpus = {i: _img(i) for i in range(1, 4)}
    build_media_index(
        _media(spark, corpus), index_path, modality="image", max_hamming=0
    )
    ids = spark.range(3, 4).select(F.col("id").alias("asset_id"))
    remove_from_media_index(spark, index_path, ids)
    compact_media_index(spark, index_path)
    append_to_media_index(_media(spark, {7: _img(7)}), index_path)
    probe = _media(spark, {103: corpus[3].copy(), 107: _img(7)})
    got = {
        r["asset_id"]: (r["is_dup"], r["best_match_id"])
        for r in flag_new_media(probe, index_path).collect()
    }
    assert got == {103: (False, None), 107: (True, 7)}


def test_rebuild_clears_stale_tombstones(spark, index_path):
    """A rebuild at an existing path is a fresh corpus: tombstones from
    the path's previous life must not mask the new assets."""
    from quantlab_data_pipeline_spark.llm.media_index import (
        build_media_index,
        flag_new_media,
        remove_from_media_index,
    )

    corpus = {i: _img(i) for i in range(1, 4)}
    build_media_index(
        _media(spark, corpus), index_path, modality="image", max_hamming=0
    )
    remove_from_media_index(spark, index_path, [1])
    build_media_index(
        _media(spark, corpus), index_path, modality="image", max_hamming=0
    )
    probe = _media(spark, {101: corpus[1].copy()})
    r = flag_new_media(probe, index_path).collect()[0]
    assert r["is_dup"] is True and r["best_match_id"] == 1


def test_precomputed_fp_paths_equal_recompute(spark, index_path, tmp_path):
    """The r9-optimization precomputed-fingerprint entry points
    (build/flag/append with ``precomputed_fp=``) must produce the same
    stored index and the same verdicts as the decode-inside paths —
    the intake sink relies on this equivalence to fingerprint each
    batch exactly once."""
    from quantlab_data_pipeline_spark.llm.media_index import (
        _fingerprint,
        append_to_media_index,
        build_media_index,
        flag_new_media,
    )

    corpus = _media(spark, {i: _img(i) for i in range(1, 5)})
    probe = _media(spark, {101: _img(1), 150: _img(50)})
    extra = _media(spark, {7: _img(7)})

    # reference: the decode-inside paths
    ref_path = str(tmp_path / "ref_idx")
    build_media_index(corpus, ref_path, modality="image", max_hamming=0)
    ref = {
        r["asset_id"]: r for r in flag_new_media(probe, ref_path).collect()
    }
    append_to_media_index(extra, ref_path)
    ref2 = {
        r["asset_id"]: r
        for r in flag_new_media(_media(spark, {207: _img(7)}), ref_path).collect()
    }

    # precomputed-fp paths, same inputs
    corpus_fp = _fingerprint(corpus, "image").localCheckpoint()
    build_media_index(
        corpus, index_path, modality="image", max_hamming=0,
        precomputed_fp=corpus_fp,
    )
    probe_fp = _fingerprint(probe, "image").localCheckpoint()
    got = {
        r["asset_id"]: r
        for r in flag_new_media(
            probe, index_path, precomputed_fp=probe_fp
        ).collect()
    }
    extra_fp = _fingerprint(extra, "image").localCheckpoint()
    append_to_media_index(None, index_path, precomputed_fp=extra_fp)
    got2 = {
        r["asset_id"]: r
        for r in flag_new_media(
            _media(spark, {207: _img(7)}), index_path
        ).collect()
    }

    for a, b in ((ref, got), (ref2, got2)):
        assert set(a) == set(b)
        for k in a:
            for c in ("is_dup", "best_match_id", "best_hamming", "n_matches"):
                assert a[k][c] == b[k][c], (k, c)


def test_writes_are_rebalanced_to_few_files(spark, index_path):
    """Guide §6 regression pin for the r9 optimization: build and
    append size their output files with an AQE rebalance instead of
    writing one file per (upstream partition x bucket). A small batch
    must land in at most bucket_n band files and a handful of
    fingerprint files per write — NOT partitions x bucket_n — or every
    later flag pays to list and open hundreds of tiny files."""
    import glob

    from quantlab_data_pipeline_spark.llm.media_index import (
        append_to_media_index,
        build_media_index,
    )

    # Pin the AQE advisory size for the duration (ADVICE r9): the
    # file-count thresholds below assume the rebalance collapses tiny
    # data to one task, which holds at the default 64m advisory but
    # would flake under a benign session-conf change to a tiny value.
    old = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", None)
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    try:
        corpus = _media(spark, {i: _img(i) for i in range(1, 9)}).repartition(16)
        build_media_index(
            corpus, index_path, modality="image", max_hamming=0, bands=4,
            bucket_n=8,
        )
        batch = _media(
            spark, {100 + i: _img(100 + i) for i in range(8)}
        ).repartition(16)
        append_to_media_index(batch, index_path)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        else:
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", old
            )

    bucket_files = glob.glob(f"{index_path}/buckets/part-*")
    fp_files = glob.glob(f"{index_path}/fingerprints/part-*")
    # 2 writes x <= bucket_n files each (one per bucket, tiny data ->
    # one rebalanced task); the old layout wrote 16 x 8 = 128 per write
    assert len(bucket_files) <= 16, bucket_files
    # tiny fingerprint frames rebalance to ~1 file per write
    assert len(fp_files) <= 4, fp_files
