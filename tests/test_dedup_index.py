"""Persistent incremental dedup index (llm/dedup_index.py).

The intake-loop contract: build once, flag each new batch with two
narrow joins against the stored state (no corpus re-read), append the
accepted docs. Exact re-ingests must always be caught (identical docs
collide in every band), unrelated docs must pass, and the band
structure recorded at build time must be enforced."""

from __future__ import annotations

import pytest

PROSE = (
    "the quick brown fox jumps over the lazy dog and then runs far "
    "away into the quiet green forest before the sun finally sets "
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def index_path(tmp_path):
    return str(tmp_path / "dedup_index")


def _corpus(spark):
    rows = [
        (i, f"{PROSE} unique tail number {i} " + f"suffix {i} " * 5)
        for i in range(20)
    ]
    return _docs(spark, rows)


def test_exact_reingest_always_flagged(spark, index_path):
    from quantlab_data_pipeline_spark.llm.dedup_index import (
        build_dedup_index,
        flag_new_batch,
        query_dedup_index,
    )

    corpus = _corpus(spark)
    build_dedup_index(corpus, index_path, num_hashes=32, bands=8)

    # Batch: one exact copy of doc 3, one unrelated doc.
    batch = _docs(
        spark,
        [
            (103, f"{PROSE} unique tail number 3 " + "suffix 3 " * 5),
            (
                999,
                "completely different content about databases and "
                "distributed query engines with nothing shared at all "
                "here in this entirely unrelated document text body",
            ),
        ],
    )
    pairs = {
        (r["new_id"], r["indexed_id"]): r["est_jaccard"]
        for r in query_dedup_index(batch, index_path, threshold=0.9).collect()
    }
    assert pairs[(103, 3)] == 1.0  # identical signature, every band collides
    assert all(nid != 999 for nid, _ in pairs)

    flagged = {
        r["doc_id"]: r for r in flag_new_batch(batch, index_path, 0.9).collect()
    }
    assert flagged[103]["is_dup"] and flagged[103]["best_match_id"] == 3
    assert not flagged[999]["is_dup"] and flagged[999]["n_matches"] == 0


def test_append_grows_the_index(spark, index_path):
    from quantlab_data_pipeline_spark.llm.dedup_index import (
        append_to_index,
        build_dedup_index,
        query_dedup_index,
    )

    build_dedup_index(_corpus(spark), index_path, num_hashes=32, bands=8)
    fresh = _docs(
        spark,
        [(200, "a brand new accepted document about parquet bucketing "
               "strategies and shuffle-free joins at petabyte scale")],
    )
    # Not a dup yet -> accepted -> appended.
    assert not query_dedup_index(fresh, index_path, 0.9).collect()
    append_to_index(fresh, index_path)

    # A later re-ingest of the appended doc is now caught.
    again = _docs(
        spark,
        [(201, "a brand new accepted document about parquet bucketing "
               "strategies and shuffle-free joins at petabyte scale")],
    )
    hits = query_dedup_index(again, index_path, 0.9).collect()
    assert [(r["new_id"], r["indexed_id"]) for r in hits] == [(201, 200)]


def test_near_duplicate_estimate_orders_by_similarity(spark, index_path):
    from quantlab_data_pipeline_spark.llm.dedup_index import (
        build_dedup_index,
        query_dedup_index,
    )

    base = PROSE * 4
    build_dedup_index(
        _docs(spark, [(1, base)]), index_path, num_hashes=64, bands=16
    )
    light_edit = base + " one extra closing sentence appended here"
    batch = _docs(spark, [(10, base), (11, light_edit)])
    est = {
        r["new_id"]: r["est_jaccard"]
        for r in query_dedup_index(batch, index_path, threshold=0.3).collect()
    }
    assert est[10] == 1.0
    assert 0.3 <= est[11] < 1.0  # near-dup: high but below exact


def test_band_structure_enforced(spark, index_path):
    from quantlab_data_pipeline_spark.llm.dedup_index import (
        build_dedup_index,
        read_index_meta,
    )

    with pytest.raises(ValueError, match="must divide"):
        build_dedup_index(_corpus(spark), index_path, num_hashes=64, bands=7)
    build_dedup_index(_corpus(spark), index_path, num_hashes=64, bands=16)
    assert read_index_meta(spark, index_path) == (64, 16, 3)


def test_index_stores_no_text(spark, index_path):
    """The index must be text-free (ids + hashes only) — that is the
    scale contract that keeps it a few percent of corpus size."""
    from quantlab_data_pipeline_spark.llm.dedup_index import build_dedup_index

    build_dedup_index(_corpus(spark), index_path, num_hashes=32, bands=8)
    sig_cols = spark.read.parquet(f"{index_path}/signatures").columns
    bucket_cols = spark.read.parquet(f"{index_path}/buckets").columns
    assert "text" not in sig_cols and "shingles" not in sig_cols
    assert set(bucket_cols) == {"doc_id", "band_idx", "band_hash"}


def test_bucketed_index_same_results_fewer_exchanges(spark, index_path):
    """bucket_n changes the storage layout, never the answer — and the
    candidate join must read the index side exchange-free (the whole
    point: at 100 TB only the batch shuffles, never the corpus-sized
    index)."""
    from quantlab_data_pipeline_spark.llm.dedup_index import (
        build_dedup_index,
        query_dedup_index,
    )

    corpus = _corpus(spark)
    p_plain = index_path + "-plain"
    p_buck = index_path + "-buck"
    build_dedup_index(corpus, p_plain, num_hashes=32, bands=8)
    build_dedup_index(corpus, p_buck, num_hashes=32, bands=8, bucket_n=4)

    batch = _docs(
        spark,
        [(100 + i, f"{PROSE} unique tail number {i} " + f"suffix {i} " * 5)
         for i in range(5)],
    )
    # Force SMJ so the exchange count reflects the bucketing, not a
    # broadcast that would hide it at toy scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = query_dedup_index(batch, p_plain, threshold=0.5)
        buck = query_dedup_index(batch, p_buck, threshold=0.5)
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, buck.collect())
        )
        sp = plain._jdf.queryExecution().executedPlan().toString()
        sb = buck._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in sb
        assert sb.count("Exchange hashpartitioning") < sp.count(
            "Exchange hashpartitioning"
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_index_survives_fresh_catalog(spark, index_path):
    """Bucket metadata lives in the session catalog; a fresh session
    (simulated by dropping the catalog entry, leaving the files) must
    re-register from meta and keep both the results and the bucketed
    scan."""
    from quantlab_data_pipeline_spark.llm.dedup_index import (
        build_dedup_index,
        flag_new_batch,
    )
    from quantlab_data_pipeline_spark.storage.index_store import (
        bucket_table as _bucket_table_name,
    )

    corpus = _corpus(spark)
    build_dedup_index(corpus, index_path, num_hashes=32, bands=8, bucket_n=4)
    batch = _docs(
        spark, [(200, f"{PROSE} unique tail number 7 " + "suffix 7 " * 5)]
    )
    before = sorted(
        (r["doc_id"], r["is_dup"], r["n_matches"])
        for r in flag_new_batch(batch, index_path, threshold=0.5).collect()
    )
    spark.sql(f"DROP TABLE IF EXISTS {_bucket_table_name(index_path)}")
    flagged = flag_new_batch(batch, index_path, threshold=0.5)
    after = sorted(
        (r["doc_id"], r["is_dup"], r["n_matches"]) for r in flagged.collect()
    )
    assert before == after
    assert before[0][1]  # the near-copy of doc 7 is still caught
    assert "Bucketed: true" in (
        flagged._jdf.queryExecution().executedPlan().toString()
    )


def test_bucketed_index_append_keeps_layout(spark, index_path):
    """append_to_index on a bucketed index must keep writing bucketed
    files (a mixed layout would silently re-introduce the index-side
    shuffle) and newly appended docs must be findable."""
    from quantlab_data_pipeline_spark.llm.dedup_index import (
        append_to_index,
        build_dedup_index,
        query_dedup_index,
    )

    corpus = _corpus(spark)
    build_dedup_index(corpus, index_path, num_hashes=32, bands=8, bucket_n=4)
    newdoc = _docs(
        spark, [(300, "a freshly accepted document all about spark bucketing "
                      "layouts and incremental intake loops " * 3)]
    )
    append_to_index(newdoc, index_path)
    probe = _docs(
        spark, [(301, "a freshly accepted document all about spark bucketing "
                      "layouts and incremental intake loops " * 3)]
    )
    pairs = query_dedup_index(probe, index_path, threshold=0.9).collect()
    assert {(r["new_id"], r["indexed_id"]) for r in pairs} == {(301, 300)}


def test_append_with_index_derived_lineage_drops_nothing(spark, index_path):
    """The intake loop's natural shape: the batch to append is derived
    from a read of the index itself (anti-join against {path}/exact).
    Spark re-executes cached/lazy plans whose input paths are appended
    to, so without the localCheckpoint freeze inside append_to_index
    the later writes would re-evaluate the anti-join against the
    partially-mutated index and silently drop the docs being admitted
    (the bug the media twin hit through its fingerprints path)."""
    from pyspark.sql import functions as F

    from quantlab_data_pipeline_spark.llm.dedup_index import (
        append_to_index,
        build_dedup_index,
        query_dedup_index,
    )

    build_dedup_index(_corpus(spark), index_path, num_hashes=32, bands=8,
                      bucket_n=4)
    batch = _docs(
        spark,
        [(500, "an admitted document about lineage freezes and index "
               "appends " * 3),
         (501, "another admitted document on checkpoint semantics and "
               "bucketed layouts " * 3)],
    )
    # lineage reads {path}/exact — the self-referential intake shape
    to_append = batch.join(
        spark.read.parquet(f"{index_path}/exact")
        .select(F.col("doc_id").alias("indexed_id")),
        batch["doc_id"] == F.col("indexed_id"),
        "left_anti",
    )
    append_to_index(to_append, index_path)

    # every appended doc is in all three stores and findable
    assert {
        r["doc_id"]
        for r in spark.read.parquet(f"{index_path}/signatures").collect()
    } >= {500, 501}
    assert {
        r["doc_id"] for r in spark.read.parquet(f"{index_path}/exact").collect()
    } >= {500, 501}
    probe = _docs(
        spark,
        [(600, "an admitted document about lineage freezes and index "
               "appends " * 3)],
    )
    hits = query_dedup_index(probe, index_path, threshold=0.9).collect()
    assert {(r["new_id"], r["indexed_id"]) for r in hits} == {(600, 500)}


def test_takedown_masks_then_compaction_reclaims(spark, index_path):
    """remove_from_dedup_index hides a document from BOTH the MinHash
    and the exact path immediately (O(delete-set) tombstone write, no
    store rewrite), other documents keep matching, and
    compact_dedup_index physically drops the rows while preserving
    every query answer."""
    from quantlab_data_pipeline_spark.llm.dedup_index import (
        build_dedup_index,
        compact_dedup_index,
        flag_new_batch_exact,
        query_dedup_index,
        remove_from_dedup_index,
    )

    corpus = _corpus(spark)
    build_dedup_index(corpus, index_path, num_hashes=32, bands=8, bucket_n=4)
    batch = _docs(
        spark,
        [
            (103, f"{PROSE} unique tail number 3 " + "suffix 3 " * 5),
            (105, f"{PROSE} unique tail number 5 " + "suffix 5 " * 5),
        ],
    )

    def hits():
        near = {
            r["new_id"]: r["indexed_id"]
            for r in query_dedup_index(batch, index_path, threshold=0.99).collect()
        }
        exact = {
            r["doc_id"]: (r["is_dup"], r["best_match_id"])
            for r in flag_new_batch_exact(batch, index_path).collect()
        }
        return near, exact

    near, exact = hits()
    assert near == {103: 3, 105: 5}
    assert exact == {103: (True, 3), 105: (True, 5)}

    remove_from_dedup_index(spark, index_path, [3])
    near, exact = hits()
    assert near == {105: 5}
    assert exact == {103: (False, None), 105: (True, 5)}

    compact_dedup_index(spark, index_path)
    near, exact = hits()
    assert near == {105: 5}
    assert exact == {103: (False, None), 105: (True, 5)}
    # Physically gone from every store, tombstones cleared.
    sigs = {r["doc_id"] for r in spark.read.parquet(f"{index_path}/signatures").collect()}
    ex = {r["doc_id"] for r in spark.read.parquet(f"{index_path}/exact").collect()}
    assert 3 not in sigs and 3 not in ex and 5 in sigs
    import os

    assert not os.path.exists(f"{index_path}/tombstones")
    # Compaction is a no-op with no tombstones (must not error).
    compact_dedup_index(spark, index_path)


def test_takedown_masks_reappends_until_compaction(spark, index_path):
    """Documented contract: ids are permanent identities — a tombstoned
    id re-appended BEFORE compaction stays masked, and the compaction
    drops it too (re-ingest under a fresh id is the supported path)."""
    from quantlab_data_pipeline_spark.llm.dedup_index import (
        append_to_index,
        build_dedup_index,
        compact_dedup_index,
        flag_new_batch_exact,
        remove_from_dedup_index,
    )

    corpus = _corpus(spark)
    build_dedup_index(corpus, index_path, num_hashes=32, bands=8)
    probe = _docs(spark, [(103, f"{PROSE} unique tail number 3 " + "suffix 3 " * 5)])
    remove_from_dedup_index(spark, index_path, [3])
    append_to_index(
        _docs(spark, [(3, f"{PROSE} unique tail number 3 " + "suffix 3 " * 5)]),
        index_path,
    )
    assert flag_new_batch_exact(probe, index_path).collect()[0]["is_dup"] is False
    compact_dedup_index(spark, index_path)
    assert flag_new_batch_exact(probe, index_path).collect()[0]["is_dup"] is False
    # A fresh id carrying the same content IS findable again.
    append_to_index(
        _docs(spark, [(203, f"{PROSE} unique tail number 3 " + "suffix 3 " * 5)]),
        index_path,
    )
    r = flag_new_batch_exact(probe, index_path).collect()[0]
    assert r["is_dup"] is True and r["best_match_id"] == 203


def test_empty_bucketed_band_table_reopens_in_fresh_catalog(spark, index_path):
    """A bucketed write of zero rows leaves no parquet file, so the band
    table of an emptied (or empty-built) bucketed index must be
    re-registered from its declared schema, not from the files: after
    the catalog entry is dropped (= a fresh session), flagging and
    appending still work, and the appended doc is found."""
    from quantlab_data_pipeline_spark.llm.dedup_index import (
        append_to_index,
        build_dedup_index,
        compact_dedup_index,
        flag_new_batch,
        query_dedup_index,
        remove_from_dedup_index,
    )
    from quantlab_data_pipeline_spark.storage.index_store import (
        bucket_table as _bucket_table_name,
    )

    text = "a document about empty bucketed band tables " * 3
    emptied = index_path + "-emptied"
    build_dedup_index(
        _docs(spark, [(i, f"{PROSE} doc {i} " * 2) for i in range(3)]),
        emptied, num_hashes=32, bands=8, bucket_n=4,
    )
    remove_from_dedup_index(spark, emptied, [0, 1, 2])
    compact_dedup_index(spark, emptied)
    never_filled = index_path + "-empty"
    build_dedup_index(
        _docs(spark, []), never_filled, num_hashes=32, bands=8, bucket_n=4
    )
    for path in (emptied, never_filled):
        spark.sql(f"DROP TABLE IF EXISTS {_bucket_table_name(path)}")
        flagged = flag_new_batch(_docs(spark, [(10, text)]), path, 0.9)
        assert [(r["doc_id"], r["is_dup"]) for r in flagged.collect()] == [
            (10, False)
        ]
        spark.sql(f"DROP TABLE IF EXISTS {_bucket_table_name(path)}")
        append_to_index(_docs(spark, [(10, text)]), path)
        hits = query_dedup_index(_docs(spark, [(11, text)]), path, 0.9)
        assert [(r["new_id"], r["indexed_id"]) for r in hits.collect()] == [
            (11, 10)
        ]
