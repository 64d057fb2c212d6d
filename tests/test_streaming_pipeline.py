"""End-to-end streaming curation pipeline (streaming/pipeline.py —
VERDICT r8 item 7): blocklist -> extract -> quality -> URL dedup ->
perceptual media dedup -> DSIR scoring as ONE stream, proven equal to
the batch composition across 3 micro-batches and a query RESTART, with
ledger-skip replay on top."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

# All four pass the frozen quality gate (checked against
# FROZEN_QUALITY_V1; SPAM fails it).
PROSE_A = (
    "the cat sat on the mat and the dog slept in the sun all afternoon"
)
PROSE_B = (
    "a database engine that scans parquet files is efficient in the cloud"
)
PROSE_C = (
    "The distributed planner rewrites each declarative stage into "
    "pipelined physical operators and schedules them over the whole "
    "cluster with adaptive exchanges."
)
PROSE_D = (
    "reading a book in the evening is a fine way to end the day quietly"
)
SPAM = "zz zz zz zz zz zz zz zz zz zz zz zz"

PAGES_SCHEMA = "doc_id long, url string, html string"


def _page(body: str) -> str:
    return "<html><body><p>" + body + "</p></body></html>"


def _rows_b1():
    return [
        (1, "https://ok.example.org/1", _page(PROSE_A)),
        (2, "https://spam.bad.net/2", _page(PROSE_A)),  # blocklisted
        (3, "https://ok.example.org/3", _page(SPAM)),  # quality reject
        (4, "https://ok.example.org/4", _page(PROSE_B)),
        (5, "https://ok.example.org/5", _page(PROSE_A)),  # intra-batch dup
    ]


def _rows_b2():
    return [
        (6, "https://ok.example.org/6", _page(PROSE_A)),  # cross-batch dup
        (7, "https://ok.example.org/7", _page(PROSE_C)),  # novel
    ]


def _rows_b3():
    return [
        (8, "https://ok.example.org/8", _page(PROSE_D)),  # novel
        (9, "https://ok.example.org/9", _page(PROSE_C)),  # dup of 7
    ]


ALL_ROWS = {r[0]: r for r in _rows_b1() + _rows_b2() + _rows_b3()}


def _start(spark, src_dir, stores, ckpt):
    from quantlab_data_pipeline_spark.streaming.pipeline import (
        streaming_curation_pipeline,
    )

    src = (
        spark.readStream.schema(T.StructType.fromDDL(PAGES_SCHEMA))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*.parquet"))
    )
    return (
        streaming_curation_pipeline(
            src, *stores, blocklist=["bad.net"], k=1
        )
        .option("checkpointLocation", str(ckpt))
        .start()
    )


def test_streaming_curation_pipeline_twin_restart_replay(spark, tmp_path):
    from quantlab_data_pipeline_spark.llm.dsir import (
        build_dsir_counts,
        dsir_select_stored,
        update_dsir_counts,
    )
    from quantlab_data_pipeline_spark.llm.media_index import (
        build_media_index,
        flag_new_media,
    )
    from quantlab_data_pipeline_spark.llm.multimodal import media_from_text
    from quantlab_data_pipeline_spark.streaming.dsir_intake import (
        read_dsir_verdicts,
    )
    from quantlab_data_pipeline_spark.streaming.intake import (
        streaming_crawl_intake,
    )
    from quantlab_data_pipeline_spark.streaming.media_intake import (
        read_intake_verdicts,
    )
    from quantlab_data_pipeline_spark.streaming.pipeline import (
        curation_intake_sink,
    )

    # offline-built DSIR target: vocabulary biased toward PROSE_A/C
    tpath = str(tmp_path / "dsir_t")
    build_dsir_counts(
        spark.createDataFrame(
            [(100, PROSE_A), (101, PROSE_C)], "doc_id long, text string"
        ),
        tpath,
        buckets=128,
    )
    media_idx = str(tmp_path / "media_idx")
    media_out = str(tmp_path / "media_out")
    rpath = str(tmp_path / "dsir_r")
    dsir_out = str(tmp_path / "dsir_out")
    stores = (media_idx, media_out, tpath, rpath, dsir_out)

    d = tmp_path / "pages_src"
    os.makedirs(d)
    for name, rows in (("b1", _rows_b1()), ("b2", _rows_b2())):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.parquet(
            str(d / f"{name}.parquet")
        )

    ckpt = tmp_path / "ckpt"
    q = _start(spark, d, stores, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # RESTART: a third batch arrives while the query is down; the new
    # query resumes from the checkpoint (batches 0-1 not re-applied).
    spark.createDataFrame(_rows_b3(), PAGES_SCHEMA).coalesce(1).write.parquet(
        str(d / "b3.parquet")
    )
    q = _start(spark, d, stores, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    mv = {
        r["asset_id"]: r for r in read_intake_verdicts(spark, media_out).collect()
    }
    dv = {r["doc_id"]: r for r in read_dsir_verdicts(spark, dsir_out).collect()}

    # upstream drops never reach the sink: 2 (blocklist), 3 (quality)
    assert set(mv) == {1, 4, 5, 6, 7, 8, 9}
    # media verdicts: 5 loses the intra-batch exact dedup to 1; 6 and 9
    # are cross-batch recrawls caught by the persisted index
    assert {a for a, r in mv.items() if r["kept"]} == {1, 4, 7, 8}
    assert not mv[5]["is_dup"] and not mv[5]["kept"]
    assert mv[6]["is_dup"] and mv[6]["best_match_id"] == 1
    assert mv[9]["is_dup"] and mv[9]["best_match_id"] == 7
    # only media keepers were DSIR-scored, k=1 within each batch
    assert set(dv) == {1, 4, 7, 8}
    for bid in {r["batch_id"] for r in dv.values()}:
        assert sum(r["selected"] for r in dv.values() if r["batch_id"] == bid) == 1

    # ------------------------------------------------------------------
    # BATCH TWIN: replay the same batches through the batch operators.
    # Batch membership (and order) recovered from the verdict log.
    batches = sorted({int(r["batch_id"]) for r in mv.values()})
    assert len(batches) == 3  # three micro-batches, incl. the restart one
    members = {
        b: sorted(a for a, r in mv.items() if int(r["batch_id"]) == b)
        for b in batches
    }
    idx2 = str(tmp_path / "media_idx_twin")
    rpath2 = str(tmp_path / "dsir_r_twin")
    for b in batches:
        rows = [ALL_ROWS[i] for i in members[b]]
        pages_b = spark.createDataFrame(rows, PAGES_SCHEMA)
        # upstream stages are the same function, batch-applied
        docs_b = streaming_crawl_intake(
            pages_b, blocklist=["bad.net"], watermark=None
        ).select("doc_id", "text")
        assert sorted(
            r["doc_id"] for r in docs_b.collect()
        ) == members[b], "upstream twin disagrees on batch membership"
        media_b = media_from_text(docs_b, dims=(32, 32))
        if not os.path.isdir(f"{idx2}/meta"):
            flagged = {i: (False, None) for i in members[b]}
            keep_rows = media_b
        else:
            fl = {
                r["asset_id"]: r
                for r in flag_new_media(media_b, idx2).collect()
            }
            flagged = {
                i: (fl[i]["is_dup"], fl[i]["best_match_id"])
                for i in members[b]
            }
            keep_rows = media_b.join(
                spark.createDataFrame(
                    [(i,) for i, (d, _) in flagged.items() if not d],
                    "asset_id long",
                ),
                "asset_id",
            )
        # intra-batch exact winners among non-dups: min id per text
        texts = {
            i: ALL_ROWS[i][2] for i in members[b]
        }  # identical html => identical frame
        win = {}
        for i in sorted(i for i in members[b] if not flagged[i][0]):
            win.setdefault(texts[i], i)
        kept_ids = set(win.values())
        for i in members[b]:
            assert mv[i]["is_dup"] == flagged[i][0], i
            assert mv[i]["best_match_id"] == flagged[i][1], i
            assert mv[i]["kept"] == (i in kept_ids), i
        keepers = media_b.join(
            spark.createDataFrame([(i,) for i in kept_ids], "asset_id long"),
            "asset_id",
        )
        if not os.path.isdir(f"{idx2}/meta"):
            build_media_index(
                keepers, idx2, modality="image", max_hamming=0, bands=4
            )
        else:
            from quantlab_data_pipeline_spark.llm.media_index import (
                append_to_media_index,
            )

            append_to_media_index(keepers, idx2)
        # DSIR twin: fold keepers then score them (the sink's contract)
        kdocs = docs_b.join(
            spark.createDataFrame(
                [(i,) for i in kept_ids], "doc_id long"
            ),
            "doc_id",
        )
        if not os.path.isdir(f"{rpath2}/meta"):
            build_dsir_counts(kdocs, rpath2, buckets=128)
        else:
            update_dsir_counts(kdocs, rpath2)
        twin = {
            r["doc_id"]: r
            for r in dsir_select_stored(kdocs, tpath, rpath2, k=1).collect()
        }
        for i in kept_ids:
            got = dv[i]
            assert got["n_grams"] == twin[i]["n_grams"], i
            assert got["log_w"] == pytest.approx(twin[i]["log_w"], abs=0), i
            assert got["selected"] == twin[i]["selected"], i

    # ------------------------------------------------------------------
    # REPLAY: re-deliver an already-committed batch id to the sink —
    # both ledgers skip, nothing changes anywhere.
    sink = curation_intake_sink(*stores, k=1)
    first_docs = spark.createDataFrame(
        [(i, ALL_ROWS[i][2]) for i in members[batches[0]]],
        "doc_id long, text string",
    ).withColumn("text", F.col("text"))  # html col stands in for text
    n_fp = spark.read.parquet(f"{media_idx}/fingerprints").count()
    n_mv = read_intake_verdicts(spark, media_out).count()
    n_dv = read_dsir_verdicts(spark, dsir_out).count()
    sink(first_docs, batches[0])
    assert spark.read.parquet(f"{media_idx}/fingerprints").count() == n_fp
    assert read_intake_verdicts(spark, media_out).count() == n_mv
    assert read_dsir_verdicts(spark, dsir_out).count() == n_dv


# ----------------------------------------------------------------------
# The composed sink called directly, one batch at a time (the batch
# twin of a foreachBatch delivery): docs are (doc_id, text).

DOCS_B1 = [(1, PROSE_A), (4, PROSE_B), (5, PROSE_A)]
DOCS_B2 = [(6, PROSE_A), (7, PROSE_C), (8, PROSE_D)]


@pytest.fixture
def sink_stores(spark, tmp_path):
    from quantlab_data_pipeline_spark.llm.dsir import build_dsir_counts

    tpath = str(tmp_path / "dsir_t")
    build_dsir_counts(
        spark.createDataFrame(
            [(100, PROSE_A), (101, PROSE_C)], "doc_id long, text string"
        ),
        tpath,
        buckets=128,
    )
    return tuple(
        tpath if name == "dsir_t" else str(tmp_path / name)
        for name in ("media_idx", "media_out", "dsir_t", "dsir_r", "dsir_out")
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# Jobs of one composed-sink micro-batch on this suite's session
# (local[8], 8 shuffle partitions): the first batch builds both stores,
# the second runs against them. Measured before the sinks shared one
# ledger module; the shared protocol must add no Spark work.
FIRST_BATCH_JOBS = 55
SECOND_BATCH_JOBS = 70


def test_composed_sink_job_budget(spark, sink_stores):
    from test_ingest import _count_jobs

    from quantlab_data_pipeline_spark.streaming.pipeline import (
        curation_intake_sink,
    )

    sink = curation_intake_sink(*sink_stores, k=1)
    counts = []
    for batch_id, rows in enumerate((DOCS_B1, DOCS_B2)):
        docs = _docs(spark, rows)
        jobs, outside = _count_jobs(spark, lambda: sink(docs, batch_id))
        assert not outside, "the sink ran jobs outside the caller's group"
        counts.append(jobs)
    assert counts[0] <= FIRST_BATCH_JOBS, counts
    assert counts[1] <= SECOND_BATCH_JOBS, counts


def _tree(root):
    """{relative file: mtime_ns} of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.stat(p).st_mtime_ns
    return out


def test_composed_sink_crash_between_stages(spark, sink_stores):
    """A crash after the media stage committed but before the DSIR mark:
    the redelivered batch skips the media stage, reads its kept set back
    from the persisted media verdicts, and re-runs DSIR to the same
    verdicts and raw counts."""
    import shutil

    from quantlab_data_pipeline_spark.llm.dsir import load_dsir_counts
    from quantlab_data_pipeline_spark.streaming.dsir_intake import (
        read_dsir_verdicts,
    )
    from quantlab_data_pipeline_spark.streaming.media_intake import (
        read_intake_verdicts,
    )
    from quantlab_data_pipeline_spark.streaming.pipeline import (
        curation_intake_sink,
    )

    media_idx, media_out, _, rpath, dsir_out = sink_stores
    sink = curation_intake_sink(*sink_stores, k=1)
    sink(_docs(spark, DOCS_B1), 0)
    sink(_docs(spark, DOCS_B2), 1)

    def dsir_state():
        verdicts = sorted(
            tuple(r) for r in read_dsir_verdicts(spark, dsir_out).collect()
        )
        totals = {
            r["bucket"]: r["cnt"]
            for r in load_dsir_counts(spark, rpath).collect()
        }
        return verdicts, totals

    before = dsir_state()
    media_files = {**_tree(media_idx), **_tree(media_out)}
    kept = {
        r["asset_id"]
        for r in read_intake_verdicts(spark, media_out)
        .filter("batch_id = 1 AND kept")
        .collect()
    }
    assert kept == {7, 8}  # 6 is a recrawl of batch 0's doc 1

    shutil.rmtree(f"{rpath}/_applied_batch")
    sink(_docs(spark, DOCS_B2), 1)

    # media stage skipped: not one of its files was rewritten
    assert {**_tree(media_idx), **_tree(media_out)} == media_files
    after = dsir_state()
    assert after == before
    assert {v[0] for v in after[0] if v[-1] == 1} == kept
