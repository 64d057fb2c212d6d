#!/usr/bin/env python
"""Quantify what bucketing the persisted MEDIA index buys at scale —
the perceptual twin of scripts/bucketed_index_probe.py.

The intake shape is identical to the text index: the fingerprint index
is corpus-sized ((asset_id, band_idx, band_val) rows, 7 bands per
asset at max_hamming=6), each probe batch is tiny, and the banded
candidate equi-join runs on EVERY batch. Bucketed on (band_idx,
band_val) the index side reads in place and only the batch shuffles;
unbucketed, Spark re-exchanges the whole index per batch — the cost
that grows with corpus size.

The probe builds ONE index (build_media_index always writes the
bucketed layout), then times the SAME query twice: once through the
catalog's bucketed table, once with the catalog registration swapped
for a plain parquet read of the very same files — identical bytes,
identical answers, only the layout metadata differs. Pair results are
asserted equal. A planted exact re-crawl checks recall end to end.
Broadcast is disabled so toy scale exercises the SMJ path a 100 TB
index would take.

Usage: python scripts/media_index_probe.py [n_copies] [bucket_n]
"""

from __future__ import annotations

import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

import quantlab_data_pipeline_spark.llm.media_index as mi  # noqa: E402
from quantlab_data_pipeline_spark.llm.multimodal import media_from_text  # noqa: E402
from quantlab_data_pipeline_spark.session import get_spark  # noqa: E402
from quantlab_data_pipeline_spark.storage.index_store import IndexStore  # noqa: E402
from quantlab_data_pipeline_spark.sources.testdata import load_table  # noqa: E402

N_COPIES = int(sys.argv[1]) if len(sys.argv) > 1 else 100
BUCKET_N = int(sys.argv[2]) if len(sys.argv) > 2 else 32


def _shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across all completed stages so far
    (Spark UI REST API) — deltas around a query isolate its shuffle
    volume, the metric that actually scales with index size."""
    import json
    from urllib.request import urlopen

    base = spark.sparkContext.uiWebUrl
    apps = json.load(urlopen(f"{base}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(urlopen(f"{base}/api/v1/applications/{app_id}/stages"))
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def main() -> None:
    import os

    os.environ.setdefault("SPARK_GRAFT_UI", "true")  # REST metrics source
    spark = get_spark()
    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    n_base = docs.count()
    # Replicate with distinct ids and a per-copy salt token so the
    # pixel frames (text cycled into a fixed 32x32 grid) differ copy
    # to copy — realistic unique-fingerprint load, not one hot bucket.
    corpus_docs = (
        docs.crossJoin(spark.range(N_COPIES).withColumnRenamed("id", "copy"))
        .select(
            (F.col("doc_id") + F.col("copy") * n_base).alias("doc_id"),
            F.concat_ws(
                " ", F.concat(F.lit("salt"), F.col("copy")), "text"
            ).alias("text"),
        )
    )
    n_assets = n_base * N_COPIES
    # Probe batch: 100 planted exact re-crawls of copy-0 docs (same
    # text -> same pixels -> MUST hit at hamming 0) + 100 novel texts.
    planted = docs.limit(100).select(
        (F.col("doc_id") + F.lit(n_assets * 10)).alias("doc_id"),
        F.concat_ws(" ", F.lit("salt0"), "text").alias("text"),
    )
    novel = docs.limit(100).select(
        (F.col("doc_id") + F.lit(n_assets * 20)).alias("doc_id"),
        F.concat_ws(" ", F.lit("never-indexed-token"), "text").alias("text"),
    )
    batch = media_from_text(planted.unionByName(novel), dims=(32, 32))

    path = tempfile.mkdtemp(prefix="probe-mediaidx-") + "/png32"
    t0 = time.time()
    mi.build_media_index(
        media_from_text(corpus_docs, dims=(32, 32)),
        path,
        modality="image",
        max_hamming=6,
        bucket_n=BUCKET_N,
    )
    build_s = time.time() - t0
    print(f"build: {n_assets:,} assets in {build_s:.1f}s", flush=True)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    orig_bands = IndexStore.bands
    results = {}
    pair_sets = {}
    for label in ("bucketed", "plain"):
        if label == "plain":
            # Same files, no bucket metadata: the layout's whole effect.
            IndexStore.bands = (
                lambda store: store.spark.read.parquet(f"{store.path}/buckets")
            )
        try:
            walls = []
            sw0 = _shuffle_write_bytes(spark)
            for _ in range(2):
                t0 = time.time()
                n_pairs = mi.query_media_index(batch, path).count()
                walls.append(time.time() - t0)
            sw = (_shuffle_write_bytes(spark) - sw0) // 2
            q = mi.query_media_index(batch, path)
            pair_sets[label] = set(map(tuple, q.collect()))
            plan = q._jdf.queryExecution().executedPlan().toString()
        finally:
            IndexStore.bands = orig_bands
        results[label] = {
            "query_cold_s": round(walls[0], 2),
            "query_steady_s": round(walls[1], 2),
            "n_pairs": n_pairs,
            "exchanges": plan.count("Exchange hashpartitioning"),
            "bucketed_scan": "Bucketed: true" in plan,
            "shuffle_mb_per_query": round(sw / 1e6, 2),
        }
        print(f"{label}: {results[label]}", flush=True)

    assert pair_sets["plain"] == pair_sets["bucketed"], "layouts disagree"
    planted_hits = {
        a for (a, b, h) in pair_sets["bucketed"]
        if h == 0 and a >= n_assets * 10 and a < n_assets * 20
    }
    print(
        f"\nindex rows (bands table): {n_assets * 7:,}; batch assets: 200\n"
        f"planted recall: {len(planted_hits)}/100 at hamming 0\n"
        f"steady query: plain {results['plain']['query_steady_s']}s vs "
        f"bucketed {results['bucketed']['query_steady_s']}s; "
        f"exchanges {results['plain']['exchanges']} -> "
        f"{results['bucketed']['exchanges']}; "
        f"shuffle/query {results['plain']['shuffle_mb_per_query']}MB -> "
        f"{results['bucketed']['shuffle_mb_per_query']}MB"
    )


if __name__ == "__main__":
    main()
