"""Streaming sharded-corpus writer: batch-twin equality, sealed-shard
immutability, and crash-replay convergence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quantlab_data_pipeline_spark.llm.sharding import (
    content_fingerprint,
    shard_assign,
    shard_manifest,
)
from quantlab_data_pipeline_spark.streaming.shard_sink import (
    last_applied_batch,
    read_shard_manifest,
    read_shard_payload,
    shard_sink,
)

TARGET = 2048


def _docs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("doc "), F.col("id").cast("string"), F.lit(" body "),
            F.repeat(F.lit("x"), (F.col("id") % 97 + 20).cast("int")),
        ).alias("text"),
    )


def _twin_manifest(batches):
    """Batch-loop twin: per batch, bin among themselves offset by the
    running shard count — computed directly with the batch operators."""
    rows = []
    base = 0
    for bid, df in batches:
        if df.isEmpty():
            continue
        d = df.withColumn(
            "__bytes",
            (F.coalesce(F.octet_length("text"), F.lit(0)) + F.lit(64)).cast(
                "long"
            ),
        )
        a = shard_assign(
            d,
            "__bytes",
            TARGET,
            [F.md5(F.col("doc_id").cast("string")).asc(),
             F.col("doc_id").asc()],
        ).withColumn("shard_id", F.col("shard_id") + F.lit(base))
        m = shard_manifest(
            a,
            content_fingerprint(F.coalesce(F.col("text"), F.lit(""))),
            "__bytes",
        ).withColumn("batch_id", F.lit(bid).cast("long"))
        got = m.collect()
        rows.extend(
            (r.batch_id, r.shard_id, r.n_docs, r.total_bytes, r.min_id,
             r.max_id, r.content_fp)
            for r in got
        )
        base = max(r.shard_id for r in got) + 1
    return sorted(rows)


def _store_manifest(spark, path):
    return sorted(
        (r.batch_id, r.shard_id, r.n_docs, r.total_bytes, r.min_id,
         r.max_id, r.content_fp)
        for r in read_shard_manifest(spark, path).collect()
    )


@pytest.fixture()
def store(tmp_path):
    return str(tmp_path / "shardstore")


def test_sink_equals_batch_twin(spark, store):
    batches = [(0, _docs(spark, 0, 40)), (1, _docs(spark, 40, 65)),
               (2, _docs(spark, 65, 120))]
    sink = shard_sink(store, TARGET)
    for bid, df in batches:
        sink(df, bid)
    assert _store_manifest(spark, store) == _twin_manifest(batches)
    # payload matches the manifest accounting exactly
    pay = (
        read_shard_payload(spark, store)
        .groupBy("shard_id")
        .agg(F.count("*").alias("n"), F.sum("payload_bytes").alias("b"))
        .collect()
    )
    man = {
        r.shard_id: (r.n_docs, r.total_bytes)
        for r in read_shard_manifest(spark, store).collect()
    }
    assert {r.shard_id: (r.n, r.b) for r in pay} == man
    assert read_shard_payload(spark, store).count() == 120


def test_sealed_shards_are_immutable(spark, store):
    sink = shard_sink(store, TARGET)
    sink(_docs(spark, 0, 50), 0)
    before = {
        r.shard_id: r
        for r in read_shard_manifest(spark, store).collect()
    }
    sink(_docs(spark, 50, 90), 1)
    after = {
        r.shard_id: r
        for r in read_shard_manifest(spark, store).collect()
    }
    # every batch-0 shard row is byte-identical after batch 1
    for sid, r in before.items():
        assert after[sid] == r
    # batch 1 starts strictly after batch 0's highest shard
    assert min(
        r.shard_id for r in after.values() if r.batch_id == 1
    ) == max(before) + 1


def test_replay_is_skipped_and_crash_replay_converges(spark, store):
    import shutil

    sink = shard_sink(store, TARGET)
    sink(_docs(spark, 0, 40), 0)
    sink(_docs(spark, 40, 80), 1)
    reference = _store_manifest(spark, store)
    pay_ref = sorted(
        (r.doc_id, r.shard_id)
        for r in read_shard_payload(spark, store).collect()
    )
    # replayed batch at the ledger mark: no-op even with different data
    sink(_docs(spark, 500, 540), 1)
    assert _store_manifest(spark, store) == reference
    # crash-before-ledger: erase the ledger entry for batch 1 and replay
    # it — payload+manifest partitions were already written; the replay
    # must recompute the same base and overwrite to the identical store
    shutil.rmtree(f"{store}/_applied_batch")
    spark.createDataFrame([(0,)], "batch_id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{store}/_applied_batch")
    assert last_applied_batch(spark, store) == 0
    sink(_docs(spark, 40, 80), 1)
    assert _store_manifest(spark, store) == reference
    assert sorted(
        (r.doc_id, r.shard_id)
        for r in read_shard_payload(spark, store).collect()
    ) == pay_ref


def test_empty_batch_is_noop(spark, store):
    sink = shard_sink(store, TARGET)
    sink(_docs(spark, 0, 30), 0)
    ref = _store_manifest(spark, store)
    sink(_docs(spark, 0, 0), 1)
    assert _store_manifest(spark, store) == ref
    # the next real batch still lands with the right base
    sink(_docs(spark, 30, 60), 2)
    m = read_shard_manifest(spark, store)
    assert m.filter(F.col("batch_id") == 2).count() > 0


def test_corrupt_manifest_raises_and_leaves_sealed_shards(spark, store):
    """An unreadable manifest must stop the sink: read as "no shards",
    the next batch's base would be 0 and its dynamic overwrite would
    replace sealed payload partitions."""
    from pathlib import Path

    sink = shard_sink(store, TARGET)
    sink(_docs(spark, 0, 50), 0)
    shard0 = Path(store, "payload", "shard_id=0")
    before = {p.name: p.read_bytes() for p in shard0.iterdir()}
    for part in Path(store, "manifest", "batch_id=0").glob("part-*"):
        part.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        sink(_docs(spark, 50, 90), 1)
    assert {p.name: p.read_bytes() for p in shard0.iterdir()} == before


def test_manifest_without_committed_files_has_base_zero(spark, store):
    """A crashed first attempt leaves only a staging directory under
    ``manifest/``: that store has no sealed shards, so the base is 0."""
    from pathlib import Path

    from quantlab_data_pipeline_spark.streaming.shard_sink import _next_base

    Path(store, "manifest", ".spark-staging-0").mkdir(parents=True)
    assert _next_base(spark, store, 0) == 0
