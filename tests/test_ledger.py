"""The replay ledger shared by the foreachBatch sinks
(streaming/ledger.py): skip at or below the mark, mark only a body
that wrote, one module owning the on-disk ledger."""

from __future__ import annotations

import importlib
import re
from pathlib import Path

import pytest

from quantlab_data_pipeline_spark.fsutil import path_exists
from quantlab_data_pipeline_spark.streaming import ledger
from quantlab_data_pipeline_spark.streaming.ledger import (
    last_applied_batch,
    ledgered,
    overwrite_batch_partition,
)

STREAMING = Path(ledger.__file__).parent


@pytest.fixture
def store(tmp_path):
    return str(tmp_path / "store")


def _recording_body(calls, result=True):
    def body(batch_df, batch_id):
        calls.append(batch_id)
        return result

    return body


def test_successful_body_is_marked(spark, store):
    calls = []
    applied, result = ledgered(store, _recording_body(calls, "out"))(
        spark.range(1), 3
    )
    assert (applied, result, calls) == (True, "out", [3])
    assert last_applied_batch(spark, store) == 3
    rows = spark.read.parquet(f"{store}/_applied_batch")
    assert rows.schema.simpleString() == "struct<batch_id:bigint>"
    assert [r["batch_id"] for r in rows.collect()] == [3]


def test_batch_at_or_below_mark_is_skipped(spark, store):
    calls = []
    apply = ledgered(store, _recording_body(calls))
    apply(spark.range(1), 3)
    assert apply(spark.range(1), 3) == (False, None)
    assert apply(spark.range(1), 2) == (False, None)
    assert apply(spark.range(1), 4) == (True, True)
    assert calls == [3, 4]
    assert last_applied_batch(spark, store) == 4


def test_raising_body_leaves_no_mark(spark, store):
    def body(batch_df, batch_id):
        raise RuntimeError("crash mid-batch")

    with pytest.raises(RuntimeError):
        ledgered(store, body)(spark.range(1), 0)
    assert not path_exists(spark, f"{store}/_applied_batch")
    assert last_applied_batch(spark, store) == -1


def test_empty_batch_leaves_no_mark(spark, store):
    calls = []
    apply = ledgered(store, _recording_body(calls, None))
    assert apply(spark.range(0), 0) == (True, None)
    assert calls == [0]
    assert not path_exists(spark, f"{store}/_applied_batch")


def test_unreadable_ledger_raises(spark, store):
    """A ledger that exists but cannot be read is an error, not an
    empty ledger: reading it as -1 would re-run every batch."""
    ledger_dir = Path(store) / "_applied_batch"
    ledger_dir.mkdir(parents=True)
    (ledger_dir / "part-00000.parquet").write_text("not parquet\n")
    with pytest.raises(Exception):
        last_applied_batch(spark, store)


def test_overwrite_batch_partition_replaces_only_its_batch(spark, store):
    def ids(batch_id):
        return sorted(
            r["id"]
            for r in spark.read.parquet(store)
            .filter(f"batch_id = {batch_id}")
            .collect()
        )

    overwrite_batch_partition(spark.range(0, 3), 0, store)
    overwrite_batch_partition(spark.range(10, 12), 1, store)
    overwrite_batch_partition(spark.range(20, 21), 1, store)  # a replay
    assert ids(0) == [0, 1, 2]
    assert ids(1) == [20]


def test_one_last_applied_batch():
    modules = [
        importlib.import_module(f"quantlab_data_pipeline_spark.streaming.{m}")
        for m in ("rollup_sink", "shard_sink")
    ]
    package = importlib.import_module("quantlab_data_pipeline_spark.streaming")
    for m in modules + [package]:
        assert m.last_applied_batch is ledger.last_applied_batch


def test_only_ledger_names_the_ledger_path():
    package = STREAMING.parent
    defs = [
        p.name
        for p in package.rglob("*.py")
        if "def last_applied_batch" in p.read_text()
    ]
    assert defs == ["ledger.py"]
    others = [
        p.name
        for p in STREAMING.glob("*.py")
        if p.name != "ledger.py"
        and re.search(r"(?<!last)_applied_batch", p.read_text())
    ]
    assert others == []
