"""DSIR intake sink (streaming/dsir_intake.py): the raw store's feature
space must match the target's, or the sink refuses the batch."""

from __future__ import annotations

import pytest

from quantlab_data_pipeline_spark.llm.dsir import build_dsir_counts
from quantlab_data_pipeline_spark.streaming.dsir_intake import dsir_intake_sink
from quantlab_data_pipeline_spark.streaming.ledger import last_applied_batch

SCHEMA = "doc_id long, text string"
TARGET = [(100, "the cat and the dog sat together on the mat")]
B1 = [(1, "the cat sat on the mat near the dog")]
B2 = [(2, "a quiet morning with the newspaper and hot coffee")]


def test_raw_store_of_another_feature_space_raises(spark, tmp_path):
    t_a, t_b = str(tmp_path / "target_a"), str(tmp_path / "target_b")
    raw = str(tmp_path / "raw")
    build_dsir_counts(spark.createDataFrame(TARGET, SCHEMA), t_a, buckets=128)
    build_dsir_counts(spark.createDataFrame(TARGET, SCHEMA), t_b, buckets=64)

    dsir_intake_sink(t_a, raw, str(tmp_path / "out_a"), k=1)(
        spark.createDataFrame(B1, SCHEMA), 0
    )
    assert last_applied_batch(spark, raw) == 0

    out_b = str(tmp_path / "out_b")
    sink_b = dsir_intake_sink(t_b, raw, out_b, k=1)
    with pytest.raises(ValueError, match="buckets"):
        sink_b(spark.createDataFrame(B2, SCHEMA), 1)
    # refused before any write: no fold, no verdicts, no mark
    assert last_applied_batch(spark, raw) == 0
    assert spark.read.parquet(f"{raw}/counts").filter("batch_id = 1").isEmpty()
    assert not (tmp_path / "out_b").exists()

