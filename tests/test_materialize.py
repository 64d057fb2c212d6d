"""One way to materialize a frame (localframe.pin / unpin /
materialized): no module but localframe.py persists, caches,
checkpoints or unpersists; a registry row leaves nothing in the
CacheManager; a ``materialized()`` scope releases every pin made in it."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from quantlab_data_pipeline_spark.localframe import materialized, pin, unpin

PACKAGE = Path(__file__).resolve().parents[1] / "quantlab_data_pipeline_spark"
SF = "/root/testdata/sf0.001"
MATERIALIZING = {"persist", "cache", "localCheckpoint", "checkpoint", "unpersist"}


def _materializations(source: str) -> list[tuple[int, str]]:
    """(line, what) of every materializing call and StorageLevel import."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call) and getattr(node.func, "attr", "") in MATERIALIZING:
            found.append((node.lineno, f".{node.func.attr}("))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names = [a.name for a in node.names] + [getattr(node, "module", None) or ""]
            if any(n.split(".")[-1] in ("StorageLevel", "storagelevel") for n in names):
                found.append((node.lineno, "StorageLevel"))
    return found


def test_only_localframe_materializes():
    offenders = [
        f"{rel}:{line} {what}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if (rel := p.relative_to(PACKAGE).as_posix()) != "localframe.py"
        for line, what in _materializations(p.read_text())
    ]
    assert not offenders, offenders


def test_materialization_scanner_finds_every_form():
    src = (
        "from pyspark.storagelevel import StorageLevel\n"
        "import pyspark.storagelevel\n"
        "def f(df):\n"
        "    df.persist(StorageLevel.DISK_ONLY)\n"
        "    df.cache()\n"
        "    df.localCheckpoint(eager=False).checkpoint()\n"
        "    df.unpersist()\n"
        "    return df.cache\n"
    )
    assert sorted(_materializations(src)) == [
        (1, "StorageLevel"), (2, "StorageLevel"), (4, ".persist("),
        (5, ".cache("), (6, ".checkpoint("), (6, ".localCheckpoint("),
        (7, ".unpersist("),
    ]


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cache_entries(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return int(field.get(cm).size())


def test_scope_releases_its_pins_on_raise(spark):
    """Pins belong to the innermost open scope; a raise releases them
    too, and a released pin fails loudly instead of recomputing."""
    before, entries = _persistent_rdds(spark), _cache_entries(spark)
    df = spark.range(20).selectExpr("id % 3 AS k").groupBy("k").count()
    with pytest.raises(KeyError), materialized():
        outer = pin(df)
        with materialized():
            pin(df)
        assert len(_persistent_rdds(spark) - before) == 1
        assert outer.count() == 3
        raise KeyError
    assert _persistent_rdds(spark) <= before
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        outer.count()
    loose = pin(df)
    unpin(loose)
    assert _persistent_rdds(spark) <= before
    assert _cache_entries(spark) == entries


# One registry row per module that pins. The streaming sinks
# (media_intake.py, dsir_intake.py, pipeline.py) are covered by the
# composed-sink test in test_streaming_pipeline.py.
ROWS = [
    "simhash_dedup",  # llm/dedup.py
    "semantic_dedup_docs",  # llm/similarity.py
    "bigram_lm_docs",  # llm/lm.py
    "bpe_tokenize_docs",  # llm/bpe.py
    "dedup_clusters",  # operators/graph.py
    "hierarchy_rollup_customers",  # operators/hierarchy.py
    "quality_percentile_by_source_docs",  # operators/skew.py
    "rollup_incremental_events",  # storage/rollup.py
    "incremental_dedup_docs",  # llm/dedup_index.py
    "media_index_takedown_docs",  # llm/media_index.py, storage/index_store.py
    "dsir_incremental_docs",  # llm/dsir.py
    "curate_corpus_full",  # queries_ext.py
]


@pytest.mark.parametrize("row", ROWS)
def test_row_leaves_no_materialization(spark, row):
    """A row's pins add no CacheManager entry, so a later run of the
    same plan recomputes, and the ``materialized()`` scope around the
    run leaves no persisted RDD behind."""
    from quantlab_data_pipeline_spark.queries import SPARK_QUERIES

    entries, before = _cache_entries(spark), _persistent_rdds(spark)
    with materialized():
        SPARK_QUERIES[row](spark, SF).write.format("noop").mode("overwrite").save()
        assert _cache_entries(spark) == entries
    assert _persistent_rdds(spark) <= before
