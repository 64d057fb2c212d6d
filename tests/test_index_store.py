"""The one storage protocol of the three persisted indexes
(storage/index_store.py), checked through each index's public API:
an empty takedown writes nothing, a rebuild clears stale tombstones,
and no other module under llm/ or streaming/ re-implements the
protocol."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

PACKAGE = Path(__file__).resolve().parents[1] / "quantlab_data_pipeline_spark"
PROSE = "the quick brown fox jumps over the lazy dog and runs into the forest "


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"{PROSE} tail {i} " * 3) for i in ids], "doc_id long, text string"
    )


def _vectors(spark, n=60, dim=8):
    rng = np.random.default_rng(7)
    return spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )


def _build_dedup(spark, path):
    from quantlab_data_pipeline_spark.llm.dedup_index import build_dedup_index

    build_dedup_index(_docs(spark, range(6)), path, num_hashes=32, bands=8,
                      bucket_n=4)


def _build_media(spark, path):
    from quantlab_data_pipeline_spark.llm.media_index import build_media_index
    from quantlab_data_pipeline_spark.llm.multimodal import media_from_text

    build_media_index(media_from_text(_docs(spark, range(4)), dims=(32, 32)),
                      path, max_hamming=0)


def _build_ivf(spark, path):
    from quantlab_data_pipeline_spark.llm.ann_index import build_ivf_index

    build_ivf_index(_vectors(spark), path, n_lists=4)


def _files(root):
    """Every file under ``root`` with its size and mtime."""
    return {
        (d, f, os.stat(os.path.join(d, f)).st_size,
         os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, fs in os.walk(root) for f in fs
    }


@pytest.mark.parametrize(
    "kind, build",
    [("dedup", _build_dedup), ("media", _build_media), ("ann", _build_ivf)],
    ids=["dedup", "media", "ann"],
)
def test_empty_takedown_writes_nothing(spark, tmp_path, kind, build):
    """``remove_from_*(..., [])`` leaves no tombstone set, so the next
    compaction is the documented no-op and rewrites no store."""
    import importlib

    mod = importlib.import_module(f"quantlab_data_pipeline_spark.llm.{kind}_index")
    path = str(tmp_path / "index")
    build(spark, path)
    before = _files(path)
    getattr(mod, f"remove_from_{kind}_index")(spark, path, [])
    assert not os.path.exists(f"{path}/tombstones")
    getattr(mod, f"compact_{kind}_index")(spark, path)
    assert _files(path) == before


def test_dedup_rebuild_clears_stale_tombstones(spark, tmp_path):
    """A rebuild at an existing path is a fresh corpus: a tombstone
    from the path's previous life must not mask the rebuilt doc."""
    from quantlab_data_pipeline_spark.llm.dedup_index import (
        build_dedup_index,
        flag_new_batch_exact,
        query_dedup_index,
        remove_from_dedup_index,
    )

    path = str(tmp_path / "dedup")
    build_dedup_index(_docs(spark, range(4)), path, num_hashes=32, bands=8)
    remove_from_dedup_index(spark, path, [3])
    build_dedup_index(_docs(spark, range(4)), path, num_hashes=32, bands=8)
    probe = _docs(spark, [3]).select(
        (F.col("doc_id") + 100).alias("doc_id"), "text"
    )
    exact = flag_new_batch_exact(probe, path).collect()[0]
    assert exact["is_dup"] is True and exact["best_match_id"] == 3
    near = query_dedup_index(probe, path, threshold=0.99).collect()
    assert [(r["new_id"], r["indexed_id"]) for r in near] == [(103, 3)]


def test_ivf_rebuild_clears_stale_tombstones(spark, tmp_path):
    """The IVF twin: a vector tombstoned before a rebuild is a
    neighbour again after it."""
    from quantlab_data_pipeline_spark.llm.ann_index import (
        build_ivf_index,
        query_ivf_index,
        remove_from_ann_index,
    )

    emb = _vectors(spark)
    queries = emb.orderBy("vec_id").limit(3)
    path = str(tmp_path / "ivf")

    def neighbours():
        return {
            r["neighbor_id"]
            for r in query_ivf_index(queries, path, k=3, nprobe=4).collect()
        }

    build_ivf_index(emb, path, n_lists=4)
    before = neighbours()
    victim = min(before)
    remove_from_ann_index(spark, path, [victim])
    assert victim not in neighbours()
    build_ivf_index(emb, path, n_lists=4)
    assert neighbours() == before


def _protocol_uses(source: str) -> list[str]:
    """Code (not docstrings) naming the tombstone path or calling
    ``.bucketBy(``."""
    tree = ast.parse(source)
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
            and "tombstones" in node.value
        ):
            found.append(f"line {node.lineno}: {node.value!r}")
        if isinstance(node, ast.Call) and getattr(node.func, "attr", "") == "bucketBy":
            found.append(f"line {node.lineno}: .bucketBy(")
    return found


def test_only_the_index_store_knows_the_protocol():
    """Tombstone paths and bucketed writes live in storage/index_store.py
    (and the generic writer it reuses); no module under llm/ or
    streaming/ may re-implement them."""
    offenders = {
        str(p.relative_to(PACKAGE)): uses
        for sub in ("llm", "streaming")
        for p in sorted((PACKAGE / sub).rglob("*.py"))
        if (uses := _protocol_uses(p.read_text()))
    }
    assert offenders == {}


def test_protocol_guard_sees_code_not_docstrings():
    src = (
        '"""Writes ``{path}/tombstones``."""\n'
        'def f(df, path):\n'
        '    """Also ``tombstones``."""\n'
        '    df.write.bucketBy(4, "k").saveAsTable("t")\n'
        '    return f"{path}/tombstones"\n'
    )
    assert sorted(u.split(":")[0] for u in _protocol_uses(src)) == [
        "line 4", "line 5"
    ]
