"""Bucketed-table helpers: co-located joins without a shuffle.

At 100 TB the dominant cost of a fact-fact join (lineitem x orders,
prices x returns) is shuffling both sides on the join key. Writing the
facts bucketed on that key moves the shuffle to WRITE time, once;
every subsequent join of two tables bucketed the same way reads
co-located buckets and plans a SortMergeJoin with NO Exchange on
either side.

Bucketing requires the table catalog (bucket metadata lives there, not
in the parquet files), so these helpers go through ``saveAsTable`` /
``spark.table`` against the session catalog — works with the default
in-memory catalog + warehouse dir, no Hive metastore needed.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def root_scoped_table(base: str, data_root: Path | str) -> str:
    """Catalog table name scoped to a data root.

    The session catalog is global, so a bare name like
    ``prices_daily_bucketed`` written for one data root would be
    silently served to handlers pointed at a *different* root. Scoping
    the name by a digest of the resolved root makes each root's
    bucketed tables addressable only by handlers on that root."""
    digest = hashlib.md5(str(Path(data_root).resolve()).encode()).hexdigest()[:10]
    return f"{base}_{digest}"


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: Path | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) parquet
    table. Sorting within buckets lets the join skip its Sort too.
    ``path`` makes it an external table so the files live under the
    caller's data root instead of the session warehouse dir.
    ``mode="append"`` adds files to an existing table of the same
    bucketing instead of replacing it."""
    if mode == "overwrite":
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", str(path))
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def bucketed_join_ready(spark: SparkSession, left: str, right: str) -> bool:
    """True if both catalog tables exist with bucket specs (the
    precondition for a shuffle-free join)."""
    cat = spark.catalog
    return cat.tableExists(left) and cat.tableExists(right)


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Z-order (Morton-curve) clustering on multiple numeric columns.

    1-D range clustering (:func:`write_range_clustered`) narrows file
    min/max stats for ONE column; a query filtering the other column
    still reads everything. Interleaving the bits of each column's
    scaled value gives every file a small hyper-rectangle of the
    multi-dimensional space, so footer-statistics skipping works for
    filters on ANY clustered column.

    Mechanics: delegates the key computation to
    :func:`..storage.layout.with_zorder` (min/max stats attached as a
    broadcast one-row aggregate — no driver ``.first()`` — and the
    Morton interleave as a pure integer expression tree), then
    repartitionByRange + in-file sort on the key, which is dropped
    before writing. Numeric columns only (cast dates/timestamps to
    their epoch day/seconds first).
    """
    from .layout import with_zorder

    parts = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        with_zorder(df, cluster_cols, bits=bits, buckets=1)
        .repartitionByRange(parts, "zvalue")
        .sortWithinPartitions("zvalue")
        .drop("zvalue", "zbucket")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Range-cluster a dataset on ``cluster_cols`` before writing:
    ``repartitionByRange`` gives each output file a narrow, disjoint
    value range, and the in-file sort tightens parquet rowgroup min/max
    stats. A date-range query then skips whole files/rowgroups from
    footer statistics alone — the complement to directory-level
    partition pruning, without the directory explosion of partitioning
    on a fine-grained key.
    """
    parts = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(parts, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
