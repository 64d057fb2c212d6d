"""Keyed dedup aggregations (SURVEY §2 A1-A3, §7.3 trap 1).

The reference's pandas ``first non-null`` is deterministic because
pandas groupby preserves arrival order; Spark's ``F.first(ignorenulls)``
is shuffle-order-undefined. Every dedup here therefore pins an explicit
order column and uses ``min_by``/``max_by``-style ordered selection.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _first_non_null_ordered(col: str, order: str) -> F.Column:
    """First non-null value of ``col`` when rows are sorted by ``order``.

    ``min_by`` ignores rows where the value is null only if we filter
    them; instead order nulls last by pairing the value with its sort
    key in a struct and taking the min of non-null-valued pairs.
    """
    pair = F.when(
        F.col(col).isNotNull(), F.struct(F.col(order).alias("o"), F.col(col).alias("v"))
    )
    return F.min(pair)["v"]


def dedupe_assets_master(assets: DataFrame) -> DataFrame:
    """A1 (wrds_ingestion.py:235-253): one row per asset_id with
    - ticker  = last non-null ticker ordered by last_date DESC
    - first_date = min(first_date), last_date = max(last_date)
    - ipodate = min of non-null ipodates
    """
    ticker_pair = F.when(
        F.col("ticker").isNotNull(),
        F.struct(F.col("last_date").alias("o"), F.col("ticker").alias("v")),
    )
    agg = [
        F.max(ticker_pair)["v"].alias("ticker"),
        F.min("first_date").alias("first_date"),
        F.max("last_date").alias("last_date"),
    ]
    if "ipodate" in assets.columns:
        agg.append(F.min("ipodate").alias("ipodate"))
    return assets.groupBy("asset_id").agg(*agg)


def dedupe_first_non_null(df: DataFrame, keys: Sequence[str], order: str) -> DataFrame:
    """A2/A3 (wrds_ingestion.py:256-290): group by ``keys``; every other
    column keeps its first non-null value in ``order``-sorted arrival
    order (the reference relies on input order; we make it explicit).
    Ingest passes each analyst table's catalog key.
    """
    aggs = [
        _first_non_null_ordered(c, order).alias(c)
        for c in df.columns
        if c not in {*keys, order}
    ]
    return df.groupBy(*keys).agg(*aggs)


def drop_duplicates_ordered(
    df: DataFrame, keys: list[str], order_cols: list[str]
) -> DataFrame:
    """A6-style keyed drop_duplicates with a deterministic winner:
    row_number over an explicit order, keep rank 1. Use instead of
    ``dropDuplicates`` wherever the survivor matters."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
