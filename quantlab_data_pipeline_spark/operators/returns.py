"""Price/return transforms (SURVEY §2 P8, P9, J3, W2).

Pure DataFrame -> DataFrame functions mirroring the reference's
ingestion math (citations inline), expressed as Catalyst expressions so
they stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_adj_close(prices: DataFrame) -> DataFrame:
    """P8: adj_close = close * cfacpr (wrds_ingestion.py:188)."""
    return prices.withColumn("adj_close", F.col("close") * F.col("cfacpr"))


def delist_adjust(
    returns: DataFrame, delists: DataFrame, ret_col: str = "ret_1d"
) -> DataFrame:
    """P9+J3: compound delisting returns into the return series
    (wrds_ingestion.py:459-461): ret' = (1+ret)*(1+dlret)-1 with
    dlret defaulting to 0 when absent."""
    dl = delists.select("asset_id", "date", "dlret")
    joined = returns.join(dl, ["asset_id", "date"], "left")
    adjusted = (1 + F.col(ret_col)) * (1 + F.coalesce(F.col("dlret"), F.lit(0.0))) - 1
    return joined.withColumn(ret_col, adjusted).drop("dlret")


def pct_change(
    df: DataFrame,
    value_col: str,
    partition_cols: list[str],
    order_col: str = "date",
    out_col: str = "ret_1d",
) -> DataFrame:
    """W2: per-group pct_change via lag window
    (tests/test_local_parquet_data_handler.py:61 oracle)."""
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    # nullif guards ANSI DIVIDE_BY_ZERO: a zero prior value yields a null
    # return (the reference's pandas division yields inf and the row is
    # dropped downstream; null short-circuits the same way here).
    prev = F.nullif(F.lag(value_col).over(w), F.lit(0.0))
    return df.withColumn(out_col, F.col(value_col) / prev - 1)
