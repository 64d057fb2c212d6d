"""Dividend cleaning (SURVEY §2 A4, J10, P10).

The reference's ``groupby.apply`` UDAF (wrds_ingestion.py:312-322)
compiles entirely to built-in aggregate expressions here — no Python in
the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _first_non_null_ordered


def attach_close_prices(
    dividends: DataFrame, monthly: DataFrame, daily: DataFrame | None = None
) -> DataFrame:
    """J10 (wrds_ingestion.py:297-310,1113): attach a close price per
    (asset_id, date): prefer the daily close, fall back to monthly
    (the reference's combine_first chain -> one coalesce)."""
    m = monthly.select("asset_id", "date", F.col("close").alias("__close_m"))
    out = dividends.join(m, ["asset_id", "date"], "left")
    if daily is not None:
        d = daily.select("asset_id", "date", F.col("close").alias("__close_d"))
        out = out.join(d, ["asset_id", "date"], "left")
        close = F.coalesce(F.col("__close_d"), F.col("__close_m"))
    else:
        close = F.col("__close_m")
    return out.withColumn("close", close).drop("__close_m", "__close_d")


def clean_dividends(dividends: DataFrame) -> DataFrame:
    """A4+P10 (wrds_ingestion.py:312-322): per (asset_id, date):
    divamt = sum (nulls skipped); distcd/facpr/facshr/close = first
    non-null (pinned to event-code order for determinism); derived
    dividend_yield = divamt / close (null-propagating)."""
    order = "distcd" if "distcd" in dividends.columns else "divamt"
    agg = [
        F.sum("divamt").alias("divamt"),
        *[
            _first_non_null_ordered(c, order).alias(c)
            for c in ("distcd", "facpr", "facshr", "close")
            if c in dividends.columns
        ],
    ]
    out = dividends.groupBy("asset_id", "date").agg(*agg)
    # Zero closes are real in CRSP (bid/ask-average rows); nullif keeps
    # ANSI mode from aborting the whole ingest with DIVIDE_BY_ZERO.
    return out.withColumn(
        "dividend_yield", F.col("divamt") / F.nullif(F.col("close"), F.lit(0.0))
    )
