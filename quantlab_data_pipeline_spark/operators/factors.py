"""Factor / benchmark transforms (SURVEY §2 W1, W4, P11, J9, U1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Raw FF column -> display factor name (wrds_ingestion.py:927-934).
FACTOR_NAME_MAP = {
    "mktrf": "MKT",
    "smb": "SMB",
    "hml": "HML",
    "rmw": "RMW",
    "cma": "CMA",
    "umd": "MOM",
}


def join_momentum(ff: DataFrame, momentum: DataFrame) -> DataFrame:
    """J9 (wrds_ingestion.py:918-919): attach the momentum series."""
    return ff.join(momentum, "date", "left")


def melt_factors(wide: DataFrame, scale: float = 100.0) -> DataFrame:
    """W4+P11 (wrds_ingestion.py:925-941): wide factor frame ->
    long (date, factor_name, ret), percent -> decimal, nulls dropped.
    Factors are named by :data:`FACTOR_NAME_MAP`.

    One unpivot instead of the reference's per-factor select+concat loop.
    """
    present = [c for c in FACTOR_NAME_MAP if c in wide.columns]
    long = wide.unpivot(["date"], present, "factor_name", "ret")
    mapping = F.create_map(
        *[x for k, v in FACTOR_NAME_MAP.items() for x in (F.lit(k), F.lit(v))]
    )
    return (
        long.withColumn("factor_name", mapping[F.col("factor_name")])
        .withColumn("ret", F.col("ret") / scale)
        .na.drop(subset=["ret"])
    )


def risk_free(wide: DataFrame, scale: float = 100.0) -> DataFrame:
    """Extract the risk-free series (wrds_ingestion.py:942)."""
    return wide.select("date", (F.col("rf") / scale).alias("rf")).na.drop(
        subset=["rf"]
    )


_UNSET: list[str] = ["__unset__"]


def cumulative_index(
    returns: DataFrame,
    ret_col: str = "ret",
    partition_cols: list[str] | None = _UNSET,
) -> DataFrame:
    """W1 (wrds_ingestion.py:996): ``level`` = cumprod(1+ret) * 100 in
    ``date`` order.

    Uses the native ``product`` window aggregate (Spark >=3.2) — exact
    for any ret, including ret <= -1 (unlike exp-sum-log1p).

    Without ``partition_cols`` the window is GLOBAL: every row flows
    through one task. That is the right plan for the single benchmark
    series this operator exists for (and matches the reference), but it
    silently serializes any larger frame — so leaving the parameter
    unspecified warns (VERDICT r2 item 8). Pass ``partition_cols=None``
    explicitly to acknowledge the single-series case, or a key list for
    per-group indexing.
    """
    if partition_cols is _UNSET:
        import warnings

        warnings.warn(
            "cumulative_index without partition_cols uses a GLOBAL "
            "window (one task sees every row). Pass "
            "partition_cols=None explicitly for a single benchmark "
            "series, or per-series keys for anything larger.",
            UserWarning,
            stacklevel=2,
        )
        partition_cols = None
    w = Window.partitionBy(*(partition_cols or [])).orderBy("date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return returns.withColumn("level", F.product(1 + F.col(ret_col)).over(w) * 100.0)
