"""Interval-validity joins and interval->daily explosion
(SURVEY §2 J4, J6, W3, S5).

These are the reference's point-in-time correctness operators. Spark
plans each as an equi-join with a residual range predicate — no custom
join strategy required; at scale the equi-key carries the shuffle and
the range condition filters within matched groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import normalize_cusip
from ..schemas import OPEN_END_DATE


def point_in_time_join(
    facts: DataFrame,
    links: DataFrame,
    key: str,
    as_of_col: str,
    valid_from: str,
    valid_to: str,
    how: str = "inner",
) -> DataFrame:
    """J4 (wrds_ingestion.py:514-518): CCM-style link join — keep link
    rows whose validity interval contains the fact's as-of date; a null
    ``valid_to`` means the interval is open-ended."""
    cond = (
        (facts[key] == links[key])
        & (facts[as_of_col] >= links[valid_from])
        & (links[valid_to].isNull() | (facts[as_of_col] <= links[valid_to]))
    )
    return facts.join(links, cond, how)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_cusip: str,
    right_cusip: str,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    window_start: str,
    window_end: str,
) -> DataFrame:
    """J6 (wrds_ingestion.py:606-627): CUSIP entity-resolution join.

    Inner join on normalized CUSIP-8; validity = intersection of the two
    source intervals (greatest of starts .. least of ends, null end =
    open); keep pairs whose intersection overlaps [window_start,
    window_end].
    """
    l = left.withColumn("__cusip8", normalize_cusip(left_cusip))
    r = right.withColumn("__cusip8", normalize_cusip(right_cusip))
    open_end = F.lit(OPEN_END_DATE).cast("date")
    joined = l.join(r, "__cusip8")
    start = F.greatest(F.col(left_start), F.col(right_start))
    end = F.least(
        F.coalesce(F.col(left_end).cast("date"), open_end),
        F.coalesce(F.col(right_end).cast("date"), open_end),
    )
    return (
        joined.withColumn("valid_start", start)
        .withColumn("valid_end", end)
        .filter(
            (F.col("valid_start") <= F.col("valid_end"))
            & (F.col("valid_end") >= F.lit(window_start).cast("date"))
            & (F.col("valid_start") <= F.lit(window_end).cast("date"))
        )
        .drop("__cusip8")
    )


def derive_ibes_coverage(ids: DataFrame) -> DataFrame:
    """Derive per-id validity windows from raw ``tr_ibes.id`` snapshots
    (``ticker``, ``cusip``, ``cname``, snapshot date ``start_date``),
    adding each window's ``end_date``.

    The id file carries one row per (ticker, sdates) snapshot; a
    ticker->CUSIP mapping holds from its snapshot date until the
    ticker's next snapshot. The reference leaves every snapshot
    open-ended ("end date assumed open", wrds_ingestion.py:566-585), so
    a recycled ticker maps to *both* companies for all dates. Here:

    1. collapse consecutive same-CUSIP snapshots into islands
       (change-flag running sum over a per-ticker window),
    2. end each island the day before the next island starts; the
       ticker's last island stays open (null end_date).

    Two window passes + one aggregation, all partitioned on the ticker —
    at WRDS scale (~10^6 id rows) this is a single small shuffle.
    """
    # cusip in the ordering: a deterministic tiebreak for dirty id files
    # with two same-day snapshots (the zero-length loser island is then
    # dropped deterministically by the downstream overlap filter).
    w = Window.partitionBy("ticker").orderBy("start_date", "cusip")
    changed = (~F.col("cusip").eqNullSafe(F.lag("cusip").over(w))).cast("int")
    islands = (
        ids.withColumn("__chg", changed)
        .withColumn(
            "__island",
            F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("ticker", "__island")
        .agg(
            F.min("start_date").alias("start_date"),
            F.min("cusip").alias("cusip"),  # constant within an island
            F.max_by("cname", "start_date").alias("cname"),  # latest name
        )
    )
    w2 = Window.partitionBy("ticker").orderBy("start_date")
    return islands.select(
        "ticker", "cusip", "cname", "start_date",
        F.date_sub(F.lead("start_date").over(w2), 1).alias("end_date"),
    )


def trading_calendar(spark: SparkSession, start: str, end: str) -> DataFrame:
    """S5 (wrds_ingestion.py:155-157): business-day calendar, generated
    distributively with sequence+explode instead of pd.bdate_range."""
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(start).cast("date"),
                    F.lit(end).cast("date"),
                    F.expr("interval 1 day"),
                )
            ).alias("date")
        )
        # dayofweek: 1=Sunday, 7=Saturday
        .filter(~F.dayofweek("date").isin(1, 7))
        .withColumn("is_trading_day", F.lit(True))
    )


def explode_membership(
    intervals: DataFrame,
    calendar: DataFrame,
    id_col: str = "asset_id",
    start_col: str = "start_date",
    end_col: str = "end_date",
    flag_col: str = "in_sp500",
    clamp_end: str | None = None,
) -> DataFrame:
    """W3 (wrds_ingestion.py:160-166): per membership interval, emit one
    row per trading day in [start, end].

    The reference's O(members x days) Python loop becomes
    sequence+explode followed by a semi-join against the calendar —
    distributed and codegen'd.
    """
    # Null end = open interval; clamp to the ingest window end so the
    # generated range stays bounded (never explode to the 9999 sentinel).
    end_default = F.lit(clamp_end or OPEN_END_DATE).cast("date")
    end_expr = F.coalesce(F.col(end_col).cast("date"), end_default)
    if clamp_end:
        end_expr = F.least(end_expr, F.lit(clamp_end).cast("date"))
    exploded = intervals.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.col(start_col).cast("date"),
                end_expr,
                F.expr("interval 1 day"),
            )
        ).alias("date"),
    )
    return (
        exploded.join(calendar.select("date"), "date", "left_semi")
        .withColumn(flag_col, F.lit(True))
    )
