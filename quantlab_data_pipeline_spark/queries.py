"""Query registry: every operator class from SURVEY.md §2, expressed
Spark-first over the driver's TPC-H-ish testdata, each paired with an
ANSI-SQL DuckDB oracle.

Design notes
------------
- Each row is declared once, at its function: ``@row(oracle_sql)``
  (``queries_ext.row``; ``None`` for a rows-only row). ``SPARK_QUERIES``
  and ``ORACLE_SQL`` at the end of this module are derived from the
  declarations here and in ``queries_ext``, in one declared order.
- Spark side uses the DataFrame API so Catalyst sees a declarative plan
  (pushdown, pruning, join selection); oracles are plain SQL DuckDB runs
  on the same parquet files.
- Every aggregate / computed column is aliased identically on both
  sides (the driver's compare sorts columns by name before hashing).
- Float aggregates are ``round``-ed on both sides: Spark and DuckDB sum
  doubles in different orders, so raw sums differ in the last bits;
  rounding at 2dp for money-scale values keeps them bit-identical.
- ``count``/``sum`` of integers are cast to BIGINT in DuckDB (it widens
  to INT128, which Spark's LongType would never hash-match).

Operator coverage map (SURVEY §2 -> query):
  S1 scan, P1/P2/P4 filter+project  -> filter_project
  P3 semi-join IN-list              -> semi_join_in_list
  P7-P11 derived cols, A* aggs      -> q1_pricing_summary
  J2 broadcast dim join             -> broadcast_dim_join
  J3 left join + P12 coalesce       -> left_join_coalesce
  J4/J6/J7/J8 interval validity     -> interval_validity_join
  J5 multiway join                  -> q3_shipping_priority, q5_local_supplier
  A1-A3 ordered first-non-null      -> dedup_first_non_null
  A4 per-key sum+first              -> dedup_keyed
  A5 distinct                       -> distinct_segments
  A7 greatest/least                 -> greatest_least
  W1 cumulative product             -> window_cumprod
  W2 lag / pct_change               -> window_lag_pct_change
  W3 interval->daily explode        -> calendar_explode
  W4 wide->long unpivot             -> measure_unpivot
  O1 sort, topk                     -> topk_per_group
  U1 union-all                      -> union_all_parties
  F1/F2 regex normalize             -> regex_normalize
  F4 numeric parse w/ reject        -> json_extract_cast
  anti join (beyond reference)      -> anti_join_customers
  rollup (beyond reference)         -> rollup_counts
  streaming batch-equivalent        -> hourly_rollup, sessionize_batch
  as-of join (beyond reference)     -> asof_join_events
  multimodal binary columns         -> multimodal_meta, multimodal_features
  LLM-pipeline ops                  -> text_*, language_id, doc_fingerprint,
                                       *_dedup, embedding_*
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import queries_ext
from .queries_ext import (
    _STOP_DE,
    _STOP_EN,
    _STOP_ES,
    _STOP_FR,
    QueryFn,
    _ivf_topk_oracle_sql,
    _lsh_topk_oracle_sql,
    _minhash_lsh_oracle_sql,
    _simhash_oracle_sql,
    declared_rows,
    row,
)
from .sources.testdata import load_table


# --------------------------------------------------------------------------
# TPC-H-style analytical queries
# --------------------------------------------------------------------------


@row("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)       AS sum_qty,
               round(sum(l_extendedprice), 2)  AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 2)       AS avg_qty,
               round(avg(l_extendedprice), 2)  AS avg_price,
               round(avg(l_discount), 4)       AS avg_disc,
               count(*)                        AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """)
def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: scan -> filter -> hash agg with derived columns.

    Covers P2 (date predicate), P8-P11 (derived columns), A-aggs. The
    filter and the 4-column projection both push to the parquet scan.
    """
    li = load_table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@row("""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1999-03-15'
          AND l_shipdate  > TIMESTAMP '1999-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """)
def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join -> agg -> top-10 (J5, O-topk)."""
    cust = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-03-15").cast("timestamp")
    )
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-03-15").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@row("""
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """)
def q5_local_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with small-dim broadcast (J2/J5).

    region/nation/supplier are tiny -> broadcast; orders/lineitem
    shuffle only on their join keys.
    """
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@row("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
          )
        GROUP BY o_orderpriority
    """)
def q4_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS subquery -> left-semi join + agg."""
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    # testdata has no commit/receipt dates; returned lines ('R') stand
    # in as the EXISTS predicate — the plan shape (semi join) is the point
    late_lines = load_table(spark, sf, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(
            late_lines, orders.o_orderkey == late_lines.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@row("""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
          AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        GROUP BY 1, 2, 3
    """)
def q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: nation-pair volume — two dim lineages from the
    same broadcast table, year extraction, grouped revenue."""
    nation = load_table(spark, sf, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp = load_table(spark, sf, "supplier")
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@row("""
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
               count(*) AS n_lines
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#9'
          AND l_quantity < (
              SELECT 0.8 * avg(l_quantity) FROM lineitem li2
              WHERE li2.l_partkey = lineitem.l_partkey
          )
    """)
def q17_small_quantity(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: per-key scalar aggregate feeding a filter on the
    same fact (correlated scalar subquery -> join against a per-part
    average)."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").filter(F.col("p_brand") == "Brand#9")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.avg("l_quantity") * 0.8).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Handler-shaped operators (scan -> filter -> project -> sort spine)
# --------------------------------------------------------------------------


@row("""
        SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <= TIMESTAMP '1997-12-31'
          AND o_orderstatus = 'O'
    """)
def filter_project(spark: SparkSession, sf: str) -> DataFrame:
    """P1+P2+P4: the DataHandler read spine on testdata.

    Date-range + equality predicates and a 4-column projection, all of
    which reach the parquet scan (PushedFilters/ReadSchema).
    """
    orders = load_table(spark, sf, "orders")
    return orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp"))
        & (F.col("o_orderstatus") == "O")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")


@row("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        )
    """)
def semi_join_in_list(spark: SparkSession, sf: str) -> DataFrame:
    """P3/J1: semi-join filter — orders of BUILDING-segment customers."""
    orders = load_table(spark, sf, "orders")
    building = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return orders.join(
        F.broadcast(building), orders.o_custkey == building.c_custkey, "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@row("""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        )
    """)
def anti_join_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Anti join: customers with no orders since 1999."""
    cust = load_table(spark, sf, "customer")
    recent = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    return cust.join(
        recent, cust.c_custkey == recent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@row("""
        SELECT s_suppkey, s_name, n_name, r_name
        FROM supplier
        LEFT JOIN nation ON s_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
    """)
def broadcast_dim_join(spark: SparkSession, sf: str) -> DataFrame:
    """J2: attach dim attributes via broadcast joins (ticker-attach shape)."""
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


@row("""
        SELECT c_custkey,
               coalesce(n_orders, 0) AS n_orders,
               round(coalesce(total_spend, 0.0) + c_acctbal, 2) AS lifetime_value
        FROM customer
        LEFT JOIN (
            SELECT o_custkey,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   sum(o_totalprice)        AS total_spend
            FROM orders GROUP BY o_custkey
        ) per_cust ON c_custkey = o_custkey
    """)
def left_join_coalesce(spark: SparkSession, sf: str) -> DataFrame:
    """J3+P9+P12: left join + null-default + derived column.

    Mirrors the delist-return adjustment: customers left-joined to an
    order aggregate; missing aggregates coalesce to 0 before deriving.
    """
    cust = load_table(spark, sf, "customer")
    per_cust = (
        load_table(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("total_spend"),
        )
    )
    joined = cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
    return joined.select(
        "c_custkey",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.round(
            F.coalesce(F.col("total_spend"), F.lit(0.0)) + F.col("c_acctbal"), 2
        ).alias("lifetime_value"),
    )


@row("""
        SELECT o_orderpriority,
               count(*) AS n_lines,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
                   AND l_shipdate >= o_orderdate
                   AND l_shipdate <  o_orderdate + INTERVAL 120 DAY
        GROUP BY o_orderpriority
    """)
def interval_validity_join(spark: SparkSession, sf: str) -> DataFrame:
    """J4/J6/J7/J8: equi-join + date-interval residual predicate.

    The CCM point-in-time shape: lineitem joins its order only when the
    ship date falls inside [orderdate, orderdate + 120 days). Spark
    plans this as an equi-join with a residual range filter — no custom
    strategy needed.
    """
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    joined = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < F.expr("o_orderdate + INTERVAL 120 DAYS")),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# Dedup / aggregation semantics (A1-A7)
# --------------------------------------------------------------------------


@row("""
        SELECT user_id,
               arg_min(event_type, ts) AS first_event_type,
               arg_max(event_type, ts) AS last_event_type,
               min(ts) AS first_ts,
               max(ts) AS last_ts,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY user_id
    """)
def dedup_first_non_null(spark: SparkSession, sf: str) -> DataFrame:
    """A1-A3: keyed dedup with *ordered* first semantics.

    The reference's pandas `first non-null` is arrival-order-dependent;
    Spark's `F.first` is shuffle-order-undefined, so we pin an explicit
    order with min_by/max_by on the event timestamp (SURVEY §7.3 trap 1).
    """
    ev = load_table(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", "ts").alias("first_event_type"),
        F.max_by("event_type", "ts").alias("last_event_type"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@row("""
        SELECT user_id, event_type,
               CAST(min(event_id) AS BIGINT) AS first_event_id,
               count(*) AS n
        FROM events
        GROUP BY user_id, event_type
    """)
def dedup_keyed(spark: SparkSession, sf: str) -> DataFrame:
    """A4/A6: drop duplicates on a key, keeping the earliest row id."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.count("*").alias("n"),
    )


@row("""
        SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
    """)
def distinct_segments(spark: SparkSession, sf: str) -> DataFrame:
    """A5: SQL DISTINCT."""
    return (
        load_table(spark, sf, "customer")
        .select("c_mktsegment", "c_nationkey")
        .distinct()
    )


@row("""
        SELECT l_orderkey, l_linenumber,
               greatest(l_tax, l_discount) AS rate_hi,
               least(l_tax, l_discount)    AS rate_lo
        FROM lineitem
    """)
def greatest_least(spark: SparkSession, sf: str) -> DataFrame:
    """A7: row-wise greatest/least (interval-intersection shape)."""
    li = load_table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.greatest("l_tax", "l_discount").alias("rate_hi"),
        F.least("l_tax", "l_discount").alias("rate_lo"),
    )


# --------------------------------------------------------------------------
# Window / ordered operators (W1-W4)
# --------------------------------------------------------------------------


@row("""
        SELECT event_id, user_id, pct_change FROM (
            SELECT event_id, user_id,
                   floor((value / NULLIF(lag(value) OVER (
                       PARTITION BY user_id ORDER BY ts), 0) - 1) * 1e6) / 1e6
                       AS pct_change
            FROM events
        ) t WHERE pct_change IS NOT NULL
    """)
def window_lag_pct_change(spark: SparkSession, sf: str) -> DataFrame:
    """W2: per-group pct_change via lag window (returns_daily oracle)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    # nullif guards the zero denominator (ANSI mode throws on x/0);
    # the resulting null rows drop below, same as the oracle's NULLIF.
    prev = F.nullif(F.lag("value").over(w), F.lit(0.0))
    # floor(x*1e6)/1e6, not round(x, 6): two-decimal inputs divide to
    # exact half-boundaries (57.63/6.4 - 1 = 8.0046875) where Spark's
    # decimal-string HALF_UP and DuckDB's binary rounding disagree;
    # scaled floor performs the same IEEE multiply on the same doubles
    # in both engines. (Caveat: Spark's floor yields LONG and would
    # saturate past ~9.2e12 where DuckDB's double floor doesn't —
    # unreachable for a pct-change of bounded prices.)
    pct = F.floor((F.col("value") / prev - 1) * 1e6) / 1e6
    return ev.select(
        "event_id",
        "user_id",
        pct.alias("pct_change"),
    ).filter(F.col("pct_change").isNotNull())


@row("""
        SELECT event_id, user_id,
               round(product(1 + value / 10000.0) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) * 100.0, 6) AS level
        FROM events
    """)
def window_cumprod(spark: SparkSession, sf: str) -> DataFrame:
    """W1: cumulative product -> index level (benchmark-level shape).

    Implemented with F.product over an ordered window (Spark >=3.2);
    values scaled so the product stays in double range.
    """
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    growth = 1 + F.col("value") / 10000.0
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.product(growth).over(w) * 100.0, 6).alias("level"),
    )


@row("""
        SELECT o_orderkey, o_custkey, o_orderdate,
               round(sum(o_totalprice) OVER w, 2) AS spend_30d,
               count(*) OVER w AS n_orders_30d
        FROM orders
        WINDOW w AS (
            PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
        )
    """)
def window_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Time-RANGE window frame (not row-count): trailing 30-day spend
    per customer as of each order. rangeBetween over epoch seconds —
    the frame is defined by time distance, so irregular order spacing
    is handled correctly (a rowsBetween frame would not be)."""
    orders = load_table(spark, sf, "orders")
    day = 86400
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * day, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
        F.count("*").over(w).alias("n_orders_30d"),
    )


@row("""
        WITH days AS (
            SELECT unnest(generate_series(
                CAST(o_orderdate AS DATE),
                CAST(o_orderdate AS DATE) + INTERVAL 6 DAY,
                INTERVAL 1 DAY)) AS d
            FROM orders
        )
        SELECT CAST(d AS DATE) AS d, count(*) AS n_open_orders
        FROM days GROUP BY 1
    """)
def calendar_explode(spark: SparkSession, sf: str) -> DataFrame:
    """W3: interval -> daily explode via sequence+explode.

    The reference's O(rows x days) Python loop becomes a distributed
    generator (membership-explode shape)."""
    orders = load_table(spark, sf, "orders")
    days = F.explode(
        F.sequence(
            F.to_date("o_orderdate"),
            F.date_add(F.to_date("o_orderdate"), 6),
            F.expr("interval 1 day"),
        )
    ).alias("d")
    return (
        orders.select(days)
        .groupBy("d")
        .agg(F.count("*").alias("n_open_orders"))
    )


@row("""
        WITH long AS (
            SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
            UNION ALL
            SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
            UNION ALL
            SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
            UNION ALL
            SELECT l_orderkey, 'l_tax', l_tax FROM lineitem
        )
        SELECT measure, count(*) AS n, round(sum(value), 2) AS total
        FROM long GROUP BY measure
    """)
def measure_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """W4: wide -> long unpivot (factor-melt shape), then re-aggregate."""
    li = load_table(spark, sf, "lineitem")
    long = li.unpivot(
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )


@row("""
        SELECT user_id,
               count(*) FILTER (event_type = 'click')    AS n_click,
               count(*) FILTER (event_type = 'view')     AS n_view,
               count(*) FILTER (event_type = 'purchase') AS n_purchase,
               count(*) FILTER (event_type = 'signup')   AS n_signup,
               count(*) FILTER (event_type = 'error')    AS n_error
        FROM events
        GROUP BY user_id
    """)
def pivot_event_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Long -> wide pivot (the inverse of W4's unpivot): one column per
    event type. The value list is pinned so the plan is a single pass
    (no distinct-scan to discover columns)."""
    ev = load_table(spark, sf, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


@row("""
        SELECT c_nationkey, rank, c_custkey, c_acctbal FROM (
            SELECT c_nationkey, c_custkey, c_acctbal,
                   CAST(row_number() OVER (
                       PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS rank
            FROM customer
        ) t WHERE rank <= 3
    """)
def topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 customers by balance per nation (row_number window)."""
    cust = load_table(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("c_nationkey", "rank", "c_custkey", "c_acctbal")
    )


# --------------------------------------------------------------------------
# Set ops / scalar functions
# --------------------------------------------------------------------------


@row("""
        SELECT c_mktsegment, rnk,
               count(*) AS n_at_rank,
               max(bal_k) AS bal_k
        FROM (
            SELECT c_mktsegment,
                   round(c_acctbal / 1000.0, 0) AS bal_k,
                   CAST(dense_rank() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY round(c_acctbal / 1000.0, 0) DESC
                   ) AS INT) AS rnk
            FROM customer
        ) t WHERE rnk <= 3
        GROUP BY c_mktsegment, rnk
    """)
def dense_rank_balances(spark: SparkSession, sf: str) -> DataFrame:
    """Tie-aware ranking: dense_rank over rounded balances per segment
    (row_number's tie-broken cousin; rounded so real ties exist)."""
    cust = load_table(spark, sf, "customer")
    bal_k = F.round(F.col("c_acctbal") / 1000.0, 0)
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc(bal_k))
    return (
        cust.withColumn("bal_k", bal_k)
        .withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
        .groupBy("c_mktsegment", "rnk")
        .agg(F.count("*").alias("n_at_rank"), F.max("bal_k").alias("bal_k"))
    )


@row("""
        SELECT event_id,
               TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS k
        FROM events
        WHERE TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) IS NOT NULL
    """)
def json_struct_parse(spark: SparkSession, sf: str) -> DataFrame:
    """from_json with an explicit schema (the JSON parser path, vs
    json_extract_cast's path extraction) -> typed struct field."""
    ev = load_table(spark, sf, "events")
    parsed = F.from_json("props", "k bigint")
    return (
        ev.select("event_id", parsed.getField("k").alias("k"))
        .filter(F.col("k").isNotNull())
    )


@row("""
        SELECT c_custkey AS party_id, c_name AS party_name,
               'customer' AS party_type
        FROM customer
        UNION ALL
        SELECT s_suppkey, s_name, 'supplier' FROM supplier
    """)
def union_all_parties(spark: SparkSession, sf: str) -> DataFrame:
    """U1: union-all of two homogenized frames (concat shape)."""
    cust = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("party_id"),
        F.col("c_name").alias("party_name"),
        F.lit("customer").alias("party_type"),
    )
    supp = load_table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("party_id"),
        F.col("s_name").alias("party_name"),
        F.lit("supplier").alias("party_type"),
    )
    return cust.unionByName(supp)


@row("""
        SELECT p_partkey,
               substring(regexp_replace(CAST(p_type AS VARCHAR),
                         '[^A-Za-z0-9]', '', 'g'), 1, 8) AS type_code
        FROM part
    """)
def regex_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """F1/F2: CUSIP-normalize shape — strip non-alphanumerics, take 8."""
    part = load_table(spark, sf, "part")
    return part.select(
        "p_partkey",
        F.substring(
            F.regexp_replace(F.col("p_type").cast("string"), "[^A-Za-z0-9]", ""),
            1,
            8,
        ).alias("type_code"),
    )


@row("""
        SELECT event_id,
               TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS k
        FROM events
        WHERE TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) IS NOT NULL
    """)
def json_extract_cast(spark: SparkSession, sf: str) -> DataFrame:
    """F4: parse-with-reject — JSON prop to number, nulls dropped."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_id", k.alias("k"))
        .filter(F.col("k").isNotNull())
    )


@row("""
        SELECT r_name, n_name,
               count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS total_balance
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """)
def rollup_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Rollup aggregation over the region/nation hierarchy."""
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    cust = load_table(spark, sf, "customer")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
    )


@row("""
        SELECT c_mktsegment,
               round(quantile_cont(c_acctbal, 0.5), 4)  AS p50,
               round(quantile_cont(c_acctbal, 0.9), 4)  AS p90,
               round(quantile_cont(c_acctbal, 0.99), 4) AS p99,
               count(*) AS n
        FROM customer
        GROUP BY c_mktsegment
    """)
def revenue_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles per customer segment (ordered
    aggregate — one shuffle on the segment key)."""
    cust = load_table(spark, sf, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("c_acctbal", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("c_acctbal", F.lit(0.99)), 4).alias("p99"),
        F.count("*").alias("n"),
    )


@row("""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               count(*) AS n_events
        FROM events
        GROUP BY event_type
    """)
def distinct_users_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact distinct users per event type (shuffles the full key set)."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@row(None)
def distinct_users_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog++ distinct count (rows-only: sketch estimates are
    engine-specific; the exact twin above is the oracle-checked pair).

    At 100 TB this is the scale path: the sketch is fixed-size per
    group, so the shuffle carries kilobytes instead of the full key
    set. rsd=0.01 -> ~1% relative error.
    """
    ev = load_table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx"),
        F.count("*").alias("n_events"),
    )


@row("""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """)
def hourly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Batch equivalent of the streaming tumbling-window aggregation
    (see streaming/events.py for the readStream version)."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@row("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """)
def cube_counts(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping combinations in
    one pass (Expand operator -> single shuffle)."""
    orders = load_table(spark, sf, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@row("""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR date_diff('second', lag(ts) OVER w, ts) > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), numbered AS (
            SELECT user_id, ts, value,
                   CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id,
               min(ts) AS session_start,
               max(ts) AS session_end,
               count(*) AS n_events,
               round(sum(value), 2) AS session_value
        FROM numbered
        GROUP BY user_id, session_id
    """)
def sessionize_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batch twin of the streaming session_window (gaps-and-islands):
    a session closes after 30 idle minutes. One shuffle (partition by
    user), two ordered window passes — no self-join."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    new_session = (gap.isNull() | (gap > 1800)).cast("int")
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("__new", new_session)
        .withColumn("session_id", F.sum("__new").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


@row("""
        SELECT c.event_id, c.user_id, c.ts,
               p.ts AS asof_ts, p.value AS asof_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                        WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """)
def asof_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each click event gets the user's most recent
    prior-or-equal purchase (union + ordered-window — one shuffle, no
    range-join blowup; operators/asof.py)."""
    from .operators.asof import as_of_join

    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return as_of_join(clicks, purchases, on=["user_id"])


@row("""
        SELECT doc_id,
               'image' AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
               sha256(text) AS sha256,
               CAST(16 + (doc_id % 5) * 8 AS INT) AS width,
               CAST(16 + (doc_id % 3) * 8 AS INT) AS height
        FROM documents
    """)
def multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal column plumbing, oracle-checked half: documents as
    opaque binary payloads with typed metadata (byte length, sha256,
    deterministic dimensions) — all native expressions over binary."""
    docs = load_table(spark, sf, "documents")
    content = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.lit("image").alias("media_type"),
        F.octet_length(content).alias("byte_len"),
        F.sha2(content, 256).alias("sha256"),
        (16 + F.pmod("doc_id", F.lit(5)) * 8).cast("int").alias("width"),
        (16 + F.pmod("doc_id", F.lit(3)) * 8).cast("int").alias("height"),
    )


# Straight byte math over the same tiled pixel layout the Spark
# side routes through a REAL PNG encode->decode cycle — a hash
# match proves the codec round-trip is lossless. The corpus is
# ASCII, so ord(char) == utf-8 byte; heights divide by 8, so each
# of the 8 row bands is the flat byte range [b*wh/8, (b+1)*wh/8).
@row("""
        WITH d AS (
            SELECT doc_id,
                   CASE WHEN length(text) = 0 THEN chr(0) ELSE text END AS t,
                   (16 + (doc_id % 5) * 8) AS w,
                   (16 + (doc_id % 3) * 8) AS h
            FROM documents
        ), px AS (
            SELECT doc_id, w, h,
                   unnest(range(0, w * h)) AS i
            FROM d
        ), v AS (
            SELECT px.doc_id, px.w, px.h, px.i,
                   ord(substr(d.t, CAST(px.i % length(d.t) AS INT) + 1, 1)) AS val,
                   CAST(px.i // (px.w * px.h // 8) AS INT) AS band
            FROM px JOIN d ON px.doc_id = d.doc_id
        )
        SELECT doc_id AS asset_id,
               CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               avg(val) AS mean_intensity,
               avg(val) FILTER (WHERE band = 0) AS band_0,
               avg(val) FILTER (WHERE band = 1) AS band_1,
               avg(val) FILTER (WHERE band = 2) AS band_2,
               avg(val) FILTER (WHERE band = 3) AS band_3,
               avg(val) FILTER (WHERE band = 4) AS band_4,
               avg(val) FILTER (WHERE band = 5) AS band_5,
               avg(val) FILTER (WHERE band = 6) AS band_6,
               avg(val) FILTER (WHERE band = 7) AS band_7
        FROM v GROUP BY doc_id, w, h
    """)
def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal decode path, now a REAL codec round-trip and
    oracle-checked: each document's bytes tile into a WxH frame and
    encode as an actual PNG (llm/codecs.py, pure numpy + stdlib zlib),
    then the Arrow-batched decode kernel parses the PNG back and
    reduces it to luma features. The DuckDB oracle computes the same
    statistics straight from the text bytes — a hash match therefore
    PROVES the encode→decode cycle is lossless, upgrading this row
    from rows-only. Band means are exact integer-sum/count doubles on
    both sides (heights divide by 8, so array_split bands are flat
    byte ranges)."""
    from .llm.multimodal import extract_image_features, media_from_text

    docs = load_table(spark, sf, "documents")
    media = media_from_text(docs)
    feats = extract_image_features(media, decoder="png")
    return feats.select(
        "asset_id",
        "width",
        "height",
        "mean_intensity",
        *[F.col("feature")[b].alias(f"band_{b}") for b in range(8)],
    )


# --------------------------------------------------------------------------
# LLM training-data pipeline operators (BASELINE.json north star)
# --------------------------------------------------------------------------

from .llm.dedup import (  # noqa: E402
    exact_dedup as _exact_dedup,
    minhash_dedup_pairs as _minhash_pairs,
    ngram_jaccard_pairs as _ngram_pairs,
    simhash_fingerprints as _simhash,
    simhash_near_dup_pairs as _simhash_pairs,
)
from .llm.similarity import (  # noqa: E402
    brute_force_topk as _bf_topk,
    embedding_near_dup_pairs as _emb_pairs,
    lsh_topk as _lsh_topk,
)
from .llm.text import (  # noqa: E402
    TOKEN_PATTERN,
    with_fingerprint as _with_fp,
    with_language_id as _with_lang,
    with_quality_score as _with_quality,
    with_text_stats as _with_stats,
)


@row(f"""
            WITH t AS (
                SELECT doc_id, text,
                       regexp_extract_all(lower(text), '[a-z0-9]+') AS words
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT) AS n_tokens,
                   CAST(len(words) AS BIGINT) AS n_words,
                   round(CASE WHEN len(words) > 0 THEN
                       list_sum(list_transform(words, w -> length(w))) / len(words)
                   END, 4) AS avg_word_len,
                   round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   round(len(list_filter(words, w -> list_contains({_STOP_EN}, w)))
                         / greatest(len(words), 1), 6) AS stopword_ratio
            FROM t
        """)
def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Text quality features over documents (native expressions)."""
    docs = load_table(spark, sf, "documents")
    return _with_stats(docs).select(
        "doc_id", "n_tokens", "n_words", "avg_word_len",
        "punct_ratio", "stopword_ratio",
    )


@row(f"""
            WITH t AS (
                SELECT doc_id, text,
                       regexp_extract_all(lower(text), '[a-z0-9]+') AS words
                FROM documents
            ), s AS (
                SELECT doc_id,
                       CAST(len(words) AS BIGINT) AS n_words,
                       round(CASE WHEN len(words) > 0 THEN
                           list_sum(list_transform(words, w -> length(w))) / len(words)
                       END, 4) AS avg_word_len,
                       round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                             / greatest(length(text), 1), 6) AS punct_ratio,
                       round(len(list_filter(words, w -> list_contains({_STOP_EN}, w)))
                             / greatest(len(words), 1), 6) AS stopword_ratio
                FROM t
            )
            SELECT doc_id,
                   round(
                       (CASE WHEN n_words >= 20 THEN 0.25 ELSE n_words / 80.0 END)
                     + (CASE WHEN avg_word_len >= 2 AND avg_word_len <= 12 THEN 0.25 ELSE 0.0 END)
                     + (CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE greatest(0.0, 0.25 - punct_ratio) END)
                     + (CASE WHEN stopword_ratio >= 0.01 THEN 0.25 ELSE 0.0 END)
                   , 6) AS quality_score,
                   round(
                       (CASE WHEN n_words >= 20 THEN 0.25 ELSE n_words / 80.0 END)
                     + (CASE WHEN avg_word_len >= 2 AND avg_word_len <= 12 THEN 0.25 ELSE 0.0 END)
                     + (CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE greatest(0.0, 0.25 - punct_ratio) END)
                     + (CASE WHEN stopword_ratio >= 0.01 THEN 0.25 ELSE 0.0 END)
                   , 6) >= 0.5 AS keep
            FROM s
        """)
def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Composite quality score + keep flag."""
    docs = load_table(spark, sf, "documents")
    return _with_quality(docs).select("doc_id", "quality_score", "keep")


@row(f"""
            WITH t AS (
                SELECT doc_id, text,
                       regexp_extract_all(lower(text), '[a-z0-9]+') AS words
                FROM documents
            ), s AS (
                SELECT doc_id, text,
                       len(list_filter(words, w -> list_contains({_STOP_EN}, w))) AS s_en,
                       len(list_filter(words, w -> list_contains({_STOP_DE}, w))) AS s_de,
                       len(list_filter(words, w -> list_contains({_STOP_ES}, w))) AS s_es,
                       len(list_filter(words, w -> list_contains({_STOP_FR}, w))) AS s_fr
                FROM t
            )
            SELECT doc_id,
                   CASE
                       WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
                       WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                       WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                       WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
                       WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                       ELSE 'fr'
                   END AS lang_pred
            FROM s
        """)
def language_id(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword/CJK heuristic language classification."""
    docs = load_table(spark, sf, "documents")
    return _with_lang(docs).select("doc_id", "lang_pred")


@row("""
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """)
def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """md5 fingerprint of normalized text."""
    docs = load_table(spark, sf, "documents")
    return _with_fp(docs).select("doc_id", "fingerprint")


@row("""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS BIGINT) AS n_urls,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                   md5(regexp_replace(
                        regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'
                   )) AS clean_hash
            FROM documents
        """)
def pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """URL/email counting + masking over documents (intake cleanup)."""
    from .llm.text import with_pii_scrub

    docs = load_table(spark, sf, "documents")
    return with_pii_scrub(docs).select(
        "doc_id", "n_urls", "n_emails", F.md5("clean_text").alias("clean_hash")
    )


@row("""
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
                   CAST(min(doc_id) AS BIGINT) AS keeper_id,
                   count(*) AS n_copies
            FROM documents
            GROUP BY 1
        """)
def exact_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by content hash: keeper id + copy count per hash."""
    docs = load_table(spark, sf, "documents")
    return _exact_dedup(docs)


@row("""
            WITH base AS (
                SELECT doc_id,
                       substring(text, 1, 40) AS block,
                       (WITH w AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS words)
                        SELECT CASE WHEN len(words) >= 3 THEN
                            list_distinct(list_transform(
                                generate_series(1, len(words) - 2),
                                i -> array_to_string(words[i:i+2], ' ')))
                        ELSE [array_to_string(words, ' ')] END FROM w) AS sh
                FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.sh, b.sh)) /
                         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
                       AS jaccard
            FROM base a JOIN base b
              ON a.block = b.block AND a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.sh, b.sh)) /
                        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5
        """)
def ngram_jaccard_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs with prefix blocking."""
    docs = load_table(spark, sf, "documents")
    return _ngram_pairs(docs, block_chars=40, threshold=0.5)


@row(_minhash_lsh_oracle_sql())
def minhash_lsh_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (signature-estimated Jaccard).

    Oracle-checked since round 3: the signature family is md5-base +
    Carter-Wegman slots (engine-portable), so DuckDB replays the exact
    signatures and banding — see ``queries_ext._minhash_lsh_oracle_sql``.
    The exact-Jaccard twin ``ngram_jaccard_dedup`` covers the same
    semantics without the estimator.
    """
    docs = load_table(spark, sf, "documents")
    return _minhash_pairs(docs, threshold=0.5)


@row(_simhash_oracle_sql())
def simhash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3 on 64-bit fingerprints).
    Oracle-checked since round 3: fingerprint bits derive from md5
    quarters (engine-portable), so DuckDB replays the exact pipeline —
    see ``queries_ext._simhash_oracle_sql``. tests/test_llm_ops.py
    additionally checks the banded blocking recovers every pair a
    brute-force Hamming scan finds."""
    docs = load_table(spark, sf, "documents")
    return _simhash_pairs(_simhash(docs), max_hamming=3)


@row("""
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 10
            ), c AS (
                SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings
            ), scored AS (
                SELECT query_id, neighbor_id,
                       round(list_dot_product(qv, cv)
                             / (sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv))), 6) AS score
                FROM c, q WHERE query_id <> neighbor_id
            )
            SELECT query_id, rank, neighbor_id, score FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC
                ) AS INT) AS rank
                FROM scored
            ) t WHERE rank <= 5
        """)
def embedding_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 query vectors."""
    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return _bf_topk(queries_df, emb, k=5)


@row(_lsh_topk_oracle_sql())
def embedding_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Banded-LSH approximate top-5: equi-join on (band_idx, band_val),
    exact re-rank of candidates only (the scale path). Oracle-checked
    since round 3: the hyperplanes are a fixed md5-derived ±1 matrix
    (``llm.similarity.sign_matrix``), so DuckDB replays the exact sign
    bits — see ``queries_ext._lsh_topk_oracle_sql``."""
    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return _lsh_topk(queries_df, emb, k=5, target_cos=0.25, recall=0.95)


@row("""
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(b.e, b.e))), 6) AS score
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.e, b.e)
                        / (sqrt(list_dot_product(a.e, a.e))
                           * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4
        """)
def embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (score >= 0.4)."""
    emb = load_table(spark, sf, "embeddings")
    return _emb_pairs(emb, threshold=0.4)


@row(_ivf_topk_oracle_sql())
def embedding_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate top-5: coarse-centroid lists + nprobe search.
    Oracle-checked since round 3: train_centroids is deterministic, so
    the whole index (k-means replay + list assignment + nprobe search)
    replays in DuckDB — see queries_ext._ivf_topk_oracle_sql. The
    exact twin is embedding_cosine_topk."""
    from .llm.similarity import ivf_topk as _ivf

    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return _ivf(queries_df, emb, k=5, n_lists=16, nprobe=4)


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

# Declared registry order. The driver's correctness harness records rows
# for the FIRST 50 registry entries only, so those 50 are the rows the
# driver verifies (each one DuckDB-oracled), followed by the 8 rows
# parked right behind the window when they left it (each keeps an
# in-window relative of its operator family; the local mirror,
# scripts/check_correctness.py, still checks them every round). Every
# other row follows in declaration order, this module's rows before
# queries_ext's.
DRIVER_ORDER = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier", "q7_volume_shipping", "q17_small_quantity",
    "filter_project", "semi_join_in_list", "anti_join_customers",
    "broadcast_dim_join", "left_join_coalesce", "interval_validity_join",
    "dedup_first_non_null", "dedup_keyed", "distinct_segments",
    "greatest_least", "window_lag_pct_change", "window_cumprod",
    "calendar_explode", "measure_unpivot",
    "topk_per_group", "union_all_parties", "regex_normalize",
    "json_extract_cast", "rollup_counts", "hourly_rollup",
    "sessionize_batch", "asof_join_events", "multimodal_meta",
    "multimodal_features", "text_stats", "text_quality", "language_id",
    "pii_scrub", "exact_dedup_docs",
    "ngram_jaccard_dedup", "embedding_cosine_topk",
    "asof_forward_events", "merge_intervals_events", "scd2_events",
    "bm25_search_docs", "ml_quality_frozen_docs", "html_extract_docs",
    "warc_extract_docs", "url_dedup_docs", "curate_corpus_docs",
    "domain_quota_docs", "media_index_dedup_docs",
    "dsir_select_docs", "curate_corpus_r8",
    # parked behind the window
    "window_range_frame", "doc_fingerprint", "embedding_near_dup",
    "pivot_event_counts", "dense_rank_balances", "json_struct_parse",
    "cube_counts", "distinct_users_exact",
]

_DECLARED = {
    name: (fn, oracle)
    for module in (sys.modules[__name__], queries_ext)
    for name, fn, oracle in declared_rows(module)
}
SPARK_QUERIES: dict[str, QueryFn] = {
    name: _DECLARED[name][0]
    for name in DRIVER_ORDER + [n for n in _DECLARED if n not in DRIVER_ORDER]
}
ORACLE_SQL: dict[str, str] = {
    name: _DECLARED[name][1] for name in SPARK_QUERIES if _DECLARED[name][1] is not None
}
