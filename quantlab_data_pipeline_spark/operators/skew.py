"""Skew-handling utilities: salted joins, skew diagnosis, and
giant-group exact ranking.

AQE's skew-join splitting (enabled in the session factory) handles
sort-merge skew at runtime, but it cannot help when the skewed side
feeds a *broadcast-impossible* join against a medium-sized table, or
when a hot key concentrates in one task of a shuffled hash join. The
classic remedy is salting: explode the small/medium side ``salt_n``
ways and scatter the hot side's rows across the salted copies, so one
hot key spreads over ``salt_n`` tasks.

Use when key-frequency skew is known and heavy (one key >> mean);
measure first — salting multiplies the replicated side by ``salt_n``.

:func:`grouped_global_rank` is the window-skew counterpart: an exact
``row_number() OVER (PARTITION BY group ORDER BY ...)`` whose plan
never sorts a whole group in one task — the fix for low-cardinality
group columns (per-language ranking, per-tenant ordering) where the
naive window funnels billions of rows through a single partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..localframe import pin


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_n: int = 8,
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys: scatter skewed rows
    into ``salt_n`` buckets with a random-ish deterministic salt
    (xxhash64 of the whole row, not a PRNG — resilient to retries and
    re-computation), replicate ``other`` across every bucket, and join
    on (keys + salt). Result equals the plain join, but the hot key's
    rows land in ``salt_n`` tasks instead of one.

    Only join types that never emit unmatched ``other`` rows are
    allowed: replicating ``other`` ``salt_n`` ways would surface each
    unmatched row ``salt_n`` times under right/full outer.
    """
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    how = how.lower()  # DataFrame.join accepts spellings case-insensitively
    if how not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)} joins; got {how!r} "
            "(right/full outer would duplicate unmatched replicated rows)"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salt_n))
    s = skewed.withColumn("__salt", salt.cast("int"))
    o = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_n)]))
    )
    return s.join(o, [*on, "__salt"], how).drop("__salt")


def grouped_global_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    rank_col: str = "rank",
    n_col: str = "n_in_group",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact per-group dense ordering without a per-group global sort:
    ``df`` plus ``rank_col`` (= ``row_number() OVER (PARTITION BY
    group_cols ORDER BY order_cols)``) and ``n_col`` (= group size).

    The naive window hash-partitions on ``group_cols`` alone, so a
    low-cardinality group column (a handful of languages over billions
    of documents) sorts each group's ENTIRE frame through one task —
    correct at test scale, a straggler-or-OOM at 100x. Two-phase shape
    instead:

    1. ``repartitionByRange(group_cols + order_cols)`` — each group
       spreads over consecutive partitions in sort order, every
       partition holds ~|df|/parts rows regardless of group sizes;
    2. rank locally within (group, partition) — bounded sorts;
    3. aggregate the tiny (group, partition) -> count frame, turn it
       into per-partition rank offsets and group totals with a window
       over that FRAME (groups x partitions rows, never the data), and
       broadcast-join the offsets back: global rank = offset + local
       rank.

    Range partitioning guarantees every row in partition p of group g
    sorts before every row of g in partition p+1, so composed ranks
    equal the single-window ranks EXACTLY — provided ``order_cols``
    (with ``group_cols``) is a total order; pass a unique tie-break
    column, exactly as a deterministic window requires. Cost: one
    range exchange + one hash exchange on (group, pid) vs the naive
    window's single exchange — the price of never building a
    group-sized task.

    ``order_cols`` entries may be strings or Column sort expressions
    (``F.desc(...)``); they are used identically for the range
    partitioning and the local window, which is what makes phases 1
    and 2 agree."""
    spark = df.sparkSession
    parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    order_exprs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    group_exprs = [F.col(c) for c in group_cols]
    ranged = df.repartitionByRange(
        parts, *group_exprs, *order_exprs
    ).withColumn("__pid", F.spark_partition_id())
    # Freeze the partition ids: the ranked side and the cell-counts
    # side are two subtrees that would otherwise each re-evaluate the
    # range exchange, and the two evaluations can disagree on the
    # SAMPLED boundaries (column pruning gives each subtree a different
    # scan split layout, so the reservoir samples differ) — rows then
    # land in cells the offsets side never saw and silently drop out
    # of the join. Found live: conversation assembly over the events
    # table lost whole groups nondeterministically. The pin
    # materializes the exchange once; both subtrees read the SAME
    # partitions, which is the premise the whole two-phase composition
    # rests on. (Small-table callers never tripped this — one scan
    # split either way — so rounds 6-8 mirrors stayed green.)
    ranged = pin(ranged)
    local = Window.partitionBy(*group_cols, "__pid").orderBy(*order_exprs)
    ranked = ranged.withColumn("__local_rn", F.row_number().over(local))

    cell_counts = ranged.groupBy(*group_cols, "__pid").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    by_group = Window.partitionBy(*group_cols).orderBy("__pid")
    offsets = cell_counts.select(
        *group_cols,
        "__pid",
        F.coalesce(
            F.sum("__cnt").over(
                by_group.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__offset"),
        F.sum("__cnt")
        .over(
            Window.partitionBy(*group_cols).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias(n_col),
    )
    return (
        _join_offsets(ranked, offsets, group_cols)
        .withColumn(rank_col, F.col("__offset") + F.col("__local_rn"))
        .drop("__pid", "__local_rn", "__offset")
    )


def _join_offsets(
    rows: DataFrame, offsets: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Broadcast-join the per-(group, pid) offsets back NULL-SAFELY: a
    plain USING join silently DROPS null-group rows (SQL null
    equality), and a null group is legitimate — e.g. the unknown-host
    queue of a crawl frontier. eqNullSafe keys stay hash-joinable, so
    the plan is the same BroadcastHashJoin."""
    off = offsets.select(
        *[F.col(c).alias(f"__og_{c}") for c in group_cols],
        F.col("__pid").alias("__opid"),
        *[c for c in offsets.columns if c not in {*group_cols, "__pid"}],
    )
    cond = rows["__pid"] == off["__opid"]
    for c in group_cols:
        cond = cond & rows[c].eqNullSafe(off[f"__og_{c}"])
    joined = rows.join(F.broadcast(off), cond)
    return joined.drop("__opid", *[f"__og_{c}" for c in group_cols])


def skew_profile(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """One-row skew diagnosis of a join/aggregation key — the
    measurement that decides whether :func:`salted_join` (or a bigger
    AQE skew threshold) is worth its fan-out cost BEFORE the join runs:

    - ``n_rows`` / ``n_keys``: scale and cardinality;
    - ``max_freq`` and ``skew_ratio`` (= max_freq / mean frequency):
      a ratio near 1 is uniform; 100x means one key's partition does
      100x the average work — the straggler that stalls a stage;
    - ``top_share``: fraction of ALL rows held by the ``top_n``
      hottest keys — broadcastable hot-key set size for the
      split-hot-keys mitigation.

    Two aggregates: rows -> (key, freq) [key-cardinality-sized] ->
    one-row stats; the top-``top_n`` sum rides in the same final
    aggregate via a sorted-slice over the collected frequency list of
    the TOP CANDIDATES ONLY (an ordered limit pushes down, the full
    frequency list never concentrates anywhere). Null keys count as a
    key — they hash to one partition like any other value, which is
    exactly how they hurt.
    """
    freqs = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__f"))
    top = freqs.orderBy(F.desc("__f")).limit(top_n)
    top_sum = top.agg(F.sum("__f").alias("__top_sum"))
    stats = freqs.agg(
        F.sum("__f").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__f").alias("max_freq"),
    )
    return (
        stats.crossJoin(F.broadcast(top_sum))
        .select(
            "n_rows",
            "n_keys",
            "max_freq",
            F.round(
                F.col("max_freq") / (F.col("n_rows") / F.col("n_keys")), 6
            ).alias("skew_ratio"),
            F.round(F.col("__top_sum") / F.col("n_rows"), 6).alias(
                "top_share"
            ),
        )
    )


def grouped_global_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    value_col: str,
    cumsum_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact per-group running total (``sum(value) OVER (PARTITION BY
    group ORDER BY order ROWS UNBOUNDED PRECEDING)``, current row
    included) with the same never-a-group-sized-task shape as
    :func:`grouped_global_rank`: range partition on (group, order),
    local cumsum per (group, partition), broadcast per-partition
    subtotal offsets. The quota/budget primitive — "fill each source's
    token budget in a deterministic order" needs exactly this prefix
    sum, and the naive window funnels each group through one task.

    Same total-order requirement as the rank: ``order_cols`` (with
    ``group_cols``) must uniquely order rows or the composed result is
    partition-dependent — pass a tie-break column.
    """
    spark = df.sparkSession
    parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    order_exprs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    group_exprs = [F.col(c) for c in group_cols]
    ranged = df.repartitionByRange(
        parts, *group_exprs, *order_exprs
    ).withColumn("__pid", F.spark_partition_id())
    # Same partition-id freeze as grouped_global_rank (see the comment
    # there): the summed and cell_sums subtrees must read ONE physical
    # evaluation of the range exchange.
    ranged = pin(ranged)
    local = Window.partitionBy(*group_cols, "__pid").orderBy(*order_exprs)
    summed = ranged.withColumn("__local_cum", F.sum(value_col).over(local))

    cell_sums = ranged.groupBy(*group_cols, "__pid").agg(
        F.sum(value_col).alias("__cell")
    )
    by_group = Window.partitionBy(*group_cols).orderBy("__pid")
    offsets = cell_sums.select(
        *group_cols,
        "__pid",
        F.coalesce(
            F.sum("__cell").over(
                by_group.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ).alias("__offset"),
    )
    return (
        _join_offsets(summed, offsets, group_cols)
        .withColumn(cumsum_col, F.col("__offset") + F.col("__local_cum"))
        .drop("__pid", "__local_cum", "__offset")
    )
