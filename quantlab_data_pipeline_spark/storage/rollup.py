"""Incremental materialized rollup — pre-aggregation you can refresh
without rescanning history.

Dashboards and monitoring queries hit the same (dims × time-grain)
aggregation over and over; at 100 TB recomputing it from the raw fact
on every refresh is the dominant cost. The classic fix is a
materialized rollup maintained *additively*: store PARTIAL aggregates
(count / sum / min / max — the algebraic ones that merge), partitioned
by the time grain, and fold each new batch into only the partitions it
touches:

1. partially aggregate the incoming batch to the rollup grain;
2. read back just the affected grain partitions of the stored rollup
   (partition-pruned scan — the rest of history is never opened);
3. merge (sum the counts/sums, min/max the extrema) and rewrite those
   partitions via dynamic partition overwrite.

Non-algebraic aggregates (avg, stddev) are DERIVED at read time from
the stored partials (`read_rollup`), never stored — storing them would
break mergeability. Correctness invariant (oracle-checked by the
registry query `rollup_incremental_events`): build-on-slice +
refresh-with-rest must equal a one-shot aggregation of the full fact,
bit-for-bit.

Single-writer contract per refresh, like every overwrite path here;
concurrent refreshes of DISJOINT partitions are safe under dynamic
partition overwrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..localframe import materialized, pin

__all__ = ["build_rollup", "refresh_rollup", "read_rollup"]

_GRAIN_FMT = {"day": "yyyy-MM-dd", "hour": "yyyy-MM-dd HH:00:00"}


def _partial(
    df: DataFrame, time_col: str, grain: str, dims: list[str], value_col: str
) -> DataFrame:
    """Partial (mergeable) aggregates at the rollup grain."""
    if grain not in _GRAIN_FMT:
        raise ValueError(f"grain must be one of {sorted(_GRAIN_FMT)}")
    bucket = F.date_format(
        F.date_trunc(grain, F.col(time_col)), _GRAIN_FMT[grain]
    ).alias("grain_key")
    return df.groupBy(bucket, *[F.col(d) for d in dims]).agg(
        F.count("*").alias("n"),
        F.sum(value_col).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )


def build_rollup(
    df: DataFrame,
    path: str,
    time_col: str,
    dims: list[str],
    value_col: str,
    grain: str = "day",
) -> None:
    """Materialize the rollup (overwrite), hive-partitioned by the
    grain key so refreshes and time-ranged reads prune partitions."""
    _partial(df, time_col, grain, dims, value_col).write.mode(
        "overwrite"
    ).partitionBy("grain_key").parquet(path)


def refresh_rollup(
    new_data: DataFrame,
    path: str,
    time_col: str,
    dims: list[str],
    value_col: str,
    grain: str = "day",
) -> list[str]:
    """Fold a new raw batch into the stored rollup additively.

    Only the grain partitions present in the batch are read back,
    merged, and rewritten (dynamic partition overwrite); history
    partitions are untouched. Returns the refreshed grain keys. The
    batch may contain rows for existing partitions (late data) —
    merging is associative, so re-sending a *different* slice of a day
    is fine; re-sending the SAME rows twice double-counts, as with any
    additive store (dedupe upstream, e.g. streaming_exact_dedup).
    """
    spark = new_data.sparkSession
    with materialized():
        batch = pin(_partial(new_data, time_col, grain, dims, value_col))
        keys = [r["grain_key"] for r in batch.select("grain_key").distinct().collect()]
        # Filter BEFORE the string cast: grain_key is date/timestamp-typed
        # by partition inference, and comparing it with string literals
        # (implicitly coerced) keeps the scan partition-pruned to the
        # affected days. The cast to the canonical string form happens
        # after, so the merge keys line up with the batch's.
        existing = None
        if keys:
            try:
                existing = _read_raw(spark, path, F.col("grain_key").isin(keys))
            except AnalysisException:
                # A build from an empty frame leaves a file-less store
                # (no partitions to infer a schema from) — treat the
                # refresh as the initial load.
                existing = None
        merged = batch if existing is None else (
            batch.unionByName(existing)
            .groupBy("grain_key", *dims)
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_v").alias("sum_v"),
                F.min("min_v").alias("min_v"),
                F.max("max_v").alias("max_v"),
            )
        )
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        previous = spark.conf.get(mode_key, "static")
        spark.conf.set(mode_key, "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy("grain_key").parquet(path)
        finally:
            spark.conf.set(mode_key, previous)
        return sorted(keys)


def _read_raw(
    spark: SparkSession, path: str, key_filter: Column | None = None
) -> DataFrame:
    """Scan with ``grain_key`` pinned back to its written string form.

    Spark's hive-partition type inference reads a day-grain key as
    DATE and an hour-grain key as TIMESTAMP, so without the cast the
    key's type would silently depend on the grain. ``key_filter`` is
    applied BEFORE the cast, against the inferred-typed column, so
    string literals coerce to the partition type and the scan stays
    partition-pruned."""
    r = spark.read.parquet(path)
    if key_filter is not None:
        r = r.filter(key_filter)
    return r.withColumn("grain_key", F.col("grain_key").cast("string"))


def read_rollup(
    spark: SparkSession,
    path: str,
    since: str | None = None,
    until: str | None = None,
) -> DataFrame:
    """The rollup with derived (non-stored) aggregates: avg from
    sum/count. ``since``/``until`` (grain-key strings, [since, until))
    filter the typed partition column pre-cast, so time-ranged reads
    open only the matching grain partitions."""
    flt = None
    if since is not None:
        flt = F.col("grain_key") >= since
    if until is not None:
        upper = F.col("grain_key") < until
        flt = upper if flt is None else (flt & upper)
    return _read_raw(spark, path, flt).withColumn(
        "avg_v", F.col("sum_v") / F.col("n")
    )


def build_distinct_rollup(
    df: DataFrame,
    path: str,
    time_col: str,
    dims: list[str],
    id_col: str,
    grain: str = "day",
    lgk: int = 12,
) -> None:
    """Materialize per-(grain, dims) HyperLogLog sketches of
    ``id_col`` — the mergeable answer to COUNT DISTINCT over rollups.

    Plain count-distinct partials are NOT additive (you cannot sum
    per-day distinct users into monthly distinct users), which is why
    the algebraic rollup above excludes it. Datasketches HLL objects
    ARE mergeable: store one binary sketch per cell
    (``hll_sketch_agg``), union sketches at read time across any time
    range (``hll_union_agg``), estimate once — a 100 TB fact collapses
    to KB-scale sketch cells, and re-aggregation to coarser grains or
    longer windows never touches the fact again. Same hive layout as
    the value rollup so time-range reads prune partitions.
    """
    if grain not in _GRAIN_FMT:
        raise ValueError(f"grain must be one of {sorted(_GRAIN_FMT)}")
    key = F.date_format(
        F.date_trunc(grain, F.col(time_col)), _GRAIN_FMT[grain]
    ).alias("grain_key")
    (
        df.groupBy(key, *dims)
        .agg(F.hll_sketch_agg(F.col(id_col).cast("string"), F.lit(lgk)).alias("sketch"))
        .write.mode("overwrite")
        .partitionBy("grain_key")
        .parquet(path)
    )


def estimate_distinct(
    spark: SparkSession,
    path: str,
    dims: list[str],
    start_key: str | None = None,
    end_key: str | None = None,
) -> DataFrame:
    """(dims..., n_distinct) across a grain-key range, by unioning the
    stored sketches — never re-reading the fact. The range filter hits
    the hive partition column, so only the requested grain partitions
    are scanned."""
    r = spark.read.parquet(path)
    if start_key is not None:
        r = r.filter(F.col("grain_key") >= start_key)
    if end_key is not None:
        r = r.filter(F.col("grain_key") <= end_key)
    return r.groupBy(*dims).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("n_distinct")
    )


def build_quantile_rollup(
    df: DataFrame,
    path: str,
    time_col: str,
    dims: list[str],
    value_col: str,
    grain: str = "day",
    k: int = 200,
) -> None:
    """Materialize per-(grain, dims) KLL quantile sketches of
    ``value_col`` — the mergeable answer to percentiles over rollups,
    the quantile sibling of :func:`build_distinct_rollup`.

    Like COUNT DISTINCT, order statistics are not additive: per-day
    p99s cannot be combined into a monthly p99. Datasketches KLL
    sketches ARE mergeable with a proven rank-error bound (~1.7% of
    rank at k=200, shrinking ~1/k), so one KB-scale sketch per cell
    answers "p99 latency for ANY date range x dims" without ever
    re-reading the fact. ``k`` trades sketch size for rank error; a
    sketch that never fills (n <= k per merged range) is exact.
    """
    if grain not in _GRAIN_FMT:
        raise ValueError(f"grain must be one of {sorted(_GRAIN_FMT)}")
    key = F.date_format(
        F.date_trunc(grain, F.col(time_col)), _GRAIN_FMT[grain]
    ).alias("grain_key")
    (
        df.groupBy(key, *dims)
        .agg(
            F.expr(
                f"kll_sketch_agg_double(cast({value_col} as double), {int(k)})"
            ).alias("sketch")
        )
        .write.mode("overwrite")
        .partitionBy("grain_key")
        .parquet(path)
    )


def estimate_quantiles(
    spark: SparkSession,
    path: str,
    dims: list[str],
    quantiles: list[float],
    start_key: str | None = None,
    end_key: str | None = None,
) -> DataFrame:
    """(dims..., q_<quantile>...) across a grain-key range by folding
    the stored KLL sketches with ``kll_sketch_merge_double`` — Spark
    ships the pairwise merge but no merging AGGREGATE, so the cells
    collect per group (cells are KB-sized and grain-cardinality-many —
    thousands, not fact-sized) and a higher-order ``aggregate`` folds
    them JVM-side. The range filter hits the hive partition column, so
    only the requested grain partitions are scanned."""
    r = spark.read.parquet(path)
    if start_key is not None:
        r = r.filter(F.col("grain_key") >= start_key)
    if end_key is not None:
        r = r.filter(F.col("grain_key") <= end_key)
    merged = r.groupBy(*dims).agg(
        F.expr(
            "aggregate(slice(collect_list(sketch), 2, size(collect_list(sketch)) - 1), "
            "collect_list(sketch)[0], (acc, x) -> kll_sketch_merge_double(acc, x))"
        ).alias("sketch")
    )
    cols = [
        F.expr(f"kll_sketch_get_quantile_double(sketch, cast({q!r} as double))").alias(
            f"q_{str(q).replace('.', '_')}"
        )
        for q in quantiles
    ]
    return merged.select(*dims, *cols)
