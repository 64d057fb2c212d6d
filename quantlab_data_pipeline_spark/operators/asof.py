"""As-of (backward) join — the time-series operator every quant stack
needs and the reference approximates with validity-window joins
(SURVEY §2 J7/J8 are as-of-shaped: value applies until superseded).

Implemented as the union + ordered-window pattern, NOT a range join:

1. tag right rows 0 and left rows 1, union on the key columns + event
   time;
2. one shuffle partitions by key and sorts by (ts, side) — a right row
   at the same timestamp sorts before the left row, so "as of" is
   backward-inclusive;
3. ``last(payload, ignorenulls=True)`` over the running window carries
   the most recent right payload forward;
4. keep only left rows.

Cost: ONE shuffle of |left| + |right| rows and no join blowup — a
range-condition join would force a per-key cross product filtered
after the fact, which is quadratic in events-per-key. This shape holds
at 100 TB: the shuffle is keyed, AQE handles skewed keys, and the
window is a single ordered pass per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    prefix: str = "asof_",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For each left row, attach the nearest right row by event time
    with the same key columns ``on``.

    ``direction="backward"`` (default) attaches the most recent right
    row at or before the left timestamp; ``direction="forward"``
    attaches the earliest right row at or after it (both inclusive,
    pandas ``merge_asof`` semantics). ``tolerance_seconds`` nulls the
    attached payload when the time gap exceeds it — applied AFTER the
    single-shuffle window pass, so the tolerance is a cheap projection,
    never a join predicate that would force a range join.

    ``right_cols`` are the right-side payload columns to carry (default:
    everything except keys and timestamp). Output = all left columns +
    ``<prefix><right_ts>`` + ``<prefix><col>`` for each payload column,
    null when no right row qualifies.
    """
    if direction not in {"backward", "forward"}:
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in {*on, right_ts}]

    payload = F.struct(
        F.col(right_ts).alias(f"{prefix}{right_ts}"),
        *[F.col(c).alias(f"{prefix}{c}") for c in right_cols],
    )
    # Pin tie semantics: if several right rows share (keys, ts), the
    # lexicographically largest payload tuple wins. Without this the
    # window's `last` over equal sort keys is shuffle-order-dependent.
    r = (
        right.select(*on, F.col(right_ts).alias("__ts"), payload.alias("__p"))
        .groupBy(*on, "__ts")
        .agg(F.max("__p").alias("__payload"))
        .withColumn("__side", F.lit(0))
    )
    l = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))

    unioned = l.unionByName(r, allowMissingColumns=True)
    # Forward = the same running-window pass traversed in reverse time
    # order; at equal timestamps the right row (side 0) still sorts
    # before the left row, keeping "as of" inclusive in both directions.
    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(*on)
        .orderBy(ts_order, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumn(
        "__asof", F.last("__payload", ignorenulls=True).over(w)
    )
    if tolerance_seconds is not None:
        # cast("double") is seconds-since-epoch for timestamps and the
        # identity for numeric time axes, so the tolerance is "same
        # units as the ts column" (seconds when it's a timestamp).
        matched = F.col("__asof")[f"{prefix}{right_ts}"].cast("double")
        own = F.col("__ts").cast("double")
        gap = own - matched if direction == "backward" else matched - own
        filled = filled.withColumn(
            "__asof",
            F.when(gap <= F.lit(float(tolerance_seconds)), F.col("__asof")),
        )
    out_cols = [*left.columns]
    asof_fields = [f"{prefix}{right_ts}", *[f"{prefix}{c}" for c in right_cols]]
    return filled.filter(F.col("__side") == 1).select(
        *out_cols, *[F.col("__asof")[f].alias(f) for f in asof_fields]
    )

