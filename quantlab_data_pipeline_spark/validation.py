"""Post-ingest data-quality validation.

The reference trusts its outputs (no checks anywhere); a pipeline
feeding a 100 TB research stack cannot. ``validate_outputs`` audits
every canonical dataset in ONE Spark job per table — each check is an
aggregate expression, so the table is scanned once no matter how many
checks run:

- primary-key uniqueness (each table's catalog key, SURVEY §1.4)
- non-null key columns
- the key's date column inside the ingest window
- domain checks (returns > -1, non-negative volume/shrout, bool flags)

Returns a list of failure dicts (empty = clean); ``raise_on_failure``
turns them into one ValidationError for pipeline gating.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import CATALOG

# (table, column) -> lower bound is exclusive -1 (a return of -100% is
# a data error in CRSP-shaped data; delist-adjusted can touch -1 only
# when dlret=-1, which the synthetic source never emits).
_RET_COLS = {
    "prices_daily": ["ret"],
    "returns_daily": ["ret_1d"],
    "returns_monthly": ["ret", "ret_1m"],
    "benchmarks": ["ret"],
}
_NON_NEGATIVE = {
    "prices_daily": ["volume", "shrout"],
    "returns_monthly": ["volume", "shrout"],
}


class ValidationError(RuntimeError):
    pass


def validate_table(
    df: DataFrame,
    table: str,
    start: str | None = None,
    end: str | None = None,
) -> list[dict]:
    """All checks for one table in a single aggregate pass."""
    keys, dcol = CATALOG[table].key, CATALOG[table].time_col
    aggs = [
        F.count(F.lit(1)).alias("__rows"),
        F.count_distinct(*[F.col(k) for k in keys]).alias("__distinct_keys"),
        *[F.sum(F.col(k).isNull().cast("long")).alias(f"__null_{k}") for k in keys],
    ]
    if dcol and start:
        aggs.append(
            F.sum((F.col(dcol) < F.lit(start).cast("date")).cast("long")).alias("__before")
        )
    if dcol and end:
        aggs.append(
            F.sum((F.col(dcol) > F.lit(end).cast("date")).cast("long")).alias("__after")
        )
    for c in _RET_COLS.get(table, []):
        aggs.append(F.sum((F.col(c) <= -1.0).cast("long")).alias(f"__badret_{c}"))
    for c in _NON_NEGATIVE.get(table, []):
        aggs.append(F.sum((F.col(c) < 0).cast("long")).alias(f"__neg_{c}"))

    row = df.agg(*aggs).collect()[0].asDict()
    failures: list[dict] = []

    def fail(check: str, detail: str) -> None:
        failures.append({"table": table, "check": check, "detail": detail})

    if row["__rows"] == 0:
        fail("non_empty", "table has 0 rows")
        return failures
    if row["__distinct_keys"] != row["__rows"]:
        fail(
            "unique_key",
            f"{row['__rows'] - row['__distinct_keys']} duplicate rows on {list(keys)}",
        )
    for k in keys:
        if row[f"__null_{k}"]:
            fail("non_null_key", f"{row[f'__null_{k}']} null values in key column {k}")
    if row.get("__before"):
        fail("date_window", f"{row['__before']} rows before {start}")
    if row.get("__after"):
        fail("date_window", f"{row['__after']} rows after {end}")
    for c in _RET_COLS.get(table, []):
        if row.get(f"__badret_{c}"):
            fail("return_domain", f"{row[f'__badret_{c}']} rows with {c} <= -1")
    for c in _NON_NEGATIVE.get(table, []):
        if row.get(f"__neg_{c}"):
            fail("non_negative", f"{row[f'__neg_{c}']} rows with negative {c}")
    return failures


def validate_outputs(
    root: Path | str,
    spark: SparkSession,
    start: str | None = None,
    end: str | None = None,
    raise_on_failure: bool = False,
) -> list[dict]:
    """Validate every canonical dataset under an ingest root."""
    root = Path(root)
    failures: list[dict] = []
    for table, ds in CATALOG.items():
        path = root / ds.path
        if not path.exists():
            failures.append(
                {"table": table, "check": "exists", "detail": f"missing {path}"}
            )
            continue
        df = spark.read.parquet(str(path))
        failures.extend(validate_table(df, table, start=start, end=end))
    if failures and raise_on_failure:
        lines = "; ".join(f"{f['table']}.{f['check']}: {f['detail']}" for f in failures)
        raise ValidationError(lines)
    return failures
