"""Spark-backed ``LocalParquetDataHandler``.

Behavioral parity with
``/root/reference/src/data_pipeline/storage/parquet.py:13-204``, with the
read path restructured for Catalyst: each getter declares one lazy plan
(scan -> semi-filter -> range filter -> projection) so predicate pushdown
and column pruning reach the Parquet reader, instead of the reference's
load-everything-then-filter-in-memory anti-pattern.

Error contracts preserved:
- missing dataset          -> FileNotFoundError (parquet.py:43-44)
- unknown ticker           -> ValueError        (parquet.py:63-65)
- requested field missing  -> ValueError        (parquet.py:83-85)

Public ``get_*`` methods return pandas (drop-in for the reference);
``get_*_df`` variants return the lazy Spark DataFrame for composition.

Each table is resolved once per handler: the first read of a table
lists its files and infers its schema (a Spark job), later reads reuse
that scan. A resolution is keyed on the dataset path's modification
stamp (inode + mtime), so a re-ingest into the same root — which
replaces the path — is picked up by the next read. The driver-side
assets dimension (the ticker map) follows the same rule.
"""

from __future__ import annotations

from pathlib import Path
from typing import Callable, Optional, TypeVar

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import resolve_data_root
from ..interfaces import AssetLike, DataHandler, DateLike
from ..schemas import FIELD_MAP
from ..session import get_spark

# Columns parsed as datetimes per dataset (reference parse_dates= lists).
_DATE_COLS: dict[str, list[str]] = {
    "prices_daily": ["date"],
    "returns_daily": ["date"],
    "returns_monthly": ["date"],
    "fundamentals_quarterly": ["report_date"],
    "analyst_consensus": ["date"],
    "analyst_ratings_history": ["date", "statistic_date"],
    "macro_timeseries": ["date"],
    "style_factor_returns": ["date"],
    "benchmarks": ["date"],
    "risk_free": ["date"],
    "sp500_membership": ["date"],
    "dividends_monthly": ["date"],
    "assets_master": ["first_date", "last_date", "ipodate"],
    "universe_sp500": ["date"],
    "trading_calendar": ["date"],
}

_META_TABLES = {"assets_master", "universe_sp500", "trading_calendar"}

_T = TypeVar("_T")


class LocalParquetDataHandler(DataHandler):
    """Local parquet-backed implementation of :class:`DataHandler` on Spark.

    Accepts both single-file ``<table>.parquet`` layouts (what the
    reference writes) and Spark-style ``<table>.parquet/`` directories
    (what :mod:`..ingestion` writes), so either backend's output is
    readable.
    """

    def __init__(
        self,
        data_root: Path | str | None = None,
        processed_dir: str = "data_processed",
        meta_dir: str = "data_meta",
        spark: SparkSession | None = None,
        field_map_path: Path | str | None = None,
    ):
        root = resolve_data_root(data_root)
        super().__init__(root)
        self.spark = spark or get_spark()
        self.processed_path = (root / processed_dir).resolve()
        self.meta_path = (root / meta_dir).resolve()
        # (kind, table) -> (path stamp, resolved value); see _resolved
        self._resolutions: dict[tuple[str, str], tuple[tuple[int, int], object]] = {}
        self._field_map = self._load_field_mapping(field_map_path)

    @staticmethod
    def _load_field_mapping(
        override: Path | str | None = None,
    ) -> dict[str, dict[str, str]]:
        """Reload ``config/wrds_field_map.yml`` at construction, like
        the reference (parquet.py:34-40), so files written by *other*
        tools with edited mappings re-rename at read time. Falls back to
        the built-in ``schemas.FIELD_MAP`` when no YAML is present."""
        import yaml

        path = (
            Path(override)
            if override is not None
            else Path(__file__).resolve().parents[2] / "config" / "wrds_field_map.yml"
        )
        if not path.exists():
            return FIELD_MAP
        data = yaml.safe_load(path.read_text()) or {}
        return {section: mapping or {} for section, mapping in data.items()}

    # ------------------------------------------------------------------ scan

    def _dataset_path(self, table: str) -> Path:
        base = self.meta_path if table in _META_TABLES else self.processed_path
        return base / f"{table}.parquet"

    def _resolved(self, kind: str, table: str, build: Callable[[Path], _T]) -> _T:
        """``build(path)`` for ``table``, reused while the dataset path
        keeps its stamp. An overwrite deletes and recreates the path (a
        dynamic partition overwrite renames entries inside it), so the
        stamp changes and the next call resolves again."""
        path = self._dataset_path(table)
        try:
            st = path.stat()
        except FileNotFoundError:
            raise FileNotFoundError(f"Missing dataset at {path}") from None
        stamp = (st.st_ino, st.st_mtime_ns)
        hit = self._resolutions.get((kind, table))
        if hit is None or hit[0] != stamp:
            hit = (stamp, build(path))
            self._resolutions[(kind, table)] = hit
        return hit[1]

    def _scan(self, table: str) -> DataFrame:
        """Schema'd lazy scan with date-column normalization to timestamp,
        resolved once per path stamp (:meth:`_resolved`).

        Timestamps (not DateType) are used so ``toPandas()`` yields
        datetime64[ns] columns exactly like the reference's
        ``pd.to_datetime`` post-parse.
        """
        return self._resolved(
            "scan", table,
            lambda path: self._normalize_dates(self.spark.read.parquet(str(path)), table),
        )

    @staticmethod
    def _normalize_dates(df: DataFrame, table: str) -> DataFrame:
        """Cast declared date columns to timestamp so every read path —
        parquet scan or bucketed catalog table — yields the same schema
        (and ``toPandas()`` the same datetime64[ns] as the reference)."""
        for col in _DATE_COLS.get(table, []):
            if col in df.columns and not isinstance(
                df.schema[col].dataType, T.TimestampType
            ):
                df = df.withColumn(col, F.col(col).cast("timestamp"))
        return df

    # ------------------------------------------------------- dim-table cache

    def _ticker_map(self) -> dict[str, int]:
        """Driver-side ticker -> asset_id map of the small assets dimension.

        Collected to the driver (it is a ~10k-row dim even at full scale)
        to keep the reference's eager ``ValueError`` contract for unknown
        tickers — a lazy join cannot raise at call time. Re-collected when
        the table is rewritten (:meth:`_resolved`).
        """

        def collect(_path: Path) -> dict[str, int]:
            assets = self._scan("assets_master").select("ticker", "asset_id").toPandas()
            return {t: int(a) for t, a in zip(assets["ticker"], assets["asset_id"])}

        return self._resolved("tickers", "assets_master", collect)

    def _tickers_to_asset_ids(self, tickers: AssetLike | None) -> list[int]:
        if tickers is None:
            return []
        mapping = self._ticker_map()
        missing = [t for t in tickers if t not in mapping]
        if missing:
            raise ValueError(f"Tickers not found in assets_master: {missing}")
        return [mapping[t] for t in tickers]

    # ----------------------------------------------------------- pure pieces

    @staticmethod
    def _filter_dates(
        df: DataFrame,
        start_date: DateLike | None,
        end_date: DateLike | None,
        col: str = "date",
    ) -> DataFrame:
        if col not in df.columns:
            return df
        # Year-partitioned layout (ingest partition_by_year=True): add
        # the equivalent predicate on the partition column so Catalyst
        # prunes whole year directories before opening any file.
        partitioned = "year" in df.columns
        if start_date:
            df = df.filter(F.col(col) >= F.to_timestamp(F.lit(str(start_date))))
            if partitioned:
                df = df.filter(F.col("year") >= int(str(start_date)[:4]))
        if end_date:
            df = df.filter(F.col(col) <= F.to_timestamp(F.lit(str(end_date))))
            if partitioned:
                df = df.filter(F.col("year") <= int(str(end_date)[:4]))
        return df

    @staticmethod
    def _filter_fields(
        df: DataFrame, fields: Optional[list[str]], mandatory: list[str]
    ) -> DataFrame:
        if not fields:
            return df
        keep = list(dict.fromkeys(mandatory + fields))
        missing = [f for f in keep if f not in df.columns]
        if missing:
            raise ValueError(f"Requested fields missing from dataset: {missing}")
        return df.select(*keep)

    @staticmethod
    def _filter_assets(df: DataFrame, asset_ids: list[int] | None) -> DataFrame:
        if asset_ids:
            # Small driver-side list -> IN-list predicate, pushed to the scan.
            df = df.filter(F.col("asset_id").isin(asset_ids))
        return df

    def _panel_query(
        self,
        table: str,
        tickers: AssetLike | None,
        start_date: DateLike | None,
        end_date: DateLike | None,
        fields: Optional[list[str]] = None,
        mandatory: Optional[list[str]] = None,
        date_col: str = "date",
    ) -> DataFrame:
        df = self._scan(table)
        ids = self._tickers_to_asset_ids(tickers) if tickers else None
        df = self._filter_assets(df, ids)
        df = self._filter_dates(df, start_date, end_date, col=date_col)
        if "year" in df.columns:
            df = df.drop("year")  # layout detail, not part of the dataset
        if fields is not None and mandatory is not None:
            df = self._filter_fields(df, fields, mandatory)
        return df

    @staticmethod
    def _finish(df: DataFrame, sort_keys: list[str]) -> pd.DataFrame:
        return df.orderBy(*sort_keys).toPandas()

    # ---------------------------------------------------------- lazy getters

    def get_prices_df(self, tickers=None, start_date=None, end_date=None, fields=None) -> DataFrame:
        return self._panel_query(
            "prices_daily", tickers, start_date, end_date,
            fields=fields, mandatory=["date", "asset_id", "ticker"],
        )

    def get_returns_df(self, tickers=None, start_date=None, end_date=None) -> DataFrame:
        return self._panel_query("returns_daily", tickers, start_date, end_date)

    def get_universe_df(self, date=None) -> DataFrame:
        df = self._scan("universe_sp500")
        if date:
            df = df.filter(F.col("date") == F.to_timestamp(F.lit(str(date))))
        return df

    def get_fundamentals_df(self, tickers=None, start_date=None, end_date=None) -> DataFrame:
        df = self._panel_query(
            "fundamentals_quarterly", tickers, start_date, end_date,
            date_col="report_date",
        )
        mapping = {
            k: v for k, v in self._field_map.get("fundamentals", {}).items()
            if k in df.columns
        }
        return df.withColumnsRenamed(mapping) if mapping else df

    def get_analyst_consensus_df(self, tickers=None, start_date=None, end_date=None, fields=None) -> DataFrame:
        return self._panel_query(
            "analyst_consensus", tickers, start_date, end_date,
            fields=fields, mandatory=["date", "asset_id", "ticker"],
        )

    def get_analyst_ratings_history_df(self, tickers=None, start_date=None, end_date=None, fields=None) -> DataFrame:
        return self._panel_query(
            "analyst_ratings_history", tickers, start_date, end_date,
            fields=fields, mandatory=["date", "asset_id", "ticker"],
        )

    def get_prices_with_returns_df(
        self, tickers=None, start_date=None, end_date=None
    ) -> DataFrame:
        """Daily price panel joined with delist-adjusted returns on
        (asset_id, date) — the canonical fact-fact join.

        When the ingest saved bucketed fact tables
        (``ingest(bucket_facts=True)``), both sides read co-located,
        pre-sorted buckets and the SortMergeJoin plans with NO Exchange
        — at 100 TB that shuffle is the join's dominant cost and was
        paid once at write time. Falls back to the parquet scans (plus
        a runtime shuffle) when the bucketed tables are absent.
        """
        from .bucketing import bucketed_join_ready, read_table, root_scoped_table

        # Table names are scoped to this handler's data root — a global
        # name would serve one root's buckets to every handler in the
        # session.
        p_table = root_scoped_table("prices_daily_bucketed", self.data_root)
        r_table = root_scoped_table("returns_daily_bucketed", self.data_root)
        if bucketed_join_ready(self.spark, p_table, r_table):
            # Read raw: casting the date key BEFORE the join would
            # change the join expression and forfeit the bucket
            # co-partitioning (an Exchange would reappear).
            prices = read_table(self.spark, p_table)
            returns = read_table(self.spark, r_table)
        else:
            prices = self._scan("prices_daily")
            returns = self._scan("returns_daily")
        joined = prices.join(
            returns.select("asset_id", "date", "ret_1d"),
            ["asset_id", "date"],
            "left",
        )
        # Normalize after the join so both physical paths return the
        # same schema (timestamp dates, like every other getter).
        joined = self._normalize_dates(joined, "prices_daily")
        ids = self._tickers_to_asset_ids(tickers) if tickers else None
        joined = self._filter_assets(joined, ids)
        joined = self._filter_dates(joined, start_date, end_date)
        return joined.drop("year") if "year" in joined.columns else joined

    def get_macro_df(self, start_date=None, end_date=None) -> DataFrame:
        return self._filter_dates(self._scan("macro_timeseries"), start_date, end_date)

    def get_style_factor_returns_df(self, start_date=None, end_date=None) -> DataFrame:
        return self._filter_dates(self._scan("style_factor_returns"), start_date, end_date)

    def get_benchmark_returns_df(self, benchmark: str, start_date=None, end_date=None) -> DataFrame:
        df = self._scan("benchmarks")
        if "benchmark_name" not in df.columns:
            # Back-compat: older files may name the series column "ticker".
            if "ticker" in df.columns:
                df = df.withColumnRenamed("ticker", "benchmark_name")
            else:
                df = df.withColumn("benchmark_name", F.lit(benchmark))
        df = df.filter(F.col("benchmark_name") == benchmark)
        return self._filter_dates(df, start_date, end_date)

    # -------------------------------------------------- pandas (API parity)

    def get_prices(self, tickers, start_date=None, end_date=None, fields=None) -> pd.DataFrame:
        return self._finish(
            self.get_prices_df(tickers, start_date, end_date, fields),
            ["date", "asset_id"],
        )

    def get_returns(self, tickers, start_date=None, end_date=None) -> pd.DataFrame:
        return self._finish(
            self.get_returns_df(tickers, start_date, end_date), ["date", "asset_id"]
        )

    def get_universe(self, date=None) -> pd.DataFrame:
        return self._finish(self.get_universe_df(date), ["date", "asset_id"])

    def get_fundamentals(self, tickers, start_date=None, end_date=None) -> pd.DataFrame:
        return self._finish(
            self.get_fundamentals_df(tickers, start_date, end_date),
            ["report_date", "asset_id"],
        )

    def get_analyst_consensus(self, tickers, start_date=None, end_date=None, fields=None) -> pd.DataFrame:
        return self._finish(
            self.get_analyst_consensus_df(tickers, start_date, end_date, fields),
            ["date", "asset_id"],
        )

    def get_analyst_ratings_history(self, tickers, start_date=None, end_date=None, fields=None) -> pd.DataFrame:
        return self._finish(
            self.get_analyst_ratings_history_df(tickers, start_date, end_date, fields),
            ["date", "asset_id"],
        )

    def get_macro(self, start_date=None, end_date=None) -> pd.DataFrame:
        return self._finish(self.get_macro_df(start_date, end_date), ["date", "series_name"])

    def get_style_factor_returns(self, start_date=None, end_date=None) -> pd.DataFrame:
        return self._finish(
            self.get_style_factor_returns_df(start_date, end_date),
            ["date", "factor_name"],
        )

    def get_benchmark_returns(self, benchmark: str, start_date=None, end_date=None) -> pd.DataFrame:
        return self._finish(
            self.get_benchmark_returns_df(benchmark, start_date, end_date), ["date"]
        )
