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

The resolution also records whether the table is small: on-disk size
at or below ``spark.sql.files.openCostInBytes`` (taken from the scan's
plan statistics, no job). A getter whose tables are all small returns
its frame ``coalesce(1)``'d as its last step, so a global ``orderBy``
on it (``_finish``, or a caller's) is a local sort over one partition:
one Spark job, where a range exchange costs a sampling job, a
shuffle-map stage and a result stage. Large tables keep their parallel
scan and range sort. The coalesce is never put on the shared scan (a
one-partition join side would drop the sort-merge join's Exchange) nor
on the bucketed prices-returns join.
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
from ..schemas import CATALOG, FIELD_MAP, META_DIR, PROCESSED_DIR
from ..session import get_spark

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
        processed_dir: str = PROCESSED_DIR,
        meta_dir: str = META_DIR,
        spark: SparkSession | None = None,
        field_map_path: Path | str | None = None,
    ):
        root = resolve_data_root(data_root)
        super().__init__(root)
        self.spark = spark or get_spark()
        self.processed_path = (root / processed_dir).resolve()
        self.meta_path = (root / meta_dir).resolve()
        # catalog directory -> where this handler reads it
        self._dirs = {PROCESSED_DIR: self.processed_path, META_DIR: self.meta_path}
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
        ds = CATALOG[table]
        return self._dirs[ds.dir] / Path(ds.path).name

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

    def _resolved_scan(self, table: str) -> tuple[DataFrame, bool]:
        """The table's scan and whether the table is small, both
        resolved once per path stamp (:meth:`_resolved`).

        Small means an on-disk size at or below
        ``spark.sql.files.openCostInBytes``, the size below which Spark
        itself does not give a file its own split. The size is the
        scan's plan statistic, read from the file listing the scan
        already made: no job.
        """

        def build(path: Path) -> tuple[DataFrame, bool]:
            raw = self.spark.read.parquet(str(path))
            size = raw._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            limit = self.spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
            return self._normalize_dates(raw, table), size <= limit

        return self._resolved("scan", table, build)

    def _scan(self, table: str) -> DataFrame:
        """Schema'd lazy scan with date-column normalization to timestamp.

        Timestamps (not DateType) are used so ``toPandas()`` yields
        datetime64[ns] columns exactly like the reference's
        ``pd.to_datetime`` post-parse.

        Never coalesced here: a one-partition scan would satisfy the
        sort-merge join's distribution and drop its Exchange.
        """
        return self._resolved_scan(table)[0]

    def _sized(self, df: DataFrame, *tables: str) -> DataFrame:
        """``df`` as one partition when it reads tables and every one of
        them is small.

        Applied last, after every filter, projection, rename and join,
        so the frame reports ``SinglePartition``: a global ``orderBy``
        on it then plans a local sort, with no range exchange and no
        sampling job.
        """
        if tables and all(self._resolved_scan(t)[1] for t in tables):
            return df.coalesce(1)
        return df

    @staticmethod
    def _normalize_dates(df: DataFrame, table: str) -> DataFrame:
        """Cast the dataset's ``DateType`` columns to timestamp so every
        read path — parquet scan or bucketed catalog table — yields the
        same schema (and ``toPandas()`` the same datetime64[ns] as the
        reference)."""
        for col in CATALOG[table].date_cols:
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
        col: str,
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

    def _narrow(
        self,
        df: DataFrame,
        table: str,
        tickers: AssetLike | None,
        start_date: DateLike | None,
        end_date: DateLike | None,
    ) -> DataFrame:
        """``df`` (read from ``table``) kept to the tickers' assets and
        to the window on the table's time column, with the layout's
        ``year`` column dropped."""
        ids = self._tickers_to_asset_ids(tickers) if tickers else None
        df = self._filter_assets(df, ids)
        df = self._filter_dates(df, start_date, end_date, CATALOG[table].time_col)
        if "year" in df.columns:
            df = df.drop("year")  # layout detail, not part of the dataset
        return df

    def _panel_query(
        self,
        table: str,
        tickers: AssetLike | None,
        start_date: DateLike | None,
        end_date: DateLike | None,
        fields: Optional[list[str]] = None,
        mandatory: Optional[list[str]] = None,
        renames: Optional[dict[str, str]] = None,
    ) -> DataFrame:
        df = self._narrow(self._scan(table), table, tickers, start_date, end_date)
        if fields is not None and mandatory is not None:
            df = self._filter_fields(df, fields, mandatory)
        if renames:
            df = df.withColumnsRenamed({k: v for k, v in renames.items() if k in df.columns})
        return self._sized(df, table)

    @staticmethod
    def _finish(df: DataFrame, table: str) -> pd.DataFrame:
        """``df`` as pandas, sorted by ``table``'s catalog key."""
        return df.orderBy(*CATALOG[table].key).toPandas()

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
        return self._sized(df, "universe_sp500")

    def get_fundamentals_df(self, tickers=None, start_date=None, end_date=None) -> DataFrame:
        return self._panel_query(
            "fundamentals_quarterly", tickers, start_date, end_date,
            renames=self._field_map.get("fundamentals"),
        )

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
            # Bucketed facts are written for panels big enough to want
            # the co-partitioned join run in parallel: never coalesced.
            tables: tuple[str, ...] = ()
        else:
            prices = self._scan("prices_daily")
            returns = self._scan("returns_daily")
            tables = ("prices_daily", "returns_daily")
        joined = prices.join(
            returns.select("asset_id", "date", "ret_1d"),
            ["asset_id", "date"],
            "left",
        )
        # Normalize after the join so both physical paths return the
        # same schema (timestamp dates, like every other getter).
        joined = self._normalize_dates(joined, "prices_daily")
        joined = self._narrow(joined, "prices_daily", tickers, start_date, end_date)
        return self._sized(joined, *tables)

    def get_macro_df(self, start_date=None, end_date=None) -> DataFrame:
        return self._panel_query("macro_timeseries", None, start_date, end_date)

    def get_style_factor_returns_df(self, start_date=None, end_date=None) -> DataFrame:
        return self._panel_query("style_factor_returns", None, start_date, end_date)

    def get_benchmark_returns_df(self, benchmark: str, start_date=None, end_date=None) -> DataFrame:
        df = self._scan("benchmarks")
        if "benchmark_name" not in df.columns:
            # Back-compat: older files may name the series column "ticker".
            if "ticker" in df.columns:
                df = df.withColumnRenamed("ticker", "benchmark_name")
            else:
                df = df.withColumn("benchmark_name", F.lit(benchmark))
        df = df.filter(F.col("benchmark_name") == benchmark)
        df = self._narrow(df, "benchmarks", None, start_date, end_date)
        return self._sized(df, "benchmarks")

    # -------------------------------------------------- pandas (API parity)
    # Each sorted by its table's catalog key.

    def get_prices(self, tickers, start_date=None, end_date=None, fields=None) -> pd.DataFrame:
        return self._finish(
            self.get_prices_df(tickers, start_date, end_date, fields), "prices_daily"
        )

    def get_returns(self, tickers, start_date=None, end_date=None) -> pd.DataFrame:
        return self._finish(self.get_returns_df(tickers, start_date, end_date), "returns_daily")

    def get_universe(self, date=None) -> pd.DataFrame:
        return self._finish(self.get_universe_df(date), "universe_sp500")

    def get_fundamentals(self, tickers, start_date=None, end_date=None) -> pd.DataFrame:
        return self._finish(
            self.get_fundamentals_df(tickers, start_date, end_date), "fundamentals_quarterly"
        )

    def get_analyst_consensus(self, tickers, start_date=None, end_date=None, fields=None) -> pd.DataFrame:
        return self._finish(
            self.get_analyst_consensus_df(tickers, start_date, end_date, fields),
            "analyst_consensus",
        )

    def get_analyst_ratings_history(self, tickers, start_date=None, end_date=None, fields=None) -> pd.DataFrame:
        return self._finish(
            self.get_analyst_ratings_history_df(tickers, start_date, end_date, fields),
            "analyst_ratings_history",
        )

    def get_macro(self, start_date=None, end_date=None) -> pd.DataFrame:
        return self._finish(self.get_macro_df(start_date, end_date), "macro_timeseries")

    def get_style_factor_returns(self, start_date=None, end_date=None) -> pd.DataFrame:
        return self._finish(
            self.get_style_factor_returns_df(start_date, end_date), "style_factor_returns"
        )

    def get_benchmark_returns(self, benchmark: str, start_date=None, end_date=None) -> pd.DataFrame:
        return self._finish(
            self.get_benchmark_returns_df(benchmark, start_date, end_date), "benchmarks"
        )
