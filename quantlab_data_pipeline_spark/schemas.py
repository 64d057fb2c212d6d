"""Fixed schema registry and catalog of every canonical dataset.

The reference infers schemas on read (pandas); here every table gets an
explicit ``StructType`` so Parquet scans are schema'd, pruned, and never
re-inferred. Column lists follow the reference's output catalog
(``/root/reference/src/data_pipeline/ingestion/wrds_ingestion.py:1135-1153``
and ``reference/field_manifest.csv``). All columns nullable, matching the
reference's tolerance for missing fields.

Each dataset is declared once, next to its schema (:data:`CATALOG`):
the directory it lives under, the source its provenance names, the
columns that identify a row (its key, SURVEY §1.4) and whether it is
written as a single file. Ingest writes, types, dedups and records the
tables from it, the handler reads and sorts from it and validation
audits from it. Two things are derived, not declared: the columns the
handler reads as timestamps are the schema's ``DateType`` fields, and
a table's time axis is the ``DateType`` column of its key.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# Open-ended interval sentinel (the reference uses pd.Timestamp.max, whose
# nanosecond value can overflow Arrow/Spark conversion — use a far date).
OPEN_END_DATE = "9999-12-31"


def _struct(cols: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype, True) for name, dtype in cols])


_D = T.DateType()
_S = T.StringType()
_L = T.LongType()
_F = T.DoubleType()
_B = T.BooleanType()

#: Directories under a data root, as the reference lays them out.
PROCESSED_DIR, META_DIR, RAW_DIR = "data_processed", "data_meta", "data_raw"


def parquet_path(directory: str, name: str) -> str:
    """Path of dataset ``name`` under ``directory``, relative to the data
    root: what the manifests record."""
    return f"{directory}/{name}.parquet"


@dataclass(frozen=True)
class Dataset:
    """One canonical table. ``key`` is the columns that identify a row;
    ``single_file`` is set for tables that stay small at any scale
    (per-day or per-asset dims)."""

    name: str
    source: str
    key: tuple[str, ...]
    schema: T.StructType
    dir: str = PROCESSED_DIR
    single_file: bool = False

    @property
    def path(self) -> str:
        return parquet_path(self.dir, self.name)

    @property
    def date_cols(self) -> list[str]:
        return [f.name for f in self.schema.fields if isinstance(f.dataType, T.DateType)]

    @property
    def time_col(self) -> str | None:
        """The key's date column: what a date window filters on."""
        return next((c for c in self.key if c in self.date_cols), None)


# The dataset catalog, in the order ingest writes and records it. Each
# entry is the only place that says where the table lives, which source
# its provenance names, what identifies a row, which columns it is
# written with and whether it is written as one file.
CATALOG: dict[str, Dataset] = {d.name: d for d in (
    Dataset("prices_daily", "wrds_crsp_dsf", ("date", "asset_id"), _struct([
        ("date", _D), ("asset_id", _L), ("open", _F), ("high", _F),
        ("low", _F), ("close", _F), ("cfacpr", _F), ("ret", _F),
        ("shrout", _F), ("volume", _F), ("adj_close", _F), ("ticker", _S),
    ])),
    Dataset("returns_daily", "wrds_crsp_dsf_ret", ("date", "asset_id"), _struct([
        ("date", _D), ("asset_id", _L), ("ticker", _S), ("ret_1d", _F),
    ])),
    Dataset("returns_monthly", "wrds_crsp_msf_ret_dlret", ("date", "asset_id"), _struct([
        ("date", _D), ("asset_id", _L), ("ret", _F), ("price", _F),
        ("volume", _F), ("shrout", _F), ("ret_1m", _F),
    ])),
    Dataset("dividends_monthly", "wrds_crsp_msedist", ("asset_id", "date"), _struct([
        ("asset_id", _L), ("distcd", _S), ("divamt", _F), ("facpr", _F),
        ("facshr", _F), ("date", _D), ("close", _F), ("dividend_yield", _F),
    ])),
    Dataset("fundamentals_quarterly", "wrds_comp_funda", ("report_date", "asset_id"), _struct([
        ("report_date", _D), ("asset_id", _L), ("revenue", _F), ("sales", _F),
        ("net_income", _F), ("total_assets", _F), ("common_equity", _F),
        ("total_debt_long_term", _F), ("preferred_stock", _F),
        ("cash_flow_from_operations", _F), ("capital_expenditures", _F),
        ("research_and_development", _F),
    ])),
    Dataset("analyst_consensus", "wrds_tr_ibes_recdsum", ("date", "asset_id"), _struct([
        ("date", _D), ("asset_id", _L), ("ticker", _S), ("mean_rating", _F),
        ("median_rating", _F), ("stdev_rating", _F), ("num_analysts", _L),
        ("buy_percent", _F), ("hold_percent", _F), ("sell_percent", _F),
        ("num_up", _L), ("num_down", _L), ("usfirm", _L),
        ("ibes_official_ticker", _S), ("ibes_cusip", _S), ("company_name", _S),
    ])),
    Dataset("analyst_ratings_history", "wrds_det_rec",
            ("date", "asset_id", "analyst_id"), _struct([
        ("date", _D), ("asset_id", _L), ("ticker", _S), ("analyst_id", _L),
        ("rating", _F), ("action_code", _S), ("rating_text", _S),
        ("statistic_date", _D),
    ])),
    Dataset("macro_timeseries", "fred_api", ("date", "series_name"), _struct([
        ("date", _D), ("series_name", _S), ("value", _F),
    ]), single_file=True),
    Dataset("risk_free", "wrds_ff_factors_daily_rf", ("date",), _struct([
        ("date", _D), ("rf", _F),
    ]), single_file=True),
    Dataset("style_factor_returns", "wrds_ff_all_factors_daily", ("date", "factor_name"), _struct([
        ("date", _D), ("factor_name", _S), ("ret", _F),
    ]), single_file=True),
    Dataset("benchmarks", "wrds_crsp_dsp500", ("date", "benchmark_name"), _struct([
        ("date", _D), ("benchmark_name", _S), ("level", _F), ("ret", _F),
    ]), single_file=True),
    Dataset("sp500_membership", "wrds_crsp_dsp500list", ("date", "asset_id"), _struct([
        ("date", _D), ("asset_id", _L), ("in_sp500", _B),
    ])),
    Dataset("assets_master", "wrds_crsp_dsenames", ("asset_id",), _struct([
        ("asset_id", _L), ("ticker", _S), ("first_date", _D),
        ("last_date", _D), ("ipodate", _D),
    ]), META_DIR, single_file=True),
    Dataset("universe_sp500", "wrds_crsp_dsp500list", ("date", "asset_id"), _struct([
        ("date", _D), ("asset_id", _L), ("in_universe", _B),
    ]), META_DIR),
    Dataset("trading_calendar", "business_day_generated", ("date",), _struct([
        ("date", _D), ("is_trading_day", _B),
    ]), META_DIR, single_file=True),
)}

SCHEMAS: dict[str, T.StructType] = {name: d.schema for name, d in CATALOG.items()}

# WRDS mnemonic -> friendly-name map (reference config/wrds_field_map.yml).
FIELD_MAP: dict[str, dict[str, str]] = {
    "fundamentals": {
        "revt": "revenue",
        "ni": "net_income",
        "at": "total_assets",
        "ceq": "common_equity",
        "dltt": "total_debt_long_term",
        "oancf": "cash_flow_from_operations",
        "capx": "capital_expenditures",
        "pstk": "preferred_stock",
        "xrd": "research_and_development",
        "sale": "sales",
    }
}

