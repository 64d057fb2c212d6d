"""Batch ETL orchestrator (SURVEY §3.1, §7.1 step 7).

The reference's ``ingest`` (``/root/reference/src/data_pipeline/
ingestion/wrds_ingestion.py:1022-1249``) is a 17-step sequential pandas
program: every WRDS query materializes in driver memory and every
transform runs single-threaded between the two network boundaries.

Here the same DAG is *lazy DataFrame lineage*: each step composes
transforms from :mod:`..operators`, nothing materializes until the
write actions at the end, and Catalyst fuses scan+filter+project per
output while the independent branches (prices / fundamentals / analyst
/ factors) parallelize across the cluster. Step names, output tables,
manifest shapes, and the data_sources.yml provenance log match the
reference so downstream consumers see an identical layout.

Spark actions are budgeted, because at this data size each job's
fixed cost (planning, AQE re-planning, codegen, scheduling) outweighs
its task time:

- one collect per driver-side dimension: the universe's permnos, the
  CCM links' gvkeys, and the IBES-CRSP mapping, which is collected once
  (:func:`..localframe.localize`) and then feeds both analyst branches'
  ticker lists and broadcast sides without re-running its join;
- one write execution per output, with the row count observed by the
  write itself; independent writes (processed and metadata tables
  together) run concurrently under the caller's job group;
- no read-backs: the field manifest is built from the column names of
  the frames just written, not from their footers.

Overwrite semantics are intentionally preserved: every run recomputes
and overwrites all outputs (SURVEY §7.3 trap 5 — do not silently make
this incremental).

Scale note (100 TB design point): outputs are written as parquet
directories; pass ``partition_by_year=True`` to get year-partitioned,
prunable layouts for the two big facts. The default layout mirrors the
reference (one dataset per ``<name>.parquet`` path) so the handler
contract holds for both.
"""

from __future__ import annotations

import argparse
import logging
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from pathlib import Path

import yaml
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_END, DEFAULT_START, default_data_root, resolve_data_root
from ..operators import (
    clean_dividends,
    cumulative_index,
    dedupe_assets_master,
    dedupe_consensus,
    dedupe_ratings_history,
    delist_adjust,
    drop_duplicates_ordered,
    explode_membership,
    interval_overlap_join,
    melt_factors,
    point_in_time_join,
    risk_free as extract_risk_free,
    trading_calendar,
    with_adj_close,
)
from ..operators.dividends import attach_close_prices
from ..operators.factors import join_momentum
from ..operators.intervals import derive_ibes_coverage
from ..schemas import FIELD_MAP, SCHEMAS
from ..localframe import local_df, localize
from ..session import get_spark
from ..sources.fred import Fetcher, fetch_macro, http_fred_fetcher
from ..sources.wrds import JdbcWrdsSource, WrdsSource

logger = logging.getLogger(__name__)

_CONSENSUS_COLS = [
    "date", "asset_id", "ticker", "mean_rating", "median_rating",
    "stdev_rating", "num_analysts", "buy_percent", "hold_percent",
    "sell_percent", "num_up", "num_down", "usfirm",
    "ibes_official_ticker", "ibes_cusip", "company_name",
]

_HISTORY_COLS = [
    "date", "asset_id", "ticker", "analyst_id", "rating", "action_code",
    "rating_text", "statistic_date",
]

_FUNDA_RAW_COLS = [
    "revt", "sale", "ni", "at", "ceq", "dltt", "pstk", "oancf", "capx", "xrd",
]


def _configure_logging(root: Path) -> Path:
    log_dir = root / "logs"
    log_dir.mkdir(parents=True, exist_ok=True)
    log_path = log_dir / f"ingestion_{datetime.now().strftime('%Y%m%d_%H%M%S')}.log"
    handler = logging.FileHandler(log_path, encoding="utf-8")
    handler.setFormatter(logging.Formatter("%(asctime)s %(levelname)s %(message)s"))
    pkg_logger = logging.getLogger("quantlab_data_pipeline_spark")
    pkg_logger.addHandler(handler)
    pkg_logger.setLevel(logging.INFO)
    return log_path


def _write(
    df: DataFrame,
    path: Path,
    partition_cols: list[str] | None = None,
    single_file: bool = False,
    dynamic: bool = False,
) -> list[str]:
    """Parquet sink (S2): overwrite, logging the row count observed by
    the write job itself (``df.observe`` piggybacks a count on the
    write action — zero extra jobs, unlike a post-write re-read, which
    cost 29 scheduled count jobs per save_raw ingest in round 1).

    ``single_file`` is set for tables that stay small at ANY scale
    (per-day or per-asset dims): 32 shuffle-partition shards of a
    200-row dim is small-file pollution for downstream scans. Facts
    keep their natural parallelism.

    ``dynamic`` (with ``partition_cols``) switches this write to dynamic
    partition overwrite: only the partitions PRESENT in ``df`` are
    replaced, the rest of the table is untouched. This is the
    incremental-update path at 100 TB — re-ingesting one month rewrites
    one year partition, not a 25-year history. It is a per-write
    option, so concurrent writes never see each other's mode.

    Returns the dataset's column names as ``spark.read.parquet(path)``
    reports them: the frame's columns with the partition columns last.
    The field manifest is built from these, not from re-read footers."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if single_file:
        df = df.coalesce(1)
    parts = partition_cols or []
    writer = df.write.mode("overwrite")
    if parts:
        writer = writer.partitionBy(*parts)
        if dynamic:
            writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(str(path))
    logger.info("Wrote %s rows to %s", obs.get["rows"], path)
    return [c for c in df.columns if c not in parts] + parts


def _write_many(jobs: list[tuple], max_parallel: int = 4) -> dict[str, list[str]]:
    """Run independent write actions concurrently: Spark's scheduler
    interleaves jobs submitted from different threads, so N small
    writes overlap instead of paying N sequential job latencies (and on
    a cluster, writes that individually under-utilize executors share
    them). Each pool task runs under the caller's job group and
    description. Exceptions propagate from the pool.

    Returns ``{str(path): written column names}`` (see :func:`_write`)."""

    def one(job: tuple) -> list[str]:
        df, path, kw = job
        return _write(df, path, **kw)

    if max_parallel <= 1 or len(jobs) <= 1:
        names = [one(j) for j in jobs]
    else:
        spark = jobs[0][0].sparkSession
        with ThreadPoolExecutor(max_workers=max_parallel) as ex:
            # One wrapper per job: each copies the caller's local
            # properties, so no two threads share one properties object.
            futures = [
                ex.submit(inheritable_thread_target(spark)(one), j) for j in jobs
            ]
            names = [f.result() for f in futures]
    return {str(path): cols for (_, path, _), cols in zip(jobs, names)}


def _canon(df: DataFrame, table: str) -> DataFrame:
    """Reorder to the registered column order (joins move their keys to
    the front; the on-disk contract follows the schema registry)."""
    names = SCHEMAS[table].names
    return df.select(*names) if set(names) <= set(df.columns) else df


def _ibes_tickers(idxref: DataFrame) -> list[str]:
    """Distinct IBES tickers of the mapping. On the driver-local mapping
    ``ingest`` passes (:func:`..localframe.localize`) this runs no job."""
    return sorted({r["ticker"] for r in idxref.select("ticker").collect()} - {None})


# ----------------------------------------------------------- step builders


def build_assets_master(source: WrdsSource, permnos: list[int]) -> DataFrame:
    """Steps 3: dsenames distinct + IPO enrichment (broadcast left join,
    J11) + ordered dedup to one row per asset (A1)."""
    names = source.stock_names(permnos)
    ipo = source.ipo_dates(permnos)
    enriched = names.join(F.broadcast(ipo), "asset_id", "left")
    return dedupe_assets_master(enriched)


def build_membership(
    universe: DataFrame, calendar: DataFrame, start: str, end: str
) -> DataFrame:
    """Step 4 (W3): interval -> one row per trading day. Intervals are
    clamped to the ingest window *before* exploding so a 1964 listing
    date never generates decades of pre-window rows."""
    clamped = universe.select(
        F.col("permno").alias("asset_id"),
        F.greatest(F.col("start_date").cast("date"), F.lit(start).cast("date")).alias(
            "start_date"
        ),
        F.col("end_date"),
    ).filter(F.col("start_date") <= F.coalesce(F.col("end_date").cast("date"), F.lit(end).cast("date")))
    return explode_membership(
        clamped, calendar, id_col="asset_id", start_col="start_date",
        end_col="end_date", flag_col="in_sp500", clamp_end=end,
    ).select("date", "asset_id", "in_sp500")


def build_idxref(
    source: WrdsSource, permnos: list[int], start: str, end: str
) -> DataFrame:
    """Step 5 (J6 + F1): IBES<->CRSP entity resolution on normalized
    CUSIP-8 with interval intersection.

    Raw tr_ibes.id snapshots first become validity windows
    (derive_ibes_coverage) so a recycled IBES ticker resolves to each
    company only within its own window — the reference's open-ended
    assumption maps it to both companies for all dates."""
    ibes = derive_ibes_coverage(source.ibes_ids(end)).select(
        "ticker", "cusip", "cname",
        F.col("start_date").alias("start_date_ibes"),
        F.col("end_date").alias("end_date_ibes"),
    )
    crsp = source.crsp_cusip_names(permnos, start, end).select(
        "asset_id", "ncusip",
        F.col("start_date").alias("start_date_crsp"),
        F.col("end_date").alias("end_date_crsp"),
    )
    joined = interval_overlap_join(
        ibes, crsp, "cusip", "ncusip",
        "start_date_ibes", "end_date_ibes",
        "start_date_crsp", "end_date_crsp",
        window_start=start, window_end=end,
    )
    mapped = joined.select(
        "asset_id", "ticker",
        F.lit(None).cast("string").alias("ibtic"),
        "cname",
        F.col("valid_start").alias("start_date"),
        F.col("valid_end").alias("end_date"),
    )
    return drop_duplicates_ordered(
        mapped,
        keys=["asset_id", "ticker", "start_date", "end_date"],
        order_cols=["asset_id", "ticker", "start_date", "end_date"],
    )


def build_prices_and_returns(
    source: WrdsSource, assets_master: DataFrame, permnos: list[int], start: str, end: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Step 6: daily price panel + delist-adjusted daily returns.
    Returns (prices, returns_daily, dlret) so raw snapshots can reuse
    the delist frame without re-reading the source."""
    raw = source.daily_prices(permnos, start, end).withColumnRenamed("permno", "asset_id")
    prices = with_adj_close(raw)  # P8
    prices = prices.join(  # J2: broadcast dim join
        F.broadcast(assets_master.select("asset_id", "ticker")), "asset_id", "left"
    )
    returns = prices.select(
        "date", "asset_id", "ticker", F.col("ret").alias("ret_1d")
    )
    dlret = source.delist_events(permnos, start, end)
    returns = delist_adjust(returns, dlret, ret_col="ret_1d")  # P9+J3
    return prices, returns, dlret


def build_fundamentals(
    source: WrdsSource, permnos: list[int], start: str, end: str
) -> DataFrame:
    """Step 7 (J4): CCM point-in-time link join + field-map renames."""
    links = source.ccm_links(permnos, end)
    gvkeys = [r["gvkey"] for r in links.select("gvkey").distinct().collect()]
    funda = source.fundamentals(gvkeys, start, end)
    joined = point_in_time_join(
        funda, links, key="gvkey", as_of_col="datadate",
        valid_from="linkdt", valid_to="linkenddt", how="inner",
    ).drop(links["gvkey"])
    renamed = joined.withColumnsRenamed(
        {"datadate": "report_date", "permno": "asset_id", **FIELD_MAP["fundamentals"]}
    )
    friendly = [FIELD_MAP["fundamentals"].get(c, c) for c in _FUNDA_RAW_COLS]
    return renamed.select("report_date", "asset_id", *friendly)


def build_consensus(
    source: WrdsSource, idxref: DataFrame, start: str, end: str
) -> DataFrame:
    """Step 8 (J7 + A2): IBES summary -> permno with validity window,
    then first-non-null dedup per (date, asset_id). Pass ``idxref``
    localized: its tickers and broadcast side then read driver rows."""
    tickers = _ibes_tickers(idxref)
    if not tickers:
        spark = idxref.sparkSession
        return local_df(spark, [], ", ".join(f"{c} string" for c in _CONSENSUS_COLS))
    recs = source.consensus(tickers, start, end)
    # Only the mapping keys from idxref — its cname would collide with
    # the summary table's own cname (the company_name source).
    mapping = idxref.select("ticker", "asset_id", "start_date", "end_date")
    joined = recs.join(F.broadcast(mapping), "ticker", "left").filter(
        (F.col("statpers") >= F.col("start_date"))
        & (F.col("statpers") <= F.col("end_date"))
    )
    shaped = joined.select(
        F.col("statpers").alias("date"),
        "asset_id",
        "ticker",
        F.col("meanrec").alias("mean_rating"),
        F.col("medrec").alias("median_rating"),
        F.col("stdev").alias("stdev_rating"),
        F.col("numrec").alias("num_analysts"),
        F.col("buypct").alias("buy_percent"),
        F.col("holdpct").alias("hold_percent"),
        F.col("sellpct").alias("sell_percent"),
        F.col("numup").alias("num_up"),
        F.col("numdown").alias("num_down"),
        "usfirm",
        F.col("oftic").alias("ibes_official_ticker"),
        F.col("cusip").alias("ibes_cusip"),
        F.col("cname").alias("company_name"),
    ).na.drop(subset=["date", "asset_id"])
    return dedupe_consensus(shaped).select(*_CONSENSUS_COLS)


def build_ratings_history(
    source: WrdsSource, idxref: DataFrame, start: str, end: str
) -> DataFrame:
    """Step 9 (J8 + A3): analyst-level detail -> permno. The reference's
    candidate-column probing (anndats/statpers, analys/amaskcd, ...)
    becomes explicit coalesces over whichever candidates exist. Pass
    ``idxref`` localized, as for :func:`build_consensus`."""
    tickers = _ibes_tickers(idxref)
    if not tickers:
        spark = idxref.sparkSession
        return local_df(spark, [], ", ".join(f"{c} string" for c in _HISTORY_COLS))
    detail = source.ratings_detail(tickers, start, end)

    def first_present(*names: str) -> F.Column:
        cols = [F.col(n) for n in names if n in detail.columns]
        return F.coalesce(*cols) if cols else F.lit(None)

    align_col = "statpers" if "statpers" in detail.columns else "anndats"
    mapping = idxref.select("ticker", "asset_id", "start_date", "end_date")
    joined = detail.join(F.broadcast(mapping), "ticker", "left").filter(
        (F.col(align_col) >= F.col("start_date"))
        & (F.col(align_col) <= F.col("end_date"))
    )
    shaped = joined.select(
        first_present("anndats_act", "anndats", "statpers", "actdats", "revdats").alias("date"),
        "asset_id",
        "ticker",
        first_present("analys", "amaskcd").cast("long").alias("analyst_id"),
        first_present("ireccd", "rec").cast("double").alias("rating"),
        first_present("ereccd", "actioncode").alias("action_code"),
        first_present("itext", "recdef").alias("rating_text"),
        first_present("statpers", "anndats").alias("statistic_date"),
    ).na.drop(subset=["date", "asset_id"])
    return dedupe_ratings_history(shaped).select(*_HISTORY_COLS)


def build_factors(
    source: WrdsSource, start: str, end: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Step 10 (J9 + W4 + P11): five factors + momentum, melted long and
    scaled percent -> decimal. Returns (factors_long, risk_free, ff_raw).

    Deviation from the reference, on purpose: it divides ``umd`` by 100
    twice (once at wrds_ingestion.py:917 and again in the all-column
    pass at :926), publishing MOM at 1/10000 scale. Every factor here is
    scaled exactly once.
    """
    ff = source.ff_factors(start, end)
    mom = source.ff_momentum(start, end)
    ff_raw = join_momentum(ff, mom)
    factors = melt_factors(ff_raw, scale=100.0)
    rf = extract_risk_free(ff_raw, scale=100.0)
    return factors, rf, ff_raw


def build_benchmark(source: WrdsSource, start: str, end: str) -> DataFrame:
    """Step 12 (W1): S&P 500 return series -> cumulative level index.
    The window is a single global order over one small per-day series
    (one row per trading day), so the unpartitioned sort is benign."""
    bench = source.benchmark(start, end).withColumn("benchmark_name", F.lit("^GSPC"))
    return cumulative_index(bench, ret_col="ret", partition_cols=None).select(
        "date", "benchmark_name", "level", "ret"
    )


def build_monthly_returns(
    source: WrdsSource, permnos: list[int], start: str, end: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Step 13: monthly panel with delist-adjusted ret_1m. Returns
    (returns_monthly, prices_monthly_raw, dlret_monthly)."""
    monthly = source.monthly_prices(permnos, start, end).withColumnRenamed(
        "permno", "asset_id"
    )
    dlret = source.delist_events(permnos, start, end)
    shaped = monthly.select(
        "date", "asset_id", "ret",
        F.col("close").alias("price"), "volume", "shrout",
        F.col("ret").alias("ret_1m"),
    )
    adjusted = delist_adjust(shaped, dlret, ret_col="ret_1m")
    return adjusted, monthly, dlret


def build_dividends(
    source: WrdsSource,
    monthly_prices: DataFrame,
    daily_prices: DataFrame,
    permnos: list[int],
    start: str,
    end: str,
) -> DataFrame:
    """Step 14 (A4 + J10 + P10): per-day dividend aggregation with
    daily-close-preferred price attach and derived yield."""
    div = source.dividends(permnos, start, end)
    priced = attach_close_prices(
        div,
        monthly=monthly_prices.select("asset_id", "date", "close"),
        daily=daily_prices.select("asset_id", "date", "close"),
    )
    cleaned = clean_dividends(priced)
    return cleaned.select(
        "asset_id", "distcd", "divamt", "facpr", "facshr", "date", "close",
        "dividend_yield",
    )


# -------------------------------------------------------------- orchestrator


def ingest(
    root: Path | str | None = None,
    start: str = DEFAULT_START,
    end: str = DEFAULT_END,
    save_raw: bool = False,
    source: WrdsSource | None = None,
    fred_fetcher: Fetcher | None = None,
    spark: SparkSession | None = None,
    partition_by_year: bool = False,
    bucket_facts: bool = False,
) -> Path:
    """Run the 17-step batch ETL and write all canonical outputs under
    the resolved data root. Returns the resolved root.

    ``source`` defaults to :class:`JdbcWrdsSource` (needs WRDS
    credentials + network); inject :class:`~..sources.wrds.
    SyntheticWrdsSource` for offline runs. ``fred_fetcher`` likewise
    defaults to the live FRED API.

    ``partition_by_year=True`` writes the two big facts (prices_daily,
    returns_daily) partitioned on a derived ``year`` column — the
    100 TB layout: a 25-year history splits into ~25 prunable
    partitions, and the handler's date filters prune at the directory
    level before any file is opened. The flat layout stays the default
    for byte-layout parity with the reference.

    ``bucket_facts=True`` additionally saves the two facts as catalog
    tables bucketed+sorted on (asset_id, date): the panel join's
    shuffle is paid once at write time, and
    ``LocalParquetDataHandler.get_prices_with_returns_df`` then plans a
    SortMergeJoin with no Exchange on either side.
    """
    spark = spark or get_spark()
    source = source or JdbcWrdsSource(spark)
    fred = fred_fetcher or http_fred_fetcher()

    total_steps = 17
    steps_done: list[tuple[str, float]] = []

    def start_step(name: str) -> tuple[str, float]:
        logger.info("[%s/%s] %s ...", len(steps_done) + 1, total_steps, name)
        return name, time.time()

    def end_step(token: tuple[str, float]) -> None:
        name, t0 = token
        elapsed = time.time() - t0
        steps_done.append((name, elapsed))
        logger.info("  done: %s (%.1fs)", name, elapsed)

    resolved_root = resolve_data_root(root)
    log_path = _configure_logging(resolved_root)
    logger.info("Logging to %s", log_path)
    processed = resolved_root / "data_processed"
    meta = resolved_root / "data_meta"
    raw_dir = resolved_root / "data_raw"
    reference_dir = resolved_root / "reference"
    for p in (processed, meta, raw_dir, reference_dir):
        p.mkdir(parents=True, exist_ok=True)

    # Steps 1-2: source handle + universe. The permno list is collected
    # driver-side (S&P 500 membership is ~2k ids over all history — a
    # dim, not a fact).
    step = start_step("Connect to source")
    end_step(step)

    step = start_step("Build SP500 universe")
    universe = source.sp500_universe(start, end)
    permnos = sorted(r["permno"] for r in universe.select("permno").distinct().collect())
    end_step(step)

    step = start_step("Build assets master")
    assets_master = build_assets_master(source, permnos)
    end_step(step)

    step = start_step("Build trading calendar and membership")
    calendar = trading_calendar(spark, start, end)
    membership = build_membership(universe, calendar, start, end)
    end_step(step)

    # The mapping is a per-asset dimension read by four actions (two
    # ticker lists, two broadcast joins): run its interval join once.
    step = start_step("Build IBES-CRSP mapping (CUSIP)")
    idxref = localize(build_idxref(source, permnos, start, end))
    end_step(step)

    step = start_step("Download daily prices/returns")
    prices, returns, dlret_daily = build_prices_and_returns(
        source, assets_master, permnos, start, end
    )
    end_step(step)

    step = start_step("Download fundamentals")
    fundamentals = build_fundamentals(source, permnos, start, end)
    end_step(step)

    step = start_step("Download analyst consensus")
    consensus = build_consensus(source, idxref, start, end)
    end_step(step)

    step = start_step("Download analyst rating history")
    ratings = build_ratings_history(source, idxref, start, end)
    end_step(step)

    step = start_step("Download style factors and risk-free")
    factors, rf, ff_raw = build_factors(source, start, end)
    end_step(step)

    step = start_step("Download macro series")
    macro = fetch_macro(spark, start, end, fetcher=fred)
    end_step(step)

    step = start_step("Download benchmark")
    benchmark = build_benchmark(source, start, end)
    end_step(step)

    step = start_step("Download monthly prices/returns")
    returns_monthly, prices_monthly, dlret_monthly = build_monthly_returns(
        source, permnos, start, end
    )
    end_step(step)

    step = start_step("Download dividends")
    dividends = build_dividends(source, prices_monthly, prices, permnos, start, end)
    end_step(step)

    written: dict[str, list[str]] = {}
    step = start_step("Write raw snapshots" if save_raw else "Skip raw snapshots")
    if save_raw:
        written.update(_write_many([
            (prices, raw_dir / "prices_raw.parquet", {}),
            (universe, raw_dir / "sp500_membership_raw.parquet", {}),
            (assets_master, raw_dir / "assets_master_raw.parquet", {}),
            (fundamentals, raw_dir / "fundamentals_raw.parquet", {}),
            (idxref, raw_dir / "ibes_idxref_raw.parquet", {"single_file": True}),
            (consensus, raw_dir / "analyst_consensus_raw.parquet", {}),
            (ratings, raw_dir / "analyst_ratings_history_raw.parquet", {}),
            (ff_raw, raw_dir / "style_factors_raw.parquet", {}),
            (macro, raw_dir / "macro_raw.parquet", {}),
            (benchmark, raw_dir / "benchmark_raw.parquet", {}),
            (prices_monthly, raw_dir / "prices_monthly_raw.parquet", {}),
            (dlret_daily, raw_dir / "dlret_daily_raw.parquet", {}),
            (dlret_monthly, raw_dir / "dlret_monthly_raw.parquet", {}),
            (dividends, raw_dir / "dividends_monthly_raw.parquet", {}),
        ]))
    end_step(step)

    step = start_step("Write processed datasets")
    if partition_by_year:
        year_cols = ["year"]
        prices_out = _canon(prices, "prices_daily").withColumn("year", F.year("date"))
        returns_out = _canon(returns, "returns_daily").withColumn("year", F.year("date"))
    else:
        year_cols = None
        prices_out = _canon(prices, "prices_daily")
        returns_out = _canon(returns, "returns_daily")
    universe_out = _canon(
        membership.withColumnRenamed("in_sp500", "in_universe"), "universe_sp500"
    )
    written.update(_write_many([
        (prices_out, processed / "prices_daily.parquet", {"partition_cols": year_cols}),
        (returns_out, processed / "returns_daily.parquet", {"partition_cols": year_cols}),
        (_canon(membership, "sp500_membership"), processed / "sp500_membership.parquet", {}),
        (_canon(fundamentals, "fundamentals_quarterly"), processed / "fundamentals_quarterly.parquet", {}),
        (_canon(consensus, "analyst_consensus"), processed / "analyst_consensus.parquet", {}),
        (_canon(ratings, "analyst_ratings_history"), processed / "analyst_ratings_history.parquet", {}),
        (_canon(macro, "macro_timeseries"), processed / "macro_timeseries.parquet", {"single_file": True}),
        (_canon(rf, "risk_free"), processed / "risk_free.parquet", {"single_file": True}),
        (_canon(factors, "style_factor_returns"), processed / "style_factor_returns.parquet", {"single_file": True}),
        (_canon(benchmark, "benchmarks"), processed / "benchmarks.parquet", {"single_file": True}),
        (_canon(returns_monthly, "returns_monthly"), processed / "returns_monthly.parquet", {}),
        (_canon(dividends, "dividends_monthly"), processed / "dividends_monthly.parquet", {}),
        (_canon(assets_master, "assets_master"), meta / "assets_master.parquet", {"single_file": True}),
        (universe_out, meta / "universe_sp500.parquet", {}),
        (_canon(calendar, "trading_calendar"), meta / "trading_calendar.parquet", {"single_file": True}),
    ]))
    from ..storage.bucketing import root_scoped_table, write_bucketed

    for df_, base in (
        (_canon(prices, "prices_daily"), "prices_daily_bucketed"),
        (_canon(returns, "returns_daily"), "returns_daily_bucketed"),
    ):
        table = root_scoped_table(base, resolved_root)
        if bucket_facts:
            write_bucketed(
                df_, table, ["asset_id", "date"],
                sort_cols=["asset_id", "date"],
                path=processed / base,
            )
        else:
            # A re-ingest without bucketing must not leave a previous
            # run's bucketed tables serving stale data for this root.
            spark.sql(f"DROP TABLE IF EXISTS {table}")
    end_step(step)

    step = start_step("Write metadata and manifests")
    provenance = {
        "ingested_at_utc": datetime.now(timezone.utc).isoformat(),
        "params": {
            "start": start, "end": end,
            "source": source.source_tag(), "save_raw": save_raw,
        },
        "datasets": {
            "prices_daily": {"source": "wrds_crsp_dsf", "path": str(processed / "prices_daily.parquet")},
            "returns_daily": {"source": "wrds_crsp_dsf_ret", "path": str(processed / "returns_daily.parquet")},
            "returns_monthly": {"source": "wrds_crsp_msf_ret_dlret", "path": str(processed / "returns_monthly.parquet")},
            "dividends_monthly": {"source": "wrds_crsp_msedist", "path": str(processed / "dividends_monthly.parquet")},
            "fundamentals_quarterly": {"source": "wrds_comp_funda", "path": str(processed / "fundamentals_quarterly.parquet")},
            "analyst_consensus": {"source": "wrds_tr_ibes_recdsum", "path": str(processed / "analyst_consensus.parquet")},
            "analyst_ratings_history": {"source": "wrds_det_rec", "path": str(processed / "analyst_ratings_history.parquet")},
            "macro_timeseries": {"source": "fred_api", "path": str(processed / "macro_timeseries.parquet")},
            "risk_free": {"source": "wrds_ff_factors_daily_rf", "path": str(processed / "risk_free.parquet")},
            "style_factor_returns": {"source": "wrds_ff_all_factors_daily", "path": str(processed / "style_factor_returns.parquet")},
            "benchmarks": {"source": "wrds_crsp_dsp500", "path": str(processed / "benchmarks.parquet")},
            "sp500_membership": {"source": "wrds_crsp_dsp500list", "path": str(processed / "sp500_membership.parquet")},
            "assets_master": {"source": "wrds_crsp_dsenames", "path": str(meta / "assets_master.parquet")},
            "universe_sp500": {"source": "wrds_crsp_dsp500list", "path": str(meta / "universe_sp500.parquet")},
            "trading_calendar": {"source": "business_day_generated", "path": str(meta / "trading_calendar.parquet")},
            "raw": {
                name: str(raw_dir / f"{name}.parquet") if save_raw else None
                for name in (
                    "prices_raw", "sp500_membership_raw", "assets_master_raw",
                    "fundamentals_raw", "ibes_idxref_raw", "analyst_consensus_raw",
                    "analyst_ratings_history_raw", "style_factors_raw", "macro_raw",
                    "benchmark_raw", "prices_monthly_raw", "dlret_daily_raw",
                    "dlret_monthly_raw", "dividends_monthly_raw",
                )
            },
        },
    }
    with (meta / "data_sources.yml").open("w", encoding="utf-8") as fh:
        yaml.safe_dump(provenance, fh)

    # Every dataset was written above: its columns are known without
    # reading a footer back.
    manifest: list[dict] = []
    for name, info in provenance["datasets"].items():
        if name == "raw":
            entries = [
                (raw_name, "raw", "raw_snapshot", raw_path)
                for raw_name, raw_path in info.items() if raw_path
            ]
        else:
            entries = [(name, "processed", info["source"], info["path"])]
        for dataset, kind, src, path in entries:
            manifest.extend(
                {"dataset": dataset, "type": kind, "source": src, "path": path, "column": col}
                for col in written[path]
            )

    with (meta / "field_manifest.yml").open("w", encoding="utf-8") as fh:
        yaml.safe_dump(manifest, fh)
    import csv

    fieldnames = ["dataset", "type", "source", "path", "column"]
    for csv_path in (meta / "field_manifest.csv", reference_dir / "field_manifest.csv"):
        with csv_path.open("w", encoding="utf-8", newline="") as fh:
            writer = csv.DictWriter(fh, fieldnames=fieldnames)
            writer.writeheader()
            writer.writerows(manifest)
    end_step(step)

    total = sum(t for _, t in steps_done)
    logger.info(
        "Done in %.1fs. Steps: %s",
        total,
        ", ".join(f"{n} {t:.1f}s" for n, t in steps_done),
    )
    return resolved_root


def update_facts(
    root: Path | str | None,
    start: str,
    end: str,
    source: WrdsSource | None = None,
    spark: SparkSession | None = None,
) -> Path:
    """Incremental refresh of the two big facts for [start, end].

    Rebuilds prices_daily/returns_daily for the window only and
    dynamically overwrites just the year partitions the window touches;
    every other year's files are left byte-identical. At 100 TB this is
    the nightly-update path: appending one month rewrites one ~year
    partition instead of the whole 25-year history (the reference — and
    ``ingest`` — always rewrite everything).

    Requires a root previously ingested with ``partition_by_year=True``
    (the facts must be year-partitioned for partition-scoped overwrite
    to have partitions to scope to).
    """
    spark = spark or get_spark()
    source = source or JdbcWrdsSource(spark)
    resolved_root = resolve_data_root(root)
    processed = resolved_root / "data_processed"
    universe = source.sp500_universe(start, end)
    permnos = sorted(
        r["permno"] for r in universe.select("permno").distinct().collect()
    )
    assets_master = build_assets_master(source, permnos)
    prices, returns, _ = build_prices_and_returns(
        source, assets_master, permnos, start, end
    )
    for df_, name in ((prices, "prices_daily"), (returns, "returns_daily")):
        out = _canon(df_, name).withColumn("year", F.year("date"))
        _write(
            out, processed / f"{name}.parquet",
            partition_cols=["year"], dynamic=True,
        )
    logger.info("Incrementally updated facts for [%s, %s] at %s", start, end, resolved_root)
    return resolved_root


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        description="Ingest the canonical datasets into local Parquet."
    )
    parser.add_argument("--root", type=Path, default=default_data_root())
    parser.add_argument("--start", type=str, default=DEFAULT_START)
    parser.add_argument("--end", type=str, default=DEFAULT_END)
    parser.add_argument("--save-raw", action="store_true")
    parser.add_argument(
        "--synthetic", action="store_true",
        help="Use the deterministic offline source instead of WRDS/FRED.",
    )
    parser.add_argument(
        "--validate", action="store_true",
        help="Run post-ingest data-quality validation and fail on violations.",
    )
    return parser.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    logging.basicConfig(level=logging.INFO)
    spark = get_spark()
    if args.synthetic:
        from ..sources.fred import synthetic_fred_fetcher
        from ..sources.wrds import SyntheticWrdsSource

        root = ingest(
            args.root, args.start, args.end, save_raw=args.save_raw,
            source=SyntheticWrdsSource(spark),
            fred_fetcher=synthetic_fred_fetcher(), spark=spark,
        )
    else:
        root = ingest(
            args.root, args.start, args.end, save_raw=args.save_raw, spark=spark
        )
    if args.validate:
        from ..validation import validate_outputs

        validate_outputs(
            root, spark, start=args.start, end=args.end, raise_on_failure=True
        )
        logger.info("Validation clean: all datasets pass quality checks.")


if __name__ == "__main__":
    main()
