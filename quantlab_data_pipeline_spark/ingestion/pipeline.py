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

What is written where, with which columns and types, and the key each
analyst table is deduplicated on come from the dataset catalog
(:data:`..schemas.CATALOG`). The manifests record each path relative
to the data root, so a moved or copied root keeps manifests that
describe it; the ingest log names the absolute path of each write.

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
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
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
    dedupe_first_non_null,
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
from ..schemas import (
    CATALOG, FIELD_MAP, META_DIR, PROCESSED_DIR, RAW_DIR, SCHEMAS, parquet_path,
)
from ..localframe import local_df, localize
from ..session import get_spark
from ..sources.fred import Fetcher, fetch_macro, http_fred_fetcher
from ..sources.wrds import JdbcWrdsSource, WrdsSource

logger = logging.getLogger(__name__)

# The two big facts: year-partitioned by ``partition_by_year``, saved
# bucketed by ``bucket_facts`` and refreshed by ``update_facts``.
_FACTS = ("prices_daily", "returns_daily")

# Concurrent write actions in :func:`_write_many`.
_WRITE_THREADS = 4


@contextmanager
def _ingest_log(root: Path) -> Iterator[Path]:
    """Copy the package's log lines into a new ``logs/ingestion_*.log``
    under ``root`` until the block exits."""
    log_dir = root / "logs"
    log_dir.mkdir(parents=True, exist_ok=True)
    log_path = log_dir / f"ingestion_{datetime.now().strftime('%Y%m%d_%H%M%S')}.log"
    handler = logging.FileHandler(log_path, encoding="utf-8")
    handler.setFormatter(logging.Formatter("%(asctime)s %(levelname)s %(message)s"))
    pkg_logger = logging.getLogger("quantlab_data_pipeline_spark")
    pkg_logger.addHandler(handler)
    pkg_logger.setLevel(logging.INFO)
    try:
        yield log_path
    finally:
        pkg_logger.removeHandler(handler)
        handler.close()


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


def _write_many(root: Path, jobs: dict[str, tuple[DataFrame, dict]]) -> dict[str, list[str]]:
    """Run independent write actions concurrently: Spark's scheduler
    interleaves jobs submitted from different threads, so N small
    writes overlap instead of paying N sequential job latencies (and on
    a cluster, writes that individually under-utilize executors share
    them). Each pool task runs under the caller's job group and
    description. Exceptions propagate from the pool.

    ``jobs`` maps a path relative to ``root`` to its frame and
    :func:`_write` options. Returns ``{relative path: written column
    names}`` (see :func:`_write`)."""
    items = list(jobs.items())
    spark = items[0][1][0].sparkSession

    def one(item: tuple[str, tuple[DataFrame, dict]]) -> list[str]:
        rel, (df, kw) = item
        return _write(df, root / rel, **kw)

    with ThreadPoolExecutor(max_workers=_WRITE_THREADS) as ex:
        # One wrapper per job: each copies the caller's local
        # properties, so no two threads share one properties object.
        futures = [ex.submit(inheritable_thread_target(spark)(one), i) for i in items]
        return {rel: f.result() for (rel, _), f in zip(items, futures)}


def _canon(df: DataFrame, table: str) -> DataFrame:
    """The table as the catalog declares it: its columns in the
    catalog's order (joins move their keys to the front), each cast to
    its declared type (a degraded source's empty frames carry their
    own). A cast to the type a column already has is removed by the
    optimizer. Raises ``ValueError`` on a missing column."""
    schema = SCHEMAS[table]
    missing = [c for c in schema.names if c not in df.columns]
    if missing:
        raise ValueError(f"{table} lacks catalog columns {missing}")
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])


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
    ).select(*SCHEMAS["sp500_membership"].names)


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
    source: WrdsSource,
    assets_master: DataFrame,
    dlret: DataFrame,
    permnos: list[int],
    start: str,
    end: str,
) -> tuple[DataFrame, DataFrame]:
    """Step 6: daily price panel + returns delist-adjusted by ``dlret``
    (the source's ``delist_events``). Returns (prices, returns_daily)."""
    raw = source.daily_prices(permnos, start, end).withColumnRenamed("permno", "asset_id")
    prices = with_adj_close(raw)  # P8
    prices = prices.join(  # J2: broadcast dim join
        F.broadcast(assets_master.select("asset_id", "ticker")), "asset_id", "left"
    )
    returns = prices.select(
        "date", "asset_id", "ticker", F.col("ret").alias("ret_1d")
    )
    returns = delist_adjust(returns, dlret, ret_col="ret_1d")  # P9+J3
    return prices, returns


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
    return renamed.select(*SCHEMAS["fundamentals_quarterly"].names)


def build_consensus(
    source: WrdsSource, idxref: DataFrame, start: str, end: str
) -> DataFrame:
    """Step 8 (J7 + A2): IBES summary -> permno with validity window,
    then first-non-null dedup per catalog key. Pass ``idxref``
    localized: its tickers and broadcast side then read driver rows."""
    ds = CATALOG["analyst_consensus"]
    tickers = _ibes_tickers(idxref)
    if not tickers:
        return local_df(idxref.sparkSession, [], ds.schema)
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
    return dedupe_first_non_null(shaped, ds.key, "date").select(*ds.schema.names)


def build_ratings_history(
    source: WrdsSource, idxref: DataFrame, start: str, end: str
) -> DataFrame:
    """Step 9 (J8 + A3): analyst-level detail -> permno. The reference's
    candidate-column probing (anndats/statpers, analys/amaskcd, ...)
    becomes explicit coalesces over whichever candidates exist. Pass
    ``idxref`` localized, as for :func:`build_consensus`."""
    ds = CATALOG["analyst_ratings_history"]
    tickers = _ibes_tickers(idxref)
    if not tickers:
        return local_df(idxref.sparkSession, [], ds.schema)
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
    return dedupe_first_non_null(shaped, ds.key, "date").select(*ds.schema.names)


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
    level = cumulative_index(bench, ret_col="ret", partition_cols=None)
    return level.select(*SCHEMAS["benchmarks"].names)


def build_monthly_returns(
    source: WrdsSource, dlret: DataFrame, permnos: list[int], start: str, end: str
) -> tuple[DataFrame, DataFrame]:
    """Step 13: monthly panel with ret_1m delist-adjusted by ``dlret``.
    Returns (returns_monthly, prices_monthly_raw)."""
    monthly = source.monthly_prices(permnos, start, end).withColumnRenamed(
        "permno", "asset_id"
    )
    shaped = monthly.select(
        "date", "asset_id", "ret",
        F.col("close").alias("price"), "volume", "shrout",
        F.col("ret").alias("ret_1m"),
    )
    adjusted = delist_adjust(shaped, dlret, ret_col="ret_1m")
    return adjusted, monthly


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
    return clean_dividends(priced).select(*SCHEMAS["dividends_monthly"].names)


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
    with _ingest_log(resolved_root) as log_path:
        logger.info("Logging to %s", log_path)
        meta, reference_dir = resolved_root / META_DIR, resolved_root / "reference"
        for p in (resolved_root / PROCESSED_DIR, meta, resolved_root / RAW_DIR, reference_dir):
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
        # One read of the delist events adjusts both return panels.
        dlret = source.delist_events(permnos, start, end)
        prices, returns = build_prices_and_returns(
            source, assets_master, dlret, permnos, start, end
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
        returns_monthly, prices_monthly = build_monthly_returns(
            source, dlret, permnos, start, end
        )
        end_step(step)

        step = start_step("Download dividends")
        dividends = build_dividends(source, prices_monthly, prices, permnos, start, end)
        end_step(step)

        tables = {
            "prices_daily": prices,
            "returns_daily": returns,
            "returns_monthly": returns_monthly,
            "dividends_monthly": dividends,
            "fundamentals_quarterly": fundamentals,
            "analyst_consensus": consensus,
            "analyst_ratings_history": ratings,
            "macro_timeseries": macro,
            "risk_free": rf,
            "style_factor_returns": factors,
            "benchmarks": benchmark,
            "sp500_membership": membership,
            "assets_master": assets_master,
            "universe_sp500": membership.withColumnRenamed("in_sp500", "in_universe"),
            "trading_calendar": calendar,
        }
        raw = {
            "prices_raw": prices,
            "sp500_membership_raw": universe,
            "assets_master_raw": assets_master,
            "fundamentals_raw": fundamentals,
            "ibes_idxref_raw": idxref,
            "analyst_consensus_raw": consensus,
            "analyst_ratings_history_raw": ratings,
            "style_factors_raw": ff_raw,
            "macro_raw": macro,
            "benchmark_raw": benchmark,
            "prices_monthly_raw": prices_monthly,
            "dlret_daily_raw": dlret,
            "dlret_monthly_raw": dlret,
            "dividends_monthly_raw": dividends,
        }
        raw_paths = {name: parquet_path(RAW_DIR, name) if save_raw else None for name in raw}

        written: dict[str, list[str]] = {}
        step = start_step("Write raw snapshots" if save_raw else "Skip raw snapshots")
        if save_raw:
            # The localized IBES mapping would otherwise write one file per
            # local partition.
            written.update(_write_many(resolved_root, {
                raw_paths[name]: (df, {"single_file": name == "ibes_idxref_raw"})
                for name, df in raw.items()
            }))
        end_step(step)

        step = start_step("Write processed datasets")
        jobs = {}
        for name, ds in CATALOG.items():
            df, kw = _canon(tables[name], name), {"single_file": ds.single_file}
            if partition_by_year and name in _FACTS:
                df, kw = df.withColumn("year", F.year("date")), {"partition_cols": ["year"]}
            jobs[ds.path] = (df, kw)
        written.update(_write_many(resolved_root, jobs))
        from ..storage.bucketing import root_scoped_table, write_bucketed

        for name in _FACTS:
            base = f"{name}_bucketed"
            table = root_scoped_table(base, resolved_root)
            if bucket_facts:
                write_bucketed(
                    _canon(tables[name], name), table, ["asset_id", "date"],
                    sort_cols=["asset_id", "date"],
                    path=resolved_root / PROCESSED_DIR / base,
                )
            else:
                # A re-ingest without bucketing must not leave a previous
                # run's bucketed tables serving stale data for this root.
                spark.sql(f"DROP TABLE IF EXISTS {table}")
        end_step(step)

        step = start_step("Write metadata and manifests")
        # Paths are relative to the data root, so a moved or copied root
        # keeps manifests that describe it.
        provenance = {
            "ingested_at_utc": datetime.now(timezone.utc).isoformat(),
            "params": {
                "start": start, "end": end,
                "source": source.source_tag(), "save_raw": save_raw,
            },
            "datasets": {
                **{name: {"source": ds.source, "path": ds.path} for name, ds in CATALOG.items()},
                "raw": raw_paths,
            },
        }
        with (meta / "data_sources.yml").open("w", encoding="utf-8") as fh:
            yaml.safe_dump(provenance, fh)

        # Every dataset was written above: its columns are known without
        # reading a footer back.
        entries = [(name, "processed", ds.source, ds.path) for name, ds in CATALOG.items()]
        entries += [(name, "raw", "raw_snapshot", path) for name, path in raw_paths.items() if path]
        manifest = [
            {"dataset": dataset, "type": kind, "source": src, "path": path, "column": col}
            for dataset, kind, src, path in entries
            for col in written[path]
        ]

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
    universe = source.sp500_universe(start, end)
    permnos = sorted(
        r["permno"] for r in universe.select("permno").distinct().collect()
    )
    assets_master = build_assets_master(source, permnos)
    prices, returns = build_prices_and_returns(
        source, assets_master, source.delist_events(permnos, start, end),
        permnos, start, end,
    )
    for name, df_ in zip(_FACTS, (prices, returns)):
        out = _canon(df_, name).withColumn("year", F.year("date"))
        _write(
            out, resolved_root / CATALOG[name].path,
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
