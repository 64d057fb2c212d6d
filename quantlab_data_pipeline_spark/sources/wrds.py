"""WRDS source adapters (SURVEY §2 S3, §7.1 step 6).

The reference ships 14 SQL strings to a WRDS Postgres server through a
single driver-side connection and pulls every result fully into driver
memory (``/root/reference/src/data_pipeline/ingestion/wrds_ingestion.py``,
queries cited per method below). Here the raw-input surface is an
abstract :class:`WrdsSource` contract so the ingest DAG is testable
offline:

- :class:`JdbcWrdsSource` — Spark JDBC reads. Date-range and equality
  predicates stay in the pushdown ``query`` (server-side filtering, like
  the reference); big facts (daily prices) read in parallel with
  ``partitionColumn=date`` so a 1000-executor cluster fans the scan out
  instead of funneling through one connection. Permno IN-lists are NOT
  string-spliced into SQL (the reference's ``_sql_list`` at
  ``wrds_ingestion.py:24-28`` is injection-prone); membership filtering
  happens Spark-side via a broadcast semi-join.
- :class:`SyntheticWrdsSource` — deterministic generated raw frames with
  the exact WRDS column shapes, for offline ingest tests. Covers the
  reference's edge cases: ticker changes over time, delistings,
  open-ended link intervals, duplicate consensus rows, CUSIPs with
  punctuation.

Every method returns a *raw-shaped* Spark DataFrame; all normalization
(renames, derived columns, dedup) happens downstream in
:mod:`..ingestion.pipeline` so raw snapshots stay faithful.
"""

from __future__ import annotations

import abc
import datetime as _dt
import logging
import re
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..localframe import local_df

_log = logging.getLogger(__name__)


class WrdsSource(abc.ABC):
    """Raw-input contract for the ingest DAG.

    Column shapes mirror the WRDS tables the reference queries; see each
    method's docstring for the source table and reference citation.
    """

    @abc.abstractmethod
    def sp500_universe(self, start: str, end: str) -> DataFrame:
        """crsp.dsp500list -> (permno, start_date, end_date)
        (wrds_ingestion.py:108-116)."""

    @abc.abstractmethod
    def stock_names(self, permnos: Sequence[int]) -> DataFrame:
        """crsp.dsenames -> (asset_id, ticker, first_date, last_date)
        distinct (wrds_ingestion.py:119-129)."""

    @abc.abstractmethod
    def ipo_dates(self, permnos: Sequence[int]) -> DataFrame:
        """ccmxpf_linktable x g_company -> (asset_id, ipodate) distinct
        (wrds_ingestion.py:132-152). May return an empty frame (the
        reference degrades when the table is absent)."""

    @abc.abstractmethod
    def daily_prices(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        """crsp.dsf -> (date, permno, open, high, low, close, cfacpr,
        ret, shrout, volume) (wrds_ingestion.py:169-189)."""

    @abc.abstractmethod
    def monthly_prices(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        """crsp.msf -> (date, permno, close, ret, volume, shrout)
        (wrds_ingestion.py:192-207)."""

    @abc.abstractmethod
    def delist_events(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        """crsp.StkDelists -> (asset_id, date, dlret)
        (wrds_ingestion.py:326-437; the reference's delret->dlret rename
        is part of this contract)."""

    @abc.abstractmethod
    def dividends(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        """crsp.msedist -> (asset_id, distcd, divamt, facpr, facshr,
        date) (wrds_ingestion.py:210-227)."""

    @abc.abstractmethod
    def ccm_links(self, permnos: Sequence[int], end: str) -> DataFrame:
        """crsp.ccmxpf_linktable -> (gvkey, permno, linkdt, linkenddt),
        linktype LU/LC, linkprim P/C (wrds_ingestion.py:483-493)."""

    @abc.abstractmethod
    def fundamentals(self, gvkeys: Sequence[str], start: str, end: str) -> DataFrame:
        """comp.funda -> (gvkey, datadate, revt, sale, ni, at, ceq,
        dltt, pstk, oancf, capx, xrd), INDL/STD/D/C filters
        (wrds_ingestion.py:495-513)."""

    @abc.abstractmethod
    def ibes_ids(self, end: str) -> DataFrame:
        """RAW tr_ibes.id snapshot rows -> (ticker, cusip, cname,
        start_date, end_date) with end_date null
        (wrds_ingestion.py:558-585). The pipeline derives validity
        windows from consecutive snapshots per ticker
        (operators.intervals.derive_ibes_coverage) — tighter than the
        reference's open-ended assumption, which mis-maps recycled
        tickers to every company they ever named."""

    @abc.abstractmethod
    def crsp_cusip_names(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        """crsp.dsenames -> (asset_id, ncusip, start_date, end_date),
        ncusip not null (wrds_ingestion.py:586-604)."""

    @abc.abstractmethod
    def consensus(self, tickers: Sequence[str], start: str, end: str) -> DataFrame:
        """tr_ibes.recdsum -> (statpers, ticker, oftic, cusip, cname,
        buypct, holdpct, sellpct, meanrec, medrec, stdev, numup,
        numdown, numrec, usfirm) (wrds_ingestion.py:683-726)."""

    @abc.abstractmethod
    def ratings_detail(self, tickers: Sequence[str], start: str, end: str) -> DataFrame:
        """tr_ibes.recddet -> analyst-level detail with (ticker,
        anndats, analys, ireccd, ereccd, itext, statpers)
        (wrds_ingestion.py:793-860)."""

    @abc.abstractmethod
    def ff_factors(self, start: str, end: str) -> DataFrame:
        """ff_all.fivefactors_daily -> (date, mktrf, smb, hml, rmw,
        cma, rf), percent units (wrds_ingestion.py:895-922)."""

    @abc.abstractmethod
    def ff_momentum(self, start: str, end: str) -> DataFrame:
        """ff_all.factors_daily -> (date, umd), percent units
        (wrds_ingestion.py:912-916)."""

    @abc.abstractmethod
    def benchmark(self, start: str, end: str) -> DataFrame:
        """crsp.dsp500 -> (date, ret) value-weighted S&P 500 return
        (wrds_ingestion.py:984-1001)."""

    def source_tag(self) -> str:
        """Provenance tag recorded in data_sources.yml."""
        return type(self).__name__


# --------------------------------------------------------------------- JDBC


_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _sql_date(value: str) -> str:
    """Validate a date literal before it is interpolated into WRDS SQL.

    The reference splices dates into f-strings unchecked; here anything
    that is not a strict YYYY-MM-DD fails fast instead of reaching the
    server (the IN-list splicing, the worse injection vector, is already
    replaced by :func:`_semi_filter`)."""
    if not _DATE_RE.match(value):
        raise ValueError(f"not a YYYY-MM-DD date literal: {value!r}")
    return value


def _semi_filter(df: DataFrame, col: str, values: Sequence) -> DataFrame:
    """Membership filter without SQL string-splicing: tiny lists become
    an IN predicate (pushed to the JDBC scan by Catalyst); larger ones a
    broadcast left-semi join."""
    vals = list(values)
    if len(vals) <= 1000:
        return df.filter(F.col(col).isin(vals))
    key = T.StructType([T.StructField(col, df.schema[col].dataType)])
    ids = local_df(df.sparkSession, [(v,) for v in vals], key)
    return df.join(F.broadcast(ids), col, "left_semi")


class JdbcWrdsSource(WrdsSource):
    """WRDS over Spark JDBC.

    Each method reads with a pushdown ``query`` carrying the date-range
    and equality predicates server-side (the reference does the same in
    its SQL strings); permno/ticker membership is applied Spark-side via
    :func:`_semi_filter`. The daily-price fact — the only input that is
    big at the 100 TB design point — reads in parallel partitioned on
    ``date`` so the scan fans out across executors.

    Live coverage in this environment: every generated query (and the
    full candidate/degrade ladder of ``_probe_read``) executes against
    a real local PostgreSQL 15 server loaded with a WRDS-shaped fixture
    schema — see ``tests/test_wrds_live_pg.py``, which swaps only the
    transport (``psql --csv`` instead of ``spark.read.format("jdbc")``)
    because the image ships no postgresql JDBC driver jar. The Spark
    JDBC *transport* layer itself (fetchsize, date partitioning bounds)
    therefore remains exercised only by the offline pytests; with a
    vendored driver jar it would run unchanged.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str = "jdbc:postgresql://wrds-pgdata.wharton.upenn.edu:9737/wrds",
        user: str | None = None,
        password: str | None = None,
        fetch_partitions: int = 32,
    ):
        self.spark = spark
        self.url = url
        self.user = user
        self.password = password
        self.fetch_partitions = fetch_partitions

    def _read(self, query: str, partition_on_date: tuple[str, str] | None = None) -> DataFrame:
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("fetchsize", 10_000)
        )
        if self.user:
            reader = reader.option("user", self.user).option("password", self.password or "")
        if not partition_on_date:
            return reader.option("query", query).load()
        lo, hi = partition_on_date
        return (
            reader.option("dbtable", f"({query}) q")
            .option("partitionColumn", "date")
            .option("lowerBound", lo)
            .option("upperBound", hi)
            .option("numPartitions", self.fetch_partitions)
            .load()
        )

    def _probe_read(
        self,
        candidates: Sequence[str],
        fallback_schema: str | None,
        label: str,
        partition_on_date: tuple[str, str] | None = None,
    ) -> DataFrame:
        """Try candidate queries in order; first readable one wins.

        Mirrors the reference's degrade behavior: optional WRDS tables
        vary by subscription, so each read is capability-checked
        (wrds_ingestion.py:147-152,222-227,372-380,429-437,810-840).
        JDBC resolves the schema eagerly at ``load()``, so a missing
        table/column surfaces here, not mid-job. If every candidate
        fails: return an empty frame with the declared schema when
        ``fallback_schema`` is given (the branch degrades to an empty
        output, like the reference), else re-raise the last error
        (mandatory input — e.g. the benchmark, wrds_ingestion.py:1001).

        Deliberate parity tradeoff: the reference's loaders catch bare
        ``Exception`` too, so a transient network error also degrades
        an optional branch to empty rather than failing the run. Every
        degrade is logged with the attempted queries and the triggering
        errors; operators who need fail-fast semantics for transient
        faults should alert on these warnings (classifying
        driver-specific SQLSTATEs here would be brittle across JDBC
        drivers).
        """
        attempted: list[str] = []
        last_exc: Exception | None = None
        for q in candidates:
            try:
                df = self._read(q, partition_on_date=partition_on_date)
                if attempted:
                    _log.warning("%s: fell back after %s", label, attempted)
                return df
            except Exception as exc:  # noqa: BLE001 — degrade on any read error
                attempted.append(f"{q.split('from')[1].split()[0]} ({exc})"
                                 if "from" in q else str(exc))
                last_exc = exc
        if fallback_schema is None:
            raise RuntimeError(f"{label}: all candidates failed: {attempted}") from last_exc
        _log.warning("%s unavailable (%s); branch degrades to empty.", label, attempted)
        return local_df(self.spark, [], fallback_schema)

    def sp500_universe(self, start: str, end: str) -> DataFrame:
        start, end = _sql_date(start), _sql_date(end)
        q = (
            "select permno, start as start_date, ending as end_date "
            f"from crsp.dsp500list where start <= '{end}' and ending >= '{start}'"
        )
        return self._read(q)

    def stock_names(self, permnos: Sequence[int]) -> DataFrame:
        q = (
            "select distinct permno as asset_id, ticker, namedt as first_date, "
            "nameendt as last_date from crsp.dsenames"
        )
        return _semi_filter(self._read(q), "asset_id", permnos)

    def ipo_dates(self, permnos: Sequence[int]) -> DataFrame:
        # Optional table — degrade to empty, skipping IPO enrichment
        # (wrds_ingestion.py:147-152).
        q = (
            "select distinct l.lpermno as asset_id, g.ipodate "
            "from crsp.ccmxpf_linktable l join comp_global_daily.g_company g "
            "on l.gvkey = g.gvkey "
            "where l.linktype in ('LU','LC') and l.linkprim in ('P','C')"
        )
        df = self._probe_read([q], "asset_id long, ipodate date", "ipo_dates")
        return _semi_filter(df, "asset_id", permnos)

    def daily_prices(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        start, end = _sql_date(start), _sql_date(end)
        q = (
            "select d.date, d.permno, d.openprc as open, d.askhi as high, "
            "d.bidlo as low, d.prc as close, d.cfacpr, d.ret, d.shrout, "
            f"d.vol as volume from crsp.dsf d where d.date between '{start}' and '{end}'"
        )
        return _semi_filter(self._read(q, partition_on_date=(start, end)), "permno", permnos)

    def monthly_prices(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        start, end = _sql_date(start), _sql_date(end)
        q = (
            "select m.date, m.permno, m.prc as close, m.ret, m.vol as volume, "
            f"m.shrout from crsp.msf m where m.date between '{start}' and '{end}'"
        )
        return _semi_filter(self._read(q), "permno", permnos)

    def delist_events(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        # Table-name probing like the reference's daily/monthly delist
        # loaders (wrds_ingestion.py:326-437): the CIZ-format StkDelists
        # first, then the legacy dse/mse delist tables (whose column is
        # already ``dlret``; StkDelists calls it ``delret``). All absent
        # -> empty frame, skipping delist adjustment.
        start, end = _sql_date(start), _sql_date(end)
        candidates = [
            "select permno as asset_id, delistingdt as date, delret as dlret "
            f"from crsp.StkDelists where delistingdt between '{start}' and '{end}'",
            "select permno as asset_id, dlstdt as date, dlret "
            f"from crsp.dsedelist where dlstdt between '{start}' and '{end}'",
            "select permno as asset_id, dlstdt as date, dlret "
            f"from crsp.msedelist where dlstdt between '{start}' and '{end}'",
        ]
        df = self._probe_read(
            candidates, "asset_id long, date date, dlret double", "delist_events"
        )
        return _semi_filter(df, "asset_id", permnos)

    def dividends(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        # Optional — degrade to empty, skipping listed dividends
        # (wrds_ingestion.py:222-227).
        start, end = _sql_date(start), _sql_date(end)
        q = (
            "select permno as asset_id, distcd, divamt, facpr, facshr, "
            f"paydt as date from crsp.msedist where paydt between '{start}' and '{end}'"
        )
        df = self._probe_read(
            [q],
            "asset_id long, distcd int, divamt double, facpr double, "
            "facshr double, date date",
            "dividends",
        )
        return _semi_filter(df, "asset_id", permnos)

    def ccm_links(self, permnos: Sequence[int], end: str) -> DataFrame:
        end = _sql_date(end)
        q = (
            "select gvkey, lpermno as permno, linkdt, linkenddt "
            "from crsp.ccmxpf_linktable "
            "where linktype in ('LU','LC') and linkprim in ('P','C') "
            f"and (linkdt <= '{end}' or linkdt is null)"
        )
        return _semi_filter(self._read(q), "permno", permnos)

    def fundamentals(self, gvkeys: Sequence[str], start: str, end: str) -> DataFrame:
        # Full field set first; if some fields are missing from this
        # subscription, fall back to the core set with nulls padded so
        # the output schema is stable (wrds_ingestion.py:497-513).
        start, end = _sql_date(start), _sql_date(end)
        where = (
            "where indfmt='INDL' and datafmt='STD' and popsrc='D' and consol='C' "
            f"and datadate between '{start}' and '{end}'"
        )
        full = (
            "select gvkey, datadate, revt, sale, ni, at, ceq, dltt, pstk, "
            f"oancf, capx, xrd from comp.funda {where}"
        )
        core = (
            "select gvkey, datadate, revt, cast(null as double precision) as sale, "
            "ni, at, cast(null as double precision) as ceq, dltt, "
            "cast(null as double precision) as pstk, oancf, "
            "cast(null as double precision) as capx, "
            f"cast(null as double precision) as xrd from comp.funda {where}"
        )
        df = self._probe_read([full, core], None, "fundamentals")
        return _semi_filter(df, "gvkey", gvkeys)

    def ibes_ids(self, end: str) -> DataFrame:
        # Optional — empty means the whole analyst branch degrades to
        # empty outputs (wrds_ingestion.py:578-585).
        end = _sql_date(end)
        q = (
            "select ticker, cusip, cname, sdates as start_date, "
            f"cast(null as date) as end_date from tr_ibes.id where sdates <= '{end}'"
        )
        return self._probe_read(
            [q],
            "ticker string, cusip string, cname string, "
            "start_date date, end_date date",
            "ibes_ids",
        )

    def crsp_cusip_names(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        start, end = _sql_date(start), _sql_date(end)
        q = (
            "select permno as asset_id, ncusip, namedt as start_date, "
            "nameendt as end_date from crsp.dsenames "
            f"where ncusip is not null and namedt <= '{end}' "
            f"and (nameendt is null or nameendt >= '{start}')"
        )
        return _semi_filter(self._read(q), "asset_id", permnos)

    def consensus(self, tickers: Sequence[str], start: str, end: str) -> DataFrame:
        # Optional — recdsum availability varies (wrds_ingestion.py:
        # 655-664 does a list_tables capability check; a probed read is
        # the same contract without a second round-trip).
        start, end = _sql_date(start), _sql_date(end)
        q = (
            "select statpers, ticker, oftic, cusip, cname, buypct, holdpct, "
            "sellpct, meanrec, medrec, stdev, numup, numdown, numrec, usfirm "
            f"from tr_ibes.recdsum where statpers between '{start}' and '{end}'"
        )
        df = self._probe_read(
            [q],
            "statpers date, ticker string, oftic string, cusip string, "
            "cname string, buypct double, holdpct double, sellpct double, "
            "meanrec double, medrec double, stdev double, numup int, "
            "numdown int, numrec int, usfirm int",
            "consensus",
        )
        return _semi_filter(df, "ticker", tickers)

    def ratings_detail(self, tickers: Sequence[str], start: str, end: str) -> DataFrame:
        # Candidate-table probing, in the reference's preference order
        # (wrds_ingestion.py:810-840): recddet keys on anndats, the
        # det_rec variants on statpers. select * on the variants —
        # their column sets differ and build_ratings_history resolves
        # them with first_present() column probing.
        start, end = _sql_date(start), _sql_date(end)
        candidates = [
            "select ticker, anndats, statpers, analys, ireccd, ereccd, itext "
            f"from tr_ibes.recddet where anndats between '{start}' and '{end}'",
            f"select * from tr_ibes.det_rec where statpers between '{start}' and '{end}'",
            f"select * from ibes.det_rec where statpers between '{start}' and '{end}'",
            f"select * from ibesus.det_rec where statpers between '{start}' and '{end}'",
        ]
        df = self._probe_read(
            candidates,
            "ticker string, anndats date, statpers date, analys bigint, "
            "ireccd double, ereccd string, itext string",
            "ratings_detail",
        )
        return _semi_filter(df, "ticker", tickers)

    def ff_factors(self, start: str, end: str) -> DataFrame:
        # Five-factor table first; degrade to the classic three-factor
        # table with null rmw/cma (wrds_ingestion.py:895-910).
        start, end = _sql_date(start), _sql_date(end)
        candidates = [
            "select date, mktrf, smb, hml, rmw, cma, rf "
            f"from ff_all.fivefactors_daily where date between '{start}' and '{end}'",
            "select date, mktrf, smb, hml, "
            "cast(null as double precision) as rmw, "
            "cast(null as double precision) as cma, rf "
            f"from ff_all.factors_daily where date between '{start}' and '{end}'",
        ]
        return self._probe_read(candidates, None, "ff_factors")

    def ff_momentum(self, start: str, end: str) -> DataFrame:
        # "add umd if present" (wrds_ingestion.py:911-918) -> empty frame
        # when absent; join_momentum left-joins so factors still build.
        start, end = _sql_date(start), _sql_date(end)
        q = f"select date, umd from ff_all.factors_daily where date between '{start}' and '{end}'"
        return self._probe_read([q], "date date, umd double", "ff_momentum")

    def benchmark(self, start: str, end: str) -> DataFrame:
        # Column-name probing: some schemas use caldt instead of date
        # (wrds_ingestion.py:984-1001). Mandatory — all candidates
        # failing raises, as the reference does.
        start, end = _sql_date(start), _sql_date(end)
        candidates = [
            f"select date, vwretd as ret from crsp.dsp500 where date between '{start}' and '{end}'",
            "select caldt as date, vwretd as ret from crsp.dsp500 "
            f"where caldt between '{start}' and '{end}'",
        ]
        return self._probe_read(candidates, None, "benchmark")

    def source_tag(self) -> str:
        return "wrds"


# ---------------------------------------------------------------- synthetic


_SYN_TICKERS = [
    "ALPH", "BRVO", "CHRL", "DLTA", "ECHO", "FXTT", "GOLF", "HTEL",
    "INDI", "JLET", "KILO", "LIMA", "MIKE", "NOVB", "OSCR", "PAPA",
]


class SyntheticWrdsSource(WrdsSource):
    """Deterministic offline stand-in for WRDS, for ingest tests.

    ``n_assets`` assets with business-day price paths over the requested
    window. Structural edge cases baked in:

    - asset 0 changes ticker mid-history (two dsenames rows)
    - the last asset delists two-thirds through the window (dlret=-0.15)
    - every asset has a CCM link; asset 1's link closes mid-window and a
      second link opens (point-in-time join must split its history)
    - CUSIPs carry punctuation (exercises normalize_cusip)
    - consensus has duplicate (statpers, ticker) rows with complementary
      nulls (exercises first-non-null dedup)
    - quarterly fundamentals miss xrd for odd assets (null padding)
    """

    def __init__(
        self,
        spark: SparkSession,
        n_assets: int = 8,
        seed: int = 7,
        recycled_ticker: bool = False,
    ):
        if n_assets > len(_SYN_TICKERS):
            raise ValueError(f"n_assets must be <= {len(_SYN_TICKERS)}")
        self.spark = spark
        self.n_assets = n_assets
        self.seed = seed
        # When set, tr_ibes.id carries ticker "IBR" snapshotted first on
        # asset 0's CUSIP and later on asset 1's — a recycled IBES ticker
        # whose coverage must split into disjoint validity windows.
        self.recycled_ticker = recycled_ticker

    # -- driver-side generation helpers (tiny data; determinism > scale) --

    def _rng(self, salt: int) -> np.random.RandomState:
        return np.random.RandomState(self.seed * 1000 + salt)

    @staticmethod
    def _bdays(start: str, end: str) -> pd.DatetimeIndex:
        return pd.bdate_range(start=start, end=end)

    def _permnos(self) -> list[int]:
        return [10001 + i for i in range(self.n_assets)]

    def _delist_date(self, start: str, end: str) -> pd.Timestamp:
        days = self._bdays(start, end)
        return days[(len(days) * 2) // 3]

    def _df(self, pdf: pd.DataFrame, schema: str) -> DataFrame:
        return self.spark.createDataFrame(pdf, schema=schema)

    def sp500_universe(self, start: str, end: str) -> DataFrame:
        rows = []
        days = self._bdays(start, end)
        delist = self._delist_date(start, end)
        for i, p in enumerate(self._permnos()):
            s = days[0] if i % 3 else days[min(i * 2, len(days) - 1)]
            e = delist if i == self.n_assets - 1 else days[-1]
            rows.append((p, s.date(), e.date()))
        pdf = pd.DataFrame(rows, columns=["permno", "start_date", "end_date"])
        return self._df(pdf, "permno long, start_date date, end_date date")

    def stock_names(self, permnos: Sequence[int]) -> DataFrame:
        days = self._bdays("1990-01-01", "2030-01-01")
        rows = []
        for i, p in enumerate(self._permnos()):
            if p not in set(permnos):
                continue
            tk = _SYN_TICKERS[i]
            if i == 0:
                # ticker change: OLD0 until 2015, then the current one
                rows.append((p, "OLD0", days[0].date(), _dt.date(2015, 6, 30)))
                rows.append((p, tk, _dt.date(2015, 7, 1), days[-1].date()))
            else:
                rows.append((p, tk, days[0].date(), days[-1].date()))
        pdf = pd.DataFrame(rows, columns=["asset_id", "ticker", "first_date", "last_date"])
        return self._df(pdf, "asset_id long, ticker string, first_date date, last_date date")

    def ipo_dates(self, permnos: Sequence[int]) -> DataFrame:
        rows = [
            (p, _dt.date(1995 + i, 3, 15))
            for i, p in enumerate(self._permnos())
            if p in set(permnos) and i % 2 == 0  # only evens have IPO data
        ]
        pdf = pd.DataFrame(rows, columns=["asset_id", "ipodate"])
        return self._df(pdf, "asset_id long, ipodate date")

    def daily_prices(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        days = self._bdays(start, end)
        delist = self._delist_date(start, end)
        frames = []
        for i, p in enumerate(self._permnos()):
            if p not in set(permnos):
                continue
            rng = self._rng(salt=i)
            d = days[days <= delist] if i == self.n_assets - 1 else days
            n = len(d)
            ret = rng.normal(0.0005, 0.02, n)
            close = 50.0 * (1 + i) * np.cumprod(1 + ret)
            frames.append(
                pd.DataFrame(
                    {
                        "date": d.date,
                        "permno": p,
                        "open": close * (1 - rng.uniform(0, 0.01, n)),
                        "high": close * (1 + rng.uniform(0, 0.02, n)),
                        "low": close * (1 - rng.uniform(0, 0.02, n)),
                        "close": close,
                        "cfacpr": np.where(d < pd.Timestamp("2020-02-15"), 2.0, 1.0)
                        if i == 1
                        else np.ones(n),
                        "ret": ret,
                        "shrout": float(1000 * (i + 1)),
                        "volume": rng.randint(10_000, 1_000_000, n).astype(float),
                    }
                )
            )
        pdf = pd.concat(frames, ignore_index=True)
        return self._df(
            pdf,
            "date date, permno long, open double, high double, low double, "
            "close double, cfacpr double, ret double, shrout double, volume double",
        )

    def monthly_prices(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        daily = self.daily_prices(permnos, start, end).toPandas()
        daily["date"] = pd.to_datetime(daily["date"])
        g = daily.groupby([daily["date"].dt.to_period("M"), "permno"])
        pdf = pd.DataFrame(
            {
                "date": g["date"].max().values,
                "permno": [k[1] for k in g.groups],
                "close": g["close"].last().values,
                "ret": (g["close"].last() / g["close"].first() - 1).values,
                "volume": g["volume"].sum().values,
                "shrout": g["shrout"].last().values,
            }
        )
        pdf["date"] = pd.to_datetime(pdf["date"]).dt.date
        return self._df(
            pdf,
            "date date, permno long, close double, ret double, volume double, shrout double",
        )

    def delist_events(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        p = self._permnos()[-1]
        rows = [(p, self._delist_date(start, end).date(), -0.15)] if p in set(permnos) else []
        pdf = pd.DataFrame(rows, columns=["asset_id", "date", "dlret"])
        return self._df(pdf, "asset_id long, date date, dlret double")

    def dividends(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        days = self._bdays(start, end)
        rows = []
        for i, p in enumerate(self._permnos()):
            if p not in set(permnos) or i % 2:
                continue  # evens pay dividends
            for q in range(0, len(days), 63):  # ~quarterly
                d = days[q].date()
                rows.append((p, "1232", 0.25 + 0.05 * i, None, None, d))
                if i == 0:
                    # same-day second distribution with complementary nulls
                    rows.append((p, None, 0.10, 1.0, None, d))
        pdf = pd.DataFrame(
            rows, columns=["asset_id", "distcd", "divamt", "facpr", "facshr", "date"]
        )
        return self._df(
            pdf,
            "asset_id long, distcd string, divamt double, facpr double, "
            "facshr double, date date",
        )

    def ccm_links(self, permnos: Sequence[int], end: str) -> DataFrame:
        rows = []
        for i, p in enumerate(self._permnos()):
            if p not in set(permnos):
                continue
            gv = f"{100000 + i:06d}"
            if i == 1:
                rows.append((gv, p, _dt.date(1990, 1, 1), _dt.date(2020, 2, 29)))
                rows.append((f"{200000 + i:06d}", p, _dt.date(2020, 3, 1), None))
            else:
                rows.append((gv, p, _dt.date(1990, 1, 1), None))
        pdf = pd.DataFrame(rows, columns=["gvkey", "permno", "linkdt", "linkenddt"])
        return self._df(pdf, "gvkey string, permno long, linkdt date, linkenddt date")

    def fundamentals(self, gvkeys: Sequence[str], start: str, end: str) -> DataFrame:
        qtr_ends = pd.date_range(start=start, end=end, freq="QE")
        gvset = set(gvkeys)
        rows = []
        all_links = self.ccm_links(self._permnos(), end).toPandas()
        for _, link in all_links.iterrows():
            gv = link["gvkey"]
            if gv not in gvset:
                continue
            i = int(link["permno"]) - 10001
            rng = self._rng(salt=500 + i)
            for qe in qtr_ends:
                base = 1000.0 * (i + 1)
                rows.append(
                    {
                        "gvkey": gv,
                        "datadate": qe.date(),
                        "revt": base * rng.uniform(0.9, 1.1),
                        "sale": base * rng.uniform(0.9, 1.1),
                        "ni": base * 0.1 * rng.uniform(0.5, 1.5),
                        "at": base * 5,
                        "ceq": base * 2,
                        "dltt": base * 1.5,
                        "pstk": 0.0,
                        "oancf": base * 0.2,
                        "capx": base * 0.05,
                        "xrd": None if i % 2 else base * 0.08,
                    }
                )
        pdf = pd.DataFrame(
            rows,
            columns=[
                "gvkey", "datadate", "revt", "sale", "ni", "at", "ceq",
                "dltt", "pstk", "oancf", "capx", "xrd",
            ],
        )
        return self._df(
            pdf,
            "gvkey string, datadate date, revt double, sale double, ni double, "
            "at double, ceq double, dltt double, pstk double, oancf double, "
            "capx double, xrd double",
        )

    def _cusip(self, i: int) -> str:
        return f"{37833100 + i:08d}"

    def ibes_ids(self, end: str) -> DataFrame:
        rows = []
        for i in range(self.n_assets):
            raw = self._cusip(i)
            # punctuated CUSIP exercises normalize_cusip
            cusip = f"{raw[:3]}-{raw[3:6]}.{raw[6:]}" if i % 2 else raw
            rows.append(
                (f"IB{i}", cusip, f"Company {i}", _dt.date(2000, 1, 1), None)
            )
        if self.recycled_ticker:
            # Raw snapshot rows (end_date null, like tr_ibes.id): "IBR"
            # points at asset 0's CUSIP, is re-snapshotted unchanged
            # (must collapse, not split), then recycled to asset 1's.
            rows += [
                ("IBR", self._cusip(0), "Old Corp", _dt.date(2012, 1, 2), None),
                ("IBR", self._cusip(0), "Old Corp", _dt.date(2013, 7, 1), None),
                ("IBR", self._cusip(1), "New Corp", _dt.date(2015, 6, 1), None),
            ]
        pdf = pd.DataFrame(
            rows, columns=["ticker", "cusip", "cname", "start_date", "end_date"]
        )
        return self._df(
            pdf,
            "ticker string, cusip string, cname string, start_date date, end_date date",
        )

    def crsp_cusip_names(self, permnos: Sequence[int], start: str, end: str) -> DataFrame:
        rows = [
            (p, self._cusip(i), _dt.date(2000, 1, 1), None)
            for i, p in enumerate(self._permnos())
            if p in set(permnos)
        ]
        pdf = pd.DataFrame(rows, columns=["asset_id", "ncusip", "start_date", "end_date"])
        return self._df(
            pdf, "asset_id long, ncusip string, start_date date, end_date date"
        )

    def consensus(self, tickers: Sequence[str], start: str, end: str) -> DataFrame:
        months = pd.date_range(start=start, end=end, freq="ME")
        tset = set(tickers)
        rows = []
        for i in range(self.n_assets):
            tk = f"IB{i}"
            if tk not in tset:
                continue
            rng = self._rng(salt=700 + i)
            for m in months:
                mean = float(rng.uniform(1.5, 4.5))
                base = dict(
                    statpers=m.date(), ticker=tk, oftic=_SYN_TICKERS[i],
                    cusip=self._cusip(i), cname=f"Company {i}",
                    buypct=40.0, holdpct=40.0, sellpct=20.0,
                    meanrec=round(mean, 2), medrec=round(mean), stdev=0.5,
                    numup=int(rng.randint(0, 4)), numdown=int(rng.randint(0, 4)),
                    numrec=int(rng.randint(3, 20)), usfirm=1,
                )
                rows.append(base)
                if i == 0:
                    # duplicate snapshot with complementary nulls:
                    # first-non-null dedup must stitch the two together
                    dup = dict(base)
                    dup["meanrec"] = None
                    dup["cname"] = None
                    rows.append(dup)
        pdf = pd.DataFrame(rows)
        return self._df(
            pdf,
            "statpers date, ticker string, oftic string, cusip string, "
            "cname string, buypct double, holdpct double, sellpct double, "
            "meanrec double, medrec double, stdev double, numup long, "
            "numdown long, numrec long, usfirm long",
        )

    def ratings_detail(self, tickers: Sequence[str], start: str, end: str) -> DataFrame:
        months = pd.date_range(start=start, end=end, freq="ME")
        tset = set(tickers)
        text = {1: "Strong Buy", 2: "Buy", 3: "Hold", 4: "Underperform", 5: "Sell"}
        rows = []
        for i in range(self.n_assets):
            tk = f"IB{i}"
            if tk not in tset:
                continue
            rng = self._rng(salt=900 + i)
            for m in months:
                for a in range(1 + i % 3):
                    rec = int(rng.randint(1, 6))
                    rows.append(
                        (tk, m.date(), m.date(), 5000 + a, float(rec), "M", text[rec])
                    )
        pdf = pd.DataFrame(
            rows,
            columns=["ticker", "anndats", "statpers", "analys", "ireccd", "ereccd", "itext"],
        )
        return self._df(
            pdf,
            "ticker string, anndats date, statpers date, analys long, "
            "ireccd double, ereccd string, itext string",
        )

    def ff_factors(self, start: str, end: str) -> DataFrame:
        days = self._bdays(start, end)
        rng = self._rng(salt=1300)
        n = len(days)
        pdf = pd.DataFrame(
            {
                "date": days.date,
                "mktrf": rng.normal(0.05, 1.0, n),
                "smb": rng.normal(0.0, 0.5, n),
                "hml": rng.normal(0.0, 0.5, n),
                "rmw": rng.normal(0.0, 0.4, n),
                "cma": rng.normal(0.0, 0.4, n),
                "rf": np.full(n, 0.01),
            }
        )
        return self._df(
            pdf,
            "date date, mktrf double, smb double, hml double, rmw double, "
            "cma double, rf double",
        )

    def ff_momentum(self, start: str, end: str) -> DataFrame:
        days = self._bdays(start, end)
        rng = self._rng(salt=1400)
        pdf = pd.DataFrame({"date": days.date, "umd": rng.normal(0.0, 0.6, len(days))})
        return self._df(pdf, "date date, umd double")

    def benchmark(self, start: str, end: str) -> DataFrame:
        days = self._bdays(start, end)
        rng = self._rng(salt=1500)
        pdf = pd.DataFrame({"date": days.date, "ret": rng.normal(0.0004, 0.011, len(days))})
        return self._df(pdf, "date date, ret double")

    def source_tag(self) -> str:
        return "synthetic"
