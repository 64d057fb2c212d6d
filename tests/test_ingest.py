"""End-to-end ingest test the reference never had (its ingestion path
is untested, SURVEY §5): run the full 17-step DAG against the
deterministic synthetic source, then read every output back through
``LocalParquetDataHandler`` and check derived values against
independent recomputation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
import yaml

from quantlab_data_pipeline_spark.ingestion.pipeline import ingest
from quantlab_data_pipeline_spark.schemas import SCHEMAS
from quantlab_data_pipeline_spark.sources.fred import synthetic_fred_fetcher
from quantlab_data_pipeline_spark.sources.wrds import SyntheticWrdsSource
from quantlab_data_pipeline_spark.storage.parquet import LocalParquetDataHandler

START, END = "2020-01-01", "2020-06-30"


@pytest.fixture(scope="module")
def data_root(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ingest_root")
    ingest(
        root, START, END, save_raw=True,
        source=SyntheticWrdsSource(spark, n_assets=6),
        fred_fetcher=synthetic_fred_fetcher(), spark=spark,
    )
    return root / "quantlab_data_pipeline"


@pytest.fixture(scope="module")
def handler(data_root, spark):
    return LocalParquetDataHandler(data_root, spark=spark)


def test_all_outputs_exist_with_registered_schemas(data_root, spark):
    for table, schema in SCHEMAS.items():
        sub = "data_meta" if table in {"assets_master", "universe_sp500", "trading_calendar"} else "data_processed"
        path = data_root / sub / f"{table}.parquet"
        assert path.exists(), f"missing {table}"
        df = spark.read.parquet(str(path))
        assert df.count() > 0, f"{table} is empty"
        assert df.columns == schema.names, (
            f"{table} columns {df.columns} != registered {schema.names}"
        )


def test_manifests_written(data_root):
    meta = data_root / "data_meta"
    sources = yaml.safe_load((meta / "data_sources.yml").read_text())
    assert sources["params"]["source"] == "synthetic"
    assert "prices_daily" in sources["datasets"]
    manifest = pd.read_csv(meta / "field_manifest.csv")
    assert {"dataset", "type", "source", "path", "column"} <= set(manifest.columns)
    got_cols = set(
        manifest[manifest["dataset"] == "prices_daily"]["column"]
    )
    assert got_cols == set(SCHEMAS["prices_daily"].names)
    # raw snapshots are in the manifest too (save_raw=True)
    assert (manifest["type"] == "raw").any()
    assert (data_root / "reference" / "field_manifest.csv").exists()


def _manifest_matching_disk(root, spark) -> pd.DataFrame:
    """The root's field manifest, after checking that each dataset's
    columns are what a read of its path reports."""
    manifest = pd.read_csv(root / "data_meta" / "field_manifest.csv")
    assert len(manifest)
    for (dataset, path), rows in manifest.groupby(["dataset", "path"], sort=False):
        on_disk = spark.read.parquet(path).schema.names
        assert list(rows["column"]) == on_disk, dataset
    return manifest


def test_manifest_columns_are_the_written_schemas(data_root, spark):
    """The manifest comes from the written frames' columns, not from
    reading footers back: it must still list exactly what a read of
    every dataset, raw snapshots included, reports."""
    manifest = _manifest_matching_disk(data_root, spark)
    assert manifest["dataset"].nunique() == 15 + 14  # processed + raw


def test_manifest_columns_partitioned_layout(part_root, spark):
    """Spark reports a partition column after the data columns."""
    manifest = _manifest_matching_disk(part_root, spark)
    prices = manifest[manifest["dataset"] == "prices_daily"]["column"]
    assert list(prices) == SCHEMAS["prices_daily"].names + ["year"]


def test_open_handler_reads_a_reingest_into_the_same_root(spark, tmp_path_factory):
    """A handler resolves each table once; an ingest that rewrites the
    root must still be seen by the next read: new rows, no missing-file
    error from the replaced files, and a refreshed ticker map."""
    root = tmp_path_factory.mktemp("reingest_root")

    def run(n_assets, start, end):
        return ingest(
            root, start, end, save_raw=False,
            source=SyntheticWrdsSource(spark, n_assets=n_assets),
            fred_fetcher=synthetic_fred_fetcher(), spark=spark,
        )

    h = LocalParquetDataHandler(run(2, "2020-01-01", "2020-03-31"), spark=spark)
    before = h.get_prices(["ALPH"], fields=["close"])
    assert pd.Timestamp(before["date"].max()) <= pd.Timestamp("2020-03-31")
    with pytest.raises(ValueError):
        h.get_prices(["CHRL"])  # the third asset is not ingested yet

    run(3, "2020-04-01", "2020-06-30")
    after = h.get_prices(["ALPH"], fields=["close"])
    assert len(after) > 0
    assert pd.Timestamp(after["date"].min()) >= pd.Timestamp("2020-04-01")
    assert len(h.get_prices(["CHRL"])) > 0
    assert len(h.get_prices_with_returns_df(["CHRL"]).toPandas()) > 0


def _count_jobs(spark, fn) -> tuple[int, set]:
    """Run ``fn`` under a fresh job group. Returns the number of jobs in
    that group and the ids of jobs that ran outside any group meanwhile
    (a thread that lost the caller's group)."""
    import uuid

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"gate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    return (
        len(tracker.getJobIdsForGroup(group)),
        set(tracker.getJobIdsForGroup(None)) - ungrouped,
    )


def test_repeated_read_runs_no_schema_inference_job(data_root, spark):
    h = LocalParquetDataHandler(data_root, spark=spark)
    args = (["ALPH"], START, END, ["close"])
    first, _ = _count_jobs(spark, lambda: h.get_prices_df(*args))
    again, _ = _count_jobs(spark, lambda: h.get_prices_df(*args))
    assert first > 0  # file listing + schema inference + ticker map
    assert again == 0


# Jobs of the 16-asset ingest below, measured on this suite's session
# (local[8], 8 shuffle partitions), plus a little headroom. A read-back
# or a re-run dimension that creeps back in breaks this gate.
INGEST_JOBS = 45
INGEST_JOB_HEADROOM = 3


def test_ingest_job_budget(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("job_budget_root")
    jobs, outside = _count_jobs(spark, lambda: ingest(
        root, START, END, save_raw=False,
        source=SyntheticWrdsSource(spark, n_assets=16),
        fred_fetcher=synthetic_fred_fetcher(), spark=spark,
    ))
    total = jobs + len(outside)
    assert total <= INGEST_JOBS + INGEST_JOB_HEADROOM, total
    assert not outside, "ingest ran jobs outside the caller's job group"


def test_adj_close_derivation(handler):
    px = handler.get_prices(["BRVO"], start_date=START, end_date=END)
    assert len(px) > 0
    np.testing.assert_allclose(px["adj_close"], px["close"] * px["cfacpr"])
    # BRVO has cfacpr=2 before 2020-02-15 (synthetic split)
    early = px[px["date"] < "2020-02-15"]
    assert (early["cfacpr"] == 2.0).all()


def test_delist_compounding(handler, data_root, spark):
    """The last asset delists with dlret=-0.15: on the delist date
    ret_1d must be (1+ret)*(1-0.15)-1, elsewhere ret_1d == ret."""
    raw = spark.read.parquet(str(data_root / "data_raw" / "dlret_daily_raw.parquet")).toPandas()
    assert len(raw) == 1
    delist_date, dlret = raw.loc[0, "date"], raw.loc[0, "dlret"]
    asset = int(raw.loc[0, "asset_id"])

    prices = spark.read.parquet(
        str(data_root / "data_processed" / "prices_daily.parquet")
    ).toPandas()
    returns = spark.read.parquet(
        str(data_root / "data_processed" / "returns_daily.parquet")
    ).toPandas()
    merged = returns[returns["asset_id"] == asset].merge(
        prices[prices["asset_id"] == asset][["date", "ret"]], on="date"
    )
    on_day = merged[merged["date"] == delist_date]
    off_day = merged[merged["date"] != delist_date]
    assert len(on_day) == 1
    expected = (1 + on_day["ret"].iloc[0]) * (1 + dlret) - 1
    assert abs(on_day["ret_1d"].iloc[0] - expected) < 1e-12
    np.testing.assert_allclose(off_day["ret_1d"], off_day["ret"])


def test_membership_explode_clamped(handler):
    uni = handler.get_universe(date="2020-03-02")
    assert len(uni) > 0
    assert uni["in_universe"].all()
    # no membership row outside the ingest window or on weekends
    full = handler.get_universe()
    dts = pd.to_datetime(full["date"])
    assert dts.min() >= pd.Timestamp(START)
    assert dts.max() <= pd.Timestamp(END)
    assert (dts.dt.dayofweek < 5).all()


def test_delisted_asset_leaves_universe(handler, data_root, spark):
    raw = spark.read.parquet(str(data_root / "data_raw" / "dlret_daily_raw.parquet")).toPandas()
    asset, delist_date = int(raw.loc[0, "asset_id"]), raw.loc[0, "date"]
    full = handler.get_universe()
    mine = full[full["asset_id"] == asset]
    assert pd.to_datetime(mine["date"]).max() == pd.Timestamp(delist_date)


def test_fundamentals_point_in_time_link(handler):
    """Asset 10002's CCM link switches gvkey on 2020-03-01; quarters on
    both sides must still map to the same permno, exactly once."""
    f = handler.get_fundamentals(["BRVO"], start_date=START, end_date=END)
    assert len(f) == 2  # 2020-03-31 and 2020-06-30 quarter ends
    assert f["report_date"].is_unique
    assert "revenue" in f.columns and "net_income" in f.columns


def test_consensus_first_non_null_dedup(handler):
    """IB0's duplicate consensus snapshots carry complementary nulls;
    after dedup each (date, asset_id) appears once with both fields."""
    c = handler.get_analyst_consensus(["ALPH"], start_date=START, end_date=END)
    assert len(c) > 0
    assert not c.duplicated(subset=["date", "asset_id"]).any()
    assert c["mean_rating"].notna().all()
    assert c["company_name"].notna().all()


def test_ratings_history_keys(handler):
    h = handler.get_analyst_ratings_history(["CHRL"], start_date=START, end_date=END)
    assert len(h) > 0
    assert not h.duplicated(subset=["date", "asset_id", "analyst_id"]).any()
    assert set(h["rating"].dropna()) <= {1.0, 2.0, 3.0, 4.0, 5.0}


def test_factor_scaling_single_division(handler, data_root, spark):
    """Factors are percent/100 exactly once — including MOM, where the
    reference divides twice (documented deviation)."""
    raw = spark.read.parquet(str(data_root / "data_raw" / "style_factors_raw.parquet")).toPandas()
    factors = handler.get_style_factor_returns()
    mom = factors[factors["factor_name"] == "MOM"].set_index("date")["ret"]
    raw_mom = raw.set_index(pd.to_datetime(raw["date"]))["umd"]
    joined = pd.DataFrame({"got": mom, "raw": raw_mom}).dropna()
    assert len(joined) > 0
    np.testing.assert_allclose(joined["got"], joined["raw"] / 100.0)
    names = set(factors["factor_name"])
    assert names == {"MKT", "SMB", "HML", "RMW", "CMA", "MOM"}


def test_benchmark_cumprod_level(handler):
    b = handler.get_benchmark_returns("^GSPC")
    assert len(b) > 0
    expected = (1 + b.sort_values("date")["ret"]).cumprod() * 100
    np.testing.assert_allclose(b.sort_values("date")["level"], expected)


def test_macro_numeric_reject(handler):
    m = handler.get_macro()
    assert len(m) > 0
    assert m["value"].notna().all()  # "." observations dropped
    assert set(m["series_name"]) == {"CPIAUCSL", "UNRATE", "INDPRO"}


def test_dividends_same_day_aggregation(handler, data_root, spark):
    """ALPH pays two distributions on the same day: divamt sums, distcd
    keeps the first non-null, yield = total/close."""
    div = spark.read.parquet(
        str(data_root / "data_processed" / "dividends_monthly.parquet")
    ).toPandas()
    a = div[div["asset_id"] == 10001]
    assert len(a) > 0
    assert not a.duplicated(subset=["asset_id", "date"]).any()
    np.testing.assert_allclose(a["divamt"], 0.35)  # 0.25 + 0.10
    assert (a["distcd"] == "1232").all()
    priced = a[a["close"].notna()]
    if len(priced):
        np.testing.assert_allclose(
            priced["dividend_yield"], priced["divamt"] / priced["close"]
        )


def test_assets_master_ticker_change(handler, data_root, spark):
    """Asset 10001 had ticker OLD0 then ALPH; dedup must pick the
    latest by last_date."""
    am = spark.read.parquet(str(data_root / "data_meta" / "assets_master.parquet")).toPandas()
    row = am[am["asset_id"] == 10001]
    assert len(row) == 1
    assert row["ticker"].iloc[0] == "ALPH"
    # first_date spans the OLD0 era
    assert pd.Timestamp(row["first_date"].iloc[0]) < pd.Timestamp("2015-07-01")
    # ipodate only for even assets; 10001 (i=0) has one
    assert pd.notna(row["ipodate"].iloc[0])


def test_monthly_returns_shape(handler, data_root, spark):
    rm = spark.read.parquet(
        str(data_root / "data_processed" / "returns_monthly.parquet")
    ).toPandas()
    assert list(rm.columns) == [
        "date", "asset_id", "ret", "price", "volume", "shrout", "ret_1m"
    ]
    assert len(rm) > 0


@pytest.fixture(scope="module")
def part_root(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ingest_part")
    ingest(
        root, START, END, save_raw=False,
        source=SyntheticWrdsSource(spark, n_assets=6),
        fred_fetcher=synthetic_fred_fetcher(), spark=spark,
        partition_by_year=True,
    )
    return root / "quantlab_data_pipeline"


def test_partitioned_layout_prunes_and_matches(spark, part_root, data_root):
    """partition_by_year=True: same handler answers, year-partitioned
    files on disk, and date filters prune partitions at the scan."""
    prices_dir = part_root / "data_processed" / "prices_daily.parquet"
    assert (prices_dir / "year=2020").exists()

    flat = LocalParquetDataHandler(data_root, spark=spark)
    part = LocalParquetDataHandler(part_root, spark=spark)
    a = flat.get_prices(["ALPH"], start_date="2020-02-01", end_date="2020-04-30")
    b = part.get_prices(["ALPH"], start_date="2020-02-01", end_date="2020-04-30")
    assert list(a.columns) == list(b.columns)  # no year column leaks
    pd.testing.assert_frame_equal(a, b)

    # the partition predicate reaches the scan (PartitionFilters)
    plan = part.get_prices_df(
        ["ALPH"], start_date="2020-02-01", end_date="2020-04-30"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "year" in plan.split("PartitionFilters")[1][:200]


def test_validation_clean_on_ingest_output(data_root, spark):
    from quantlab_data_pipeline_spark.validation import validate_outputs

    failures = validate_outputs(data_root, spark, start=START, end=END)
    assert failures == [], failures


def test_validation_catches_violations(spark, tmp_path):
    import pandas as pd
    from quantlab_data_pipeline_spark.validation import (
        ValidationError,
        validate_table,
        validate_outputs,
    )

    # duplicate key + null key + bad return + out-of-window date
    bad = spark.createDataFrame(
        pd.DataFrame(
            {
                "date": pd.to_datetime(
                    ["2020-01-02", "2020-01-02", "2021-06-01", "2020-01-03"]
                ),
                "asset_id": [1, 1, 2, None],
                "ticker": ["A", "A", "B", "C"],
                "ret_1d": [0.01, 0.01, -1.5, 0.02],
            }
        )
    )
    fails = validate_table(bad, "returns_daily", start="2020-01-01", end="2020-12-31")
    checks = {f["check"] for f in fails}
    assert {"unique_key", "non_null_key", "date_window", "return_domain"} <= checks

    # missing dataset + raise_on_failure path
    with pytest.raises(ValidationError):
        validate_outputs(tmp_path, spark, raise_on_failure=True)


def test_recycled_ibes_ticker_splits_into_disjoint_windows(spark):
    """A recycled IBES ticker (same ticker, different CUSIP over time)
    must resolve to each permno only within its own validity window —
    the reference's open-ended coverage maps it to both companies for
    all dates (VERDICT r1 #4)."""
    import datetime as dt

    from quantlab_data_pipeline_spark.ingestion.pipeline import build_idxref

    src = SyntheticWrdsSource(spark, n_assets=6, recycled_ticker=True)
    permnos = [10001 + i for i in range(6)]
    idx = build_idxref(src, permnos, "2012-01-01", "2020-12-31")
    ibr = sorted(
        ((r["asset_id"], r["start_date"], r["end_date"])
         for r in idx.filter("ticker = 'IBR'").collect()),
        key=lambda t: t[1],
    )
    assert len(ibr) == 2
    (a1, s1, e1), (a2, s2, e2) = ibr
    assert (a1, a2) == (10001, 10002)  # two different permnos
    assert s1 == dt.date(2012, 1, 2)
    assert e1 == dt.date(2015, 5, 31)  # closed the day before recycling
    assert s2 == dt.date(2015, 6, 1)
    assert e1 < s2  # disjoint windows
    # regular tickers keep one open-ended row each
    assert idx.filter("ticker = 'IB0'").count() == 1


def test_ingest_completes_with_degraded_optional_branches(spark, tmp_path_factory):
    """When optional WRDS tables are missing, the JDBC source degrades
    each read to a declared-schema empty frame; the full ingest DAG must
    then complete with empty analyst/dividend/delist outputs and intact
    core outputs (VERDICT r1 #5, mirroring the reference's try/except
    degrade paths)."""

    class Degraded(SyntheticWrdsSource):
        """The shapes JdbcWrdsSource._probe_read returns when tr_ibes.id,
        g_company, msedist and the delist tables are all absent."""

        def ibes_ids(self, end):
            return self.spark.createDataFrame(
                [], "ticker string, cusip string, cname string, "
                    "start_date date, end_date date")

        def ipo_dates(self, permnos):
            return self.spark.createDataFrame([], "asset_id long, ipodate date")

        def dividends(self, permnos, start, end):
            return self.spark.createDataFrame(
                [], "asset_id long, distcd int, divamt double, facpr double, "
                    "facshr double, date date")

        def delist_events(self, permnos, start, end):
            return self.spark.createDataFrame(
                [], "asset_id long, date date, dlret double")

    root = tmp_path_factory.mktemp("degraded_root")
    ingest(
        root, START, END, save_raw=False,
        source=Degraded(spark, n_assets=4),
        fred_fetcher=synthetic_fred_fetcher(), spark=spark,
    )
    out = root / "quantlab_data_pipeline"
    processed = out / "data_processed"
    empty = ["analyst_consensus", "analyst_ratings_history", "dividends_monthly"]
    for name in empty:
        df = spark.read.parquet(str(processed / f"{name}.parquet"))
        assert df.count() == 0, name
        assert df.columns == list(SCHEMAS[name].fieldNames()), name
    # core branches unaffected
    assert spark.read.parquet(str(processed / "prices_daily.parquet")).count() > 0
    assert spark.read.parquet(str(processed / "returns_daily.parquet")).count() > 0


def test_bucketed_facts_join_without_exchange(spark, tmp_path_factory):
    """ingest(bucket_facts=True) pays the panel-join shuffle at write
    time: the public handler API then plans the prices-returns
    SortMergeJoin with no Exchange on either side (VERDICT r1 #9)."""
    root = tmp_path_factory.mktemp("bucketed_root")
    ingest(
        root, START, END, save_raw=False, bucket_facts=True,
        source=SyntheticWrdsSource(spark, n_assets=3),
        fred_fetcher=synthetic_fred_fetcher(), spark=spark,
    )
    h = LocalParquetDataHandler(root / "quantlab_data_pipeline", spark=spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = h.get_prices_with_returns_df()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:1200]
        assert "Bucketed: true" in plan
        n = joined.count()
        assert n > 0
        # fallback path (parquet scans + runtime shuffle) agrees
        from quantlab_data_pipeline_spark.storage.bucketing import (
            root_scoped_table,
        )
        for t in ("prices_daily_bucketed", "returns_daily_bucketed"):
            spark.sql(f"DROP TABLE {root_scoped_table(t, h.data_root)}")
        fallback = h.get_prices_with_returns_df()
        assert fallback.count() == n
        assert "Exchange" in fallback._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ratings_history_handles_det_rec_shape(spark):
    """When the JDBC probe falls back to a det_rec variant (select *),
    the column set differs: amaskcd instead of analys, rec instead of
    ireccd, no itext. build_ratings_history's first_present probing
    must still shape the output (reference wrds_ingestion.py:845-870)."""
    import datetime as dt

    from quantlab_data_pipeline_spark.ingestion.pipeline import (
        build_idxref, build_ratings_history,
    )

    class DetRecSource(SyntheticWrdsSource):
        def ratings_detail(self, tickers, start, end):
            rows = [
                ("IB0", dt.date(2020, 2, 14), 123, 2.0, dt.date(2020, 2, 28)),
                ("IB1", dt.date(2020, 3, 2), 456, 1.0, dt.date(2020, 3, 31)),
            ]
            return self.spark.createDataFrame(
                rows,
                "ticker string, anndats date, amaskcd long, rec double, "
                "statpers date",
            )

    src = DetRecSource(spark, n_assets=3)
    idx = build_idxref(src, [10001, 10002, 10003], "2020-01-01", "2020-12-31")
    out = build_ratings_history(src, idx, "2020-01-01", "2020-12-31")
    rows = {r["ticker"]: r for r in out.collect()}
    assert set(rows) == {"IB0", "IB1"}
    assert rows["IB0"]["analyst_id"] == 123  # amaskcd probed
    assert rows["IB0"]["rating"] == 2.0      # rec probed
    assert rows["IB0"]["rating_text"] is None  # itext absent -> null


def test_bucketed_tables_are_root_scoped(spark, tmp_path_factory):
    """A handler on a different data root must NOT be served another
    root's bucketed catalog tables — it falls back to its own parquet."""
    from quantlab_data_pipeline_spark.storage.bucketing import (
        bucketed_join_ready, root_scoped_table,
    )

    root_a = tmp_path_factory.mktemp("scope_a")
    root_b = tmp_path_factory.mktemp("scope_b")
    for root, bucket in ((root_a, True), (root_b, False)):
        ingest(
            root, START, END, save_raw=False, bucket_facts=bucket,
            source=SyntheticWrdsSource(spark, n_assets=2),
            fred_fetcher=synthetic_fred_fetcher(), spark=spark,
        )
    h_a = LocalParquetDataHandler(root_a / "quantlab_data_pipeline", spark=spark)
    h_b = LocalParquetDataHandler(root_b / "quantlab_data_pipeline", spark=spark)
    pa = root_scoped_table("prices_daily_bucketed", h_a.data_root)
    ra = root_scoped_table("returns_daily_bucketed", h_a.data_root)
    pb = root_scoped_table("prices_daily_bucketed", h_b.data_root)
    assert bucketed_join_ready(spark, pa, ra)       # root A bucketed
    assert not spark.catalog.tableExists(pb)        # root B not
    # B's join works via its own parquet (no cross-root table pickup)
    assert h_b.get_prices_with_returns_df().count() > 0
    plan_b = (h_b.get_prices_with_returns_df()
              ._jdf.queryExecution().executedPlan().toString())
    assert "Bucketed: true" not in plan_b
    # bucketed files live under root A, not the session warehouse
    assert (h_a.processed_path / "prices_daily_bucketed").exists()
    spark.sql(f"DROP TABLE {pa}")
    spark.sql(f"DROP TABLE {ra}")


def test_incremental_update_touches_only_window_partitions(spark, tmp_path_factory):
    """update_facts over a 2020 window must dynamically overwrite only
    the year=2020 partition: year=2019 files stay byte-identical, and
    the 2020 data reflects the new source."""
    import os

    from quantlab_data_pipeline_spark.ingestion.pipeline import update_facts

    root = tmp_path_factory.mktemp("incr_root")
    ingest(
        root, "2019-07-01", "2020-06-30", save_raw=False,
        partition_by_year=True,
        source=SyntheticWrdsSource(spark, n_assets=2),
        fred_fetcher=synthetic_fred_fetcher(), spark=spark,
    )
    prices_dir = root / "quantlab_data_pipeline" / "data_processed" / "prices_daily.parquet"

    def snapshot(year):
        d = prices_dir / f"year={year}"
        return {f: os.path.getmtime(d / f) for f in os.listdir(d)
                if f.endswith(".parquet")}

    before = spark.read.parquet(str(prices_dir))
    before_2019 = snapshot(2019)
    before_2019_rows = before.filter("year = 2019").count()
    before_2020_sum = before.filter("year = 2020").agg({"close": "sum"}).collect()[0][0]

    # different seed -> different synthetic prices in the 2020 window
    update_facts(
        root, "2020-01-01", "2020-06-30",
        source=SyntheticWrdsSource(spark, n_assets=2, seed=99), spark=spark,
    )
    assert snapshot(2019) == before_2019  # untouched partition byte-identical
    after = spark.read.parquet(str(prices_dir))
    assert after.filter("year = 2019").count() == before_2019_rows
    after_2020_sum = after.filter("year = 2020").agg({"close": "sum"}).collect()[0][0]
    assert after_2020_sum != before_2020_sum  # window really re-ingested
