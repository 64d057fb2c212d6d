"""Transform-library unit tests against small in-memory frames with
hand-computed / pandas oracles (the coverage the reference lacks —
SURVEY §5 'rebuild strategy', FIXTURES.md §14 input shapes)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from quantlab_data_pipeline_spark.operators import (
    clean_dividends,
    cumulative_index,
    dedupe_assets_master,
    dedupe_first_non_null,
    delist_adjust,
    explode_membership,
    interval_overlap_join,
    melt_factors,
    pct_change,
    point_in_time_join,
    trading_calendar,
    with_adj_close,
)
from quantlab_data_pipeline_spark.schemas import CATALOG


def _d(s: str) -> dt.date:
    return dt.date.fromisoformat(s)


def test_adj_close(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 2.0), (2, 20.0, None)], "asset_id long, close double, cfacpr double"
    )
    out = {r["asset_id"]: r["adj_close"] for r in with_adj_close(df).collect()}
    assert out[1] == 20.0
    assert out[2] is None  # null-propagating multiply, like pandas NaN


def test_delist_adjust_compounding(spark):
    returns = spark.createDataFrame(
        [(1, _d("2020-01-02"), 0.10), (1, _d("2020-01-03"), 0.05),
         (2, _d("2020-01-02"), -0.02)],
        "asset_id long, date date, ret_1d double",
    )
    delists = spark.createDataFrame(
        [(1, _d("2020-01-03"), -0.5)], "asset_id long, date date, dlret double"
    )
    out = {
        (r["asset_id"], str(r["date"])): r["ret_1d"]
        for r in delist_adjust(returns, delists).collect()
    }
    # oracle: (1+ret)*(1+dlret)-1 (wrds_ingestion.py:461)
    assert out[(1, "2020-01-03")] == pytest.approx((1 + 0.05) * (1 - 0.5) - 1)
    # no delist event -> unchanged
    assert out[(1, "2020-01-02")] == pytest.approx(0.10)
    assert out[(2, "2020-01-02")] == pytest.approx(-0.02)


def test_pct_change_matches_pandas(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "ticker": ["A"] * 4 + ["B"] * 3,
            "date": list(pd.date_range("2020-01-01", periods=4))
            + list(pd.date_range("2020-01-01", periods=3)),
            "px": [10.0, 11.0, 9.0, 12.0, 100.0, 90.0, 99.0],
        }
    )
    expected = pdf.groupby("ticker")["px"].pct_change()
    sdf = spark.createDataFrame(pdf)
    out = (
        pct_change(sdf, "px", ["ticker"], "date", "r")
        .orderBy("ticker", "date")
        .toPandas()
    )
    import numpy as np

    np.testing.assert_allclose(
        out["r"].to_numpy(), expected.to_numpy(), equal_nan=True
    )


def test_dedupe_assets_master_ordered_ticker(spark):
    rows = [
        # asset 1: ticker should be the one with the LATEST last_date (NEW),
        # dates aggregate min/max across all rows, null-safe.
        (1, "OLD", _d("2000-01-01"), _d("2010-12-31"), None),
        (1, "NEW", _d("2011-01-01"), _d("2020-12-31"), _d("1999-05-05")),
        (1, None, _d("1995-01-01"), _d("2021-06-30"), None),
        (2, "SOLO", _d("2005-01-01"), _d("2006-01-01"), None),
    ]
    df = spark.createDataFrame(
        rows,
        "asset_id long, ticker string, first_date date, last_date date, ipodate date",
    )
    out = {r["asset_id"]: r.asDict() for r in dedupe_assets_master(df).collect()}
    assert out[1]["ticker"] == "NEW"  # null ticker at later last_date ignored
    assert out[1]["first_date"] == _d("1995-01-01")
    assert out[1]["last_date"] == _d("2021-06-30")
    assert out[1]["ipodate"] == _d("1999-05-05")
    assert out[2]["ticker"] == "SOLO"


def test_dedupe_consensus_first_non_null(spark):
    df = spark.createDataFrame(
        [
            (_d("2020-01-02"), 1, None, 3.0, 1),
            (_d("2020-01-02"), 1, 2.5, None, 2),
            (_d("2020-01-02"), 1, 9.9, 9.9, 3),
        ],
        "date date, asset_id long, mean_rating double, median_rating double, seq int",
    )
    key = CATALOG["analyst_consensus"].key
    out = dedupe_first_non_null(df, key, order="seq").collect()
    assert len(out) == 1
    row = out[0]
    assert row["mean_rating"] == 2.5  # first non-null in seq order
    assert row["median_rating"] == 3.0


def test_clean_dividends(spark):
    df = spark.createDataFrame(
        [
            (1, _d("2020-02-01"), "1232", 0.5, 10.0),
            (1, _d("2020-02-01"), None, 0.25, None),
            (2, _d("2020-02-01"), "1232", 1.0, None),
        ],
        "asset_id long, date date, distcd string, divamt double, close double",
    )
    out = {r["asset_id"]: r.asDict() for r in clean_dividends(df).collect()}
    assert out[1]["divamt"] == pytest.approx(0.75)  # sum skipna
    assert out[1]["distcd"] == "1232"
    assert out[1]["close"] == 10.0
    assert out[1]["dividend_yield"] == pytest.approx(0.075)
    assert out[2]["dividend_yield"] is None  # null close -> null yield


def test_point_in_time_join_interval_filter(spark):
    funda = spark.createDataFrame(
        [("G1", _d("2010-06-30"), 100.0), ("G1", _d("2020-06-30"), 200.0)],
        "gvkey string, datadate date, revt double",
    )
    links = spark.createDataFrame(
        [
            ("G1", 11, _d("2000-01-01"), _d("2015-12-31")),
            ("G1", 22, _d("2016-01-01"), None),  # open-ended
        ],
        "gvkey string, permno long, linkdt date, linkenddt date",
    )
    out = point_in_time_join(funda, links, "gvkey", "datadate", "linkdt", "linkenddt")
    got = {(r["revt"], r["permno"]) for r in out.collect()}
    assert got == {(100.0, 11), (200.0, 22)}


def test_interval_overlap_join_cusip(spark):
    ibes = spark.createDataFrame(
        [("TK", "  00088-10.9 ", _d("2019-01-01"), _d("2020-06-30"))],
        "ticker string, cusip string, sdate date, edate date",
    )
    crsp = spark.createDataFrame(
        [
            (7, "00088109", _d("2020-01-01"), None),       # overlaps
            (8, "00088109", _d("2010-01-01"), _d("2012-01-01")),  # stale
            (9, "99999999", _d("2020-01-01"), None),       # wrong cusip
        ],
        "asset_id long, ncusip string, namedt date, nameendt date",
    )
    out = interval_overlap_join(
        ibes, crsp, "cusip", "ncusip", "sdate", "edate", "namedt", "nameendt",
        window_start="2020-01-01", window_end="2020-12-31",
    )
    rows = out.collect()
    assert [r["asset_id"] for r in rows] == [7]
    assert rows[0]["valid_start"] == _d("2020-01-01")
    assert rows[0]["valid_end"] == _d("2020-06-30")


def test_trading_calendar_weekdays_only(spark):
    cal = trading_calendar(spark, "2020-01-01", "2020-01-14").collect()
    days = {r["date"] for r in cal}
    assert _d("2020-01-04") not in days  # Saturday
    assert _d("2020-01-05") not in days  # Sunday
    assert _d("2020-01-06") in days
    assert len(days) == 10
    assert all(r["is_trading_day"] for r in cal)


def test_explode_membership(spark):
    cal = trading_calendar(spark, "2020-01-01", "2020-01-31")
    intervals = spark.createDataFrame(
        [(1, _d("2020-01-02"), _d("2020-01-08")), (2, _d("2020-01-30"), None)],
        "asset_id long, start_date date, end_date date",
    )
    out = explode_membership(intervals, cal, clamp_end="2020-01-31").collect()
    per_asset: dict[int, set] = {}
    for r in out:
        per_asset.setdefault(r["asset_id"], set()).add(r["date"])
    # asset 1: Jan 2,3,6,7,8 (4th/5th are weekend)
    assert per_asset[1] == {_d(f"2020-01-0{d}") for d in (2, 3, 6, 7, 8)}
    # asset 2: open-ended clamped to Jan 30, 31
    assert per_asset[2] == {_d("2020-01-30"), _d("2020-01-31")}
    assert all(r["in_sp500"] for r in out)


def test_melt_factors(spark):
    wide = spark.createDataFrame(
        [(_d("2020-01-02"), 1.0, -0.5, None, 0.25)],
        "date date, mktrf double, smb double, hml double, rf double",
    )
    out = {r["factor_name"]: r["ret"] for r in melt_factors(wide).collect()}
    assert out == {"MKT": pytest.approx(0.01), "SMB": pytest.approx(-0.005)}
    # null hml dropped; rf not a factor column


def test_cumulative_index(spark):
    df = spark.createDataFrame(
        [(_d("2020-01-01"), 0.10), (_d("2020-01-02"), -0.50), (_d("2020-01-03"), 1.0)],
        "date date, ret double",
    )
    out = [
        r["level"]
        for r in cumulative_index(df, partition_cols=None)
        .orderBy("date")
        .collect()
    ]
    assert out == pytest.approx([110.0, 55.0, 110.0])


def test_cumulative_index_warns_on_implicit_global_window(spark):
    """Leaving partition_cols unspecified must warn (global single-task
    window); acknowledging with an explicit None must not."""
    import warnings

    df = spark.createDataFrame(
        [(_d("2020-01-01"), 0.10)], "date date, ret double"
    )
    with pytest.warns(UserWarning, match="GLOBAL"):
        cumulative_index(df)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cumulative_index(df, partition_cols=None)
        cumulative_index(df, partition_cols=["date"])


def test_as_of_join(spark):
    from quantlab_data_pipeline_spark.operators.asof import as_of_join

    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("A", 9, 12.0), ("B", 4, 50.0)],
        "sym string, ts long, px double",
    )
    trades = spark.createDataFrame(
        [("A", 0), ("A", 1), ("A", 6), ("A", 20), ("B", 3), ("C", 7)],
        "sym string, ts long",
    )
    out = {
        (r["sym"], r["ts"]): (r["asof_ts"], r["asof_px"])
        for r in as_of_join(trades, quotes, on=["sym"]).collect()
    }
    assert len(out) == 6
    assert out[("A", 0)] == (None, None)       # nothing before
    assert out[("A", 1)] == (1, 10.0)          # backward-INCLUSIVE tie
    assert out[("A", 6)] == (5, 11.0)          # most recent prior
    assert out[("A", 20)] == (9, 12.0)         # carries forward
    assert out[("B", 3)] == (None, None)       # B's quote is later
    assert out[("C", 7)] == (None, None)       # key absent from right


def test_salted_join_equals_plain_join(spark):
    from quantlab_data_pipeline_spark.operators.skew import salted_join

    # hot key: 'X' carries 500 of 520 rows
    left = spark.createDataFrame(
        [("X", i) for i in range(500)] + [(f"k{i}", i) for i in range(20)],
        "key string, payload int",
    )
    right = spark.createDataFrame(
        [("X", 1.5)] + [(f"k{i}", float(i)) for i in range(10)],
        "key string, weight double",
    )
    plain = {
        (r["key"], r["payload"], r["weight"])
        for r in left.join(right, ["key"]).collect()
    }
    salted = {
        (r["key"], r["payload"], r["weight"])
        for r in salted_join(left, right, on=["key"], salt_n=4).collect()
    }
    assert salted == plain
    assert len(salted) == 510  # 500 hot + 10 matched cold keys

    # left-join semantics survive too
    plain_l = left.join(right, ["key"], "left").count()
    salted_l = salted_join(left, right, on=["key"], how="left", salt_n=4).count()
    assert plain_l == salted_l


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key: with broadcast disabled
    (bucketing matters when BOTH sides are too big to broadcast), the
    sort-merge join must read co-located buckets and plan no Exchange —
    the shuffle happened once, at write time."""
    import shutil
    from quantlab_data_pipeline_spark.storage.bucketing import (
        bucketed_join_ready,
        read_table,
        write_bucketed,
    )

    for t in ("bk_left", "bk_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    left = spark.range(0, 10_000).withColumnRenamed("id", "k").withColumn(
        "a", F.col("k") * 2
    )
    right = spark.range(0, 5_000).withColumnRenamed("id", "k").withColumn(
        "b", F.col("k") + 1
    )
    write_bucketed(left, "bk_left", ["k"], n_buckets=8, sort_cols=["k"])
    write_bucketed(right, "bk_right", ["k"], n_buckets=8, sort_cols=["k"])
    assert bucketed_join_ready(spark, "bk_left", "bk_right")

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_table(spark, "bk_left").join(read_table(spark, "bk_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
        assert "Bucketed: true" in plan
        assert joined.count() == 5_000

        # same join WITHOUT bucketing shuffles both sides
        plain_plan = left.join(right, "k")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE bk_left")
        spark.sql("DROP TABLE bk_right")


def test_sketch_distinct_tracks_exact(spark):
    """HLL++ estimate at rsd=0.01 must land within 3% of the exact
    distinct count on the real events table."""
    from quantlab_data_pipeline_spark.queries import (
        distinct_users_exact,
        distinct_users_sketch,
    )

    sf = "/root/testdata/sf0.01"
    exact = {r["event_type"]: r["n_users"]
             for r in distinct_users_exact(spark, sf).collect()}
    approx = {r["event_type"]: r["n_users_approx"]
              for r in distinct_users_sketch(spark, sf).collect()}
    assert set(exact) == set(approx)
    for k in exact:
        assert abs(approx[k] - exact[k]) / exact[k] <= 0.03, (k, exact[k], approx[k])


def test_range_clustered_write_narrows_file_stats(spark, tmp_path):
    """Range-clustered files must each cover a narrow disjoint key
    range (footer min/max), where an unclustered write's files all span
    the full range — the property that powers rowgroup skipping."""
    import pyarrow.parquet as pq
    from pathlib import Path
    from quantlab_data_pipeline_spark.storage.bucketing import write_range_clustered

    df = (
        spark.range(0, 100_000)
        .withColumnRenamed("id", "seq")
        .withColumn("k", F.pmod(F.xxhash64("seq"), F.lit(100_000)))  # shuffled order
    )
    clustered = str(tmp_path / "clustered")
    plain = str(tmp_path / "plain")
    write_range_clustered(df, clustered, ["k"], n_files=8)
    df.repartition(8).write.mode("overwrite").parquet(plain)

    def spans(path):
        out = []
        for f in Path(path).glob("part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
            out.append(hi - lo)
        return out

    full = 100_000
    clustered_spans = spans(clustered)
    plain_spans = spans(plain)
    # every clustered file covers a small slice; every plain file ~everything
    assert max(clustered_spans) < full * 0.35, clustered_spans
    assert min(plain_spans) > full * 0.9, plain_spans

    # and the filtered scan reads fewer files' worth of data
    got = spark.read.parquet(clustered).filter(F.col("k") < 1000).count()
    exp = df.filter(F.col("k") < 1000).count()
    assert got == exp


def test_approx_percentile_tracks_exact(spark):
    """approx_percentile (KLL-style sketch) within 2% of exact
    interpolated percentiles on the real customer balances."""
    from quantlab_data_pipeline_spark.sources.testdata import load_table

    cust = load_table(spark, "/root/testdata/sf0.01", "customer")
    row = cust.agg(
        F.percentile("c_acctbal", F.lit(0.5)).alias("exact50"),
        F.percentile_approx("c_acctbal", F.lit(0.5), F.lit(10000)).alias("approx50"),
        F.percentile("c_acctbal", F.lit(0.95)).alias("exact95"),
        F.percentile_approx("c_acctbal", F.lit(0.95), F.lit(10000)).alias("approx95"),
    ).collect()[0]
    spread = cust.agg(F.max("c_acctbal") - F.min("c_acctbal")).collect()[0][0]
    assert abs(row["approx50"] - row["exact50"]) / spread <= 0.02
    assert abs(row["approx95"] - row["exact95"]) / spread <= 0.02


def test_pct_change_zero_prior_yields_null_not_ansi_error(spark):
    """A zero prior value must produce a null return, not an ANSI
    DIVIDE_BY_ZERO that aborts the job (VERDICT r1 #3)."""
    df = spark.createDataFrame(
        [(1, _d("2020-01-01"), 0.0), (1, _d("2020-01-02"), 5.0)],
        "asset_id long, date date, close double",
    )
    rows = {r["date"]: r["ret_1d"]
            for r in pct_change(df, "close", ["asset_id"]).collect()}
    assert rows[_d("2020-01-01")] is None  # no prior row
    assert rows[_d("2020-01-02")] is None  # prior close == 0


def test_dividend_yield_zero_close_yields_null_not_ansi_error(spark):
    """Zero closes are real in CRSP bid/ask-average rows; the yield must
    null out instead of killing the 17-step ingest (VERDICT r1 #3)."""
    df = spark.createDataFrame(
        [(1, _d("2020-01-01"), 0.5, 1232, 0.0)],
        "asset_id long, date date, divamt double, distcd int, close double",
    )
    out = clean_dividends(df).collect()
    assert len(out) == 1
    assert out[0]["dividend_yield"] is None


def test_salted_join_rejects_outer_joins(spark):
    from quantlab_data_pipeline_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], "k long, va string")
    b = spark.createDataFrame([(1, "y"), (2, "z")], "k long, vb string")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(a, b, ["k"], how="full_outer")
    # left joins remain supported and correct
    got = {tuple(r) for r in salted_join(a, b, ["k"], how="left").collect()}
    assert got == {(1, "x", "y")}


def test_lsh_candidate_pairs_rejects_bad_band_count(spark):
    from quantlab_data_pipeline_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven")], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs, num_hashes=64)
    with pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(sigs, bands=7)  # 64 % 7 != 0
    with pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(sigs, bands=128)  # wider than the signature


def test_derive_ibes_coverage_collapses_and_splits(spark):
    """Consecutive same-CUSIP snapshots collapse into one island; a
    CUSIP change ends the prior window the day before the new snapshot;
    the last island stays open (null end)."""
    from quantlab_data_pipeline_spark.operators import derive_ibes_coverage

    ids = spark.createDataFrame(
        [
            ("AAA", "11111111", "Old Co", _d("2000-01-01"), None),
            ("AAA", "11111111", "Old Co Renamed", _d("2005-01-01"), None),
            ("AAA", "22222222", "New Co", _d("2010-01-01"), None),
            ("BBB", "33333333", "Solo Co", _d("2001-01-01"), None),
        ],
        "ticker string, cusip string, cname string, start_date date, end_date date",
    )
    out = {
        (r["ticker"], r["cusip"]): r
        for r in derive_ibes_coverage(ids).collect()
    }
    assert len(out) == 3  # the same-CUSIP re-snapshot collapsed
    a1 = out[("AAA", "11111111")]
    assert a1["start_date"] == _d("2000-01-01")
    assert a1["end_date"] == _d("2009-12-31")
    assert a1["cname"] == "Old Co Renamed"  # latest snapshot's name wins
    a2 = out[("AAA", "22222222")]
    assert a2["start_date"] == _d("2010-01-01")
    assert a2["end_date"] is None  # last island open
    assert out[("BBB", "33333333")]["end_date"] is None


def test_zorder_write_narrows_stats_on_both_dims(spark, tmp_path):
    """Z-order files must have narrow footer min/max on BOTH clustered
    columns; 1-D range clustering narrows only the leading one."""
    import pyarrow.parquet as pq
    from pathlib import Path
    from quantlab_data_pipeline_spark.storage.bucketing import (
        write_range_clustered,
        write_zorder_clustered,
    )

    n = 100_000
    df = (
        spark.range(0, n).withColumnRenamed("id", "seq")
        .withColumn("x", F.pmod(F.xxhash64("seq"), F.lit(n)))
        .withColumn("y", F.pmod(F.xxhash64("seq", F.lit(7)), F.lit(n)))
    )
    zpath, rpath = str(tmp_path / "zorder"), str(tmp_path / "range1d")
    write_zorder_clustered(df, zpath, ["x", "y"], n_files=16)
    write_range_clustered(df, rpath, ["x"], n_files=16)

    def mean_span(path, col_idx):
        spans = []
        for f in Path(path).glob("part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo = min(md.row_group(i).column(col_idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(col_idx).statistics.max
                     for i in range(md.num_row_groups))
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    # columns: 0=seq, 1=x, 2=y
    assert mean_span(zpath, 1) < n * 0.5   # both dims narrowed
    assert mean_span(zpath, 2) < n * 0.5
    assert mean_span(rpath, 1) < n * 0.2   # 1-D: leading dim narrow...
    assert mean_span(rpath, 2) > n * 0.9   # ...other dim full-range

    # correctness: clustered copy answers a 2-D filter identically
    got = spark.read.parquet(zpath).filter((F.col("x") < 5000) & (F.col("y") < 5000)).count()
    exp = df.filter((F.col("x") < 5000) & (F.col("y") < 5000)).count()
    assert got == exp


def test_compact_table_reduces_files(spark, tmp_path):
    from quantlab_data_pipeline_spark.storage.compaction import (
        compact_table,
        dataset_bytes,
    )

    path = tmp_path / "frag"
    df = spark.range(20_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(str(path))
    _, n_before = dataset_bytes(spark, path)
    assert n_before == 40

    report = compact_table(spark, path, target_mb=256, sort_by=["id"])
    assert report["files_before"] == 40
    assert report["files_after"] < 40
    assert report["files_after"] == report["target_files"] == 1
    # data survives the swap byte-for-byte
    out = spark.read.parquet(str(path)).orderBy("id").collect()
    assert len(out) == 20_000
    assert out[7]["v"] == 14
    # no temp/backup residue
    assert not (tmp_path / "frag.__compact_tmp").exists()
    assert not (tmp_path / "frag.__compact_old").exists()


def test_compact_table_partitioned_layout(spark, tmp_path):
    from quantlab_data_pipeline_spark.storage.compaction import compact_table

    path = tmp_path / "part"
    df = spark.range(9_000).withColumns(
        {"year": (F.col("id") % 3 + 2020).cast("int"), "v": F.col("id") * 3}
    )
    df.repartition(20).write.partitionBy("year").parquet(str(path))
    files_before = len(spark.read.parquet(str(path)).inputFiles())
    assert files_before >= 30  # slivers in every partition dir

    report = compact_table(
        spark, path, target_mb=256, sort_by=["id"], partition_by=["year"]
    )
    assert report["files_after"] < files_before
    # hive layout preserved, per-partition data intact
    kept = spark.read.parquet(str(path))
    assert sorted(r["year"] for r in kept.select("year").distinct().collect()) == [
        2020,
        2021,
        2022,
    ]
    assert kept.count() == 9_000
    assert kept.filter("year = 2021").count() == 3_000


def test_compact_table_rejects_bad_args(spark, tmp_path):
    from quantlab_data_pipeline_spark.storage.compaction import compact_table

    with pytest.raises(FileNotFoundError):
        compact_table(spark, tmp_path / "missing")
    p = tmp_path / "ok"
    spark.range(10).write.parquet(str(p))
    with pytest.raises(ValueError, match="target_mb"):
        compact_table(spark, p, target_mb=0)


def test_fuzzy_pairs_distance1_matches_bruteforce(spark):
    """Deletion-neighborhood blocking is exact: pairs equal a python
    brute-force Levenshtein<=1 sweep over names covering substitution,
    insertion, deletion, identity, and a distance-2 non-match."""
    from quantlab_data_pipeline_spark.operators.fuzzy import (
        fuzzy_pairs_distance1,
    )

    names = [
        (1, "acme corp"),
        (2, "acme c0rp"),   # substitution
        (3, "acme corps"),  # insertion
        (4, "acme cor"),    # deletion
        (5, "acme corp"),   # identical (distance 0)
        (6, "acne co"),     # distance 2 from "acme cor": no match? verify below
        (7, "zz totally different"),
        (8, ""),            # empty string edge
        (9, "a"),           # matches "" at distance 1
    ]

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    expected = {
        (i, j, lev(a, b))
        for (i, a) in names
        for (j, b) in names
        if i < j and lev(a, b) <= 1
    }
    df = spark.createDataFrame(names, "id long, name string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in fuzzy_pairs_distance1(df, "id", "name").collect()
    }
    assert got == expected


def test_as_of_join_forward_with_tolerance(spark):
    from quantlab_data_pipeline_spark.operators.asof import as_of_join

    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("A", 9, 12.0), ("B", 4, 50.0)],
        "sym string, ts long, px double",
    )
    trades = spark.createDataFrame(
        [("A", 0), ("A", 5), ("A", 6), ("A", 20), ("B", 3), ("C", 7)],
        "sym string, ts long",
    )
    fwd = {
        (r["sym"], r["ts"]): (r["asof_ts"], r["asof_px"])
        for r in as_of_join(
            trades, quotes, on=["sym"], direction="forward"
        ).collect()
    }
    assert fwd[("A", 0)] == (1, 10.0)    # earliest following
    assert fwd[("A", 5)] == (5, 11.0)    # forward-INCLUSIVE tie
    assert fwd[("A", 6)] == (9, 12.0)
    assert fwd[("A", 20)] == (None, None)  # nothing after
    assert fwd[("B", 3)] == (4, 50.0)
    assert fwd[("C", 7)] == (None, None)

    # tolerance nulls matches farther than 2 time units
    tol = {
        (r["sym"], r["ts"]): (r["asof_ts"], r["asof_px"])
        for r in as_of_join(
            trades, quotes, on=["sym"], direction="forward",
            tolerance_seconds=2,
        ).collect()
    }
    assert tol[("A", 0)] == (1, 10.0)      # gap 1 <= 2
    assert tol[("A", 6)] == (None, None)   # gap 3 > 2
    assert tol[("B", 3)] == (4, 50.0)      # gap 1 <= 2

    with pytest.raises(ValueError):
        as_of_join(trades, quotes, on=["sym"], direction="nearest")


def test_as_of_join_forward_matches_pandas_merge_asof(spark):
    import numpy as np
    import pandas as pd

    from quantlab_data_pipeline_spark.operators.asof import as_of_join

    rng = np.random.default_rng(7)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 200).astype(str),
            "t": rng.integers(0, 1000, 200),
        }
    ).drop_duplicates(["k", "t"])
    right = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 100).astype(str),
            "t": rng.integers(0, 1000, 100),
            "v": rng.normal(size=100).round(6),
        }
    ).drop_duplicates(["k", "t"])
    exp = pd.merge_asof(
        left.sort_values("t"),
        right.sort_values("t"),
        on="t",
        by="k",
        direction="forward",
        tolerance=50,
    )
    got = as_of_join(
        spark.createDataFrame(left.astype({"t": "int64"})),
        spark.createDataFrame(right.astype({"t": "int64"})),
        on=["k"],
        left_ts="t",
        right_ts="t",
        direction="forward",
        tolerance_seconds=50,
    ).toPandas()
    e = {
        (r.k, r.t): (None if pd.isna(r.v) else round(r.v, 6))
        for r in exp.itertuples()
    }
    g = {
        (r.k, r.t): (None if pd.isna(r.asof_v) else round(r.asof_v, 6))
        for r in got.itertuples()
    }
    assert g == e


def test_merge_intervals(spark):
    from quantlab_data_pipeline_spark.operators import merge_intervals

    iv = spark.createDataFrame(
        [
            # overlapping + touching chain -> one span [0, 12)
            ("u1", 0, 5), ("u1", 3, 8), ("u1", 8, 12),
            # nested interval swallowed
            ("u1", 20, 30), ("u1", 22, 25),
            # disjoint singleton
            ("u2", 1, 2),
        ],
        "k string, start long, end long",
    )
    got = {
        (r["k"], r["start"], r["end"], r["n_merged"])
        for r in merge_intervals(iv, ["k"], "start", "end").collect()
    }
    assert got == {
        ("u1", 0, 12, 3),
        ("u1", 20, 30, 2),
        ("u2", 1, 2, 1),
    }


def test_scd2_from_changelog(spark):
    from quantlab_data_pipeline_spark.operators import scd2_from_changelog

    log = spark.createDataFrame(
        [
            ("u1", 1, "gold", "US"),
            ("u1", 3, "gold", "US"),   # no change -> same version
            ("u1", 5, "silver", "US"),  # tier change
            ("u1", 9, "silver", "DE"),  # country change
            ("u2", 2, None, "FR"),      # null attr is a value
            ("u2", 4, None, "FR"),
            ("u2", 6, "gold", "FR"),
        ],
        "k string, ts long, tier string, country string",
    )
    rows = {
        (r["k"], r["tier"], r["country"], r["valid_from"], r["valid_to"],
         r["is_current"])
        for r in scd2_from_changelog(
            log, ["k"], "ts", ["tier", "country"]
        ).collect()
    }
    assert rows == {
        ("u1", "gold", "US", 1, 5, False),
        ("u1", "silver", "US", 5, 9, False),
        ("u1", "silver", "DE", 9, None, True),
        ("u2", None, "FR", 2, 6, False),
        ("u2", "gold", "FR", 6, None, True),
    }


def test_bucketed_range_join_matches_theta_join(spark):
    import numpy as np

    from quantlab_data_pipeline_spark.operators.rangejoin import (
        bucketed_range_join,
    )

    rng = np.random.default_rng(11)
    pts = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(rng.uniform(0, 100, 500))],
        "pid long, x double",
    )
    # random intervals incl. overlapping, degenerate (end < start), and
    # zero-width ones
    lo = rng.uniform(0, 100, 60)
    span = rng.uniform(-2, 15, 60)
    iv = spark.createDataFrame(
        [(int(i), float(a), float(a + s)) for i, (a, s) in enumerate(zip(lo, span))],
        "iid long, lo double, hi double",
    )
    expected = {
        (r["pid"], r["iid"])
        for r in pts.join(
            iv, (pts.x >= iv.lo) & (pts.x < iv.hi), "inner"
        ).collect()
    }
    for width in (0.5, 7.0, 1000.0):
        got = {
            (r["pid"], r["iid"])
            for r in bucketed_range_join(
                pts, iv, "x", "lo", "hi", bucket_width=width
            ).collect()
        }
        assert got == expected, width

    # inclusive end bound
    incl = {
        (r["pid"], r["iid"])
        for r in bucketed_range_join(
            pts, iv, "x", "lo", "hi", bucket_width=7.0, end_inclusive=True
        ).collect()
    }
    exp_incl = {
        (r["pid"], r["iid"])
        for r in pts.join(
            iv, (pts.x >= iv.lo) & (pts.x <= iv.hi), "inner"
        ).collect()
    }
    assert incl == exp_incl

    # left join keeps pointless points with null interval columns
    left = bucketed_range_join(
        pts, iv, "x", "lo", "hi", bucket_width=7.0, how="left"
    )
    rows = left.collect()
    assert {r["pid"] for r in rows} == {r["pid"] for r in pts.collect()}
    matched_pids = {p for (p, _) in expected}
    for r in rows:
        if r["pid"] not in matched_pids:
            assert r["iid"] is None and r["lo"] is None

    with pytest.raises(ValueError):
        bucketed_range_join(pts, iv, "x", "lo", "hi", 7.0, how="full")
    with pytest.raises(ValueError):
        bucketed_range_join(pts, iv, "x", "lo", "hi", 0.0)


def test_bucketed_range_join_plans_hash_join_not_nested_loop(spark):
    from quantlab_data_pipeline_spark.operators.rangejoin import (
        bucketed_range_join,
    )

    pts = spark.range(1000).selectExpr("id AS pid", "CAST(id % 97 AS DOUBLE) AS x")
    iv = spark.range(200).selectExpr(
        "id AS iid", "CAST(id % 90 AS DOUBLE) AS lo",
        "CAST(id % 90 + 3 AS DOUBLE) AS hi",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = bucketed_range_join(
            pts, iv, "x", "lo", "hi", bucket_width=5.0
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_resolve_hierarchy_pointer_doubling(spark):
    from quantlab_data_pipeline_spark.operators.hierarchy import (
        resolve_hierarchy,
    )

    # a 9-deep chain (forces several doublings), a bushy tree, and an
    # isolated node supplied via nodes=
    chain = [(i + 1, i) for i in range(9)]              # 9<-8<-...<-0
    tree = [(20, 100), (21, 100), (22, 20)]             # 100 root
    edges = spark.createDataFrame(chain + tree, "child long, parent long")
    nodes = spark.createDataFrame([(999,), (0,)], "id long")
    got = {
        r["node"]: (r["root"], r["depth"])
        for r in resolve_hierarchy(edges, nodes=nodes).collect()
    }
    for i in range(10):
        assert got[i] == (0, i)
    assert got[100] == (100, 0)
    assert got[20] == (100, 1)
    assert got[22] == (100, 2)
    assert got[999] == (999, 0)   # isolated node is its own root
    assert len(got) == 15

    # cycle -> ValueError, not an infinite loop
    cyc = spark.createDataFrame([(1, 2), (2, 1)], "child long, parent long")
    with pytest.raises(ValueError):
        resolve_hierarchy(cyc, max_rounds=5)


def test_snapshot_diff_classification(spark):
    from quantlab_data_pipeline_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", 20.0),
            (3, "c", None),     # null -> value is an update
            (4, "d", 40.0),     # deleted
            (5, "e", 50.0),     # unchanged
        ],
        "k long, name string, bal double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 11.0),         # bal update
            (2, "bb", 21.0),        # both cols update
            (3, "c", 30.0),
            (5, "e", 50.0),
            (6, "f", 60.0),         # insert
        ],
        "k long, name string, bal double",
    )
    rows = {
        r["k"]: (r["change_type"], tuple(r["changed_cols"]))
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert rows == {
        1: ("update", ("bal",)),
        2: ("update", ("bal", "name")),
        3: ("update", ("bal",)),
        4: ("delete", ()),
        6: ("insert", ()),
    }
    # include_unchanged surfaces row 5 too
    all_rows = snapshot_diff(old, new, ["k"], include_unchanged=True)
    assert all_rows.count() == 6
    unchanged = {
        r["k"] for r in all_rows.filter("change_type = 'unchanged'").collect()
    }
    assert unchanged == {5}


def test_as_of_join_equals_pandas_merge_asof(spark):
    """The union+window plan must produce exactly what
    ``pandas.merge_asof`` gives per key on randomized data, in all four
    (direction, tolerance) combinations, including a key present on
    only one side."""
    import numpy as np
    import pandas as pd

    from quantlab_data_pipeline_spark.operators.asof import as_of_join

    rng = np.random.default_rng(23)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 4, 300).astype(str),  # key 3: left-only
            "t": rng.integers(0, 500, 300),
            "lid": np.arange(300),
        }
    ).drop_duplicates(["k", "t"])
    right = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 150).astype(str),
            "t": rng.integers(0, 500, 150),
            "px": rng.normal(size=150).round(6),
        }
    ).drop_duplicates(["k", "t"])
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    for direction in ("backward", "forward"):
        for tol in (None, 40):
            got = {
                (r["k"], int(r["t"])): (r["asof_t"], r["asof_px"])
                for r in as_of_join(
                    ldf, rdf, on=["k"], left_ts="t", right_ts="t",
                    direction=direction, tolerance_seconds=tol,
                ).collect()
            }
            want = {}
            for k, lk in left.groupby("k"):
                rk = right[right["k"] == k].sort_values("t")
                merged = pd.merge_asof(
                    lk.sort_values("t"),
                    rk[["t", "px"]].assign(asof_t=rk["t"]),
                    on="t",
                    direction=direction,
                    tolerance=tol,
                )
                for t, at, px in merged[["t", "asof_t", "px"]].itertuples(
                    index=False
                ):
                    want[(k, int(t))] = (
                        (None, None) if pd.isna(at) else (int(at), float(px))
                    )
            assert got == want, (direction, tol)


def test_bucketed_filter_prunes_buckets(spark, tmp_path):
    """Key-equality filters on a bucketed table scan ONE of N buckets
    (`SelectedBucketsCount: 1 out of 8` in the scan node) — the read
    path's answer to point lookups on a 100 TB fact, complementing the
    shuffle-free join the other bucketing test proves."""
    from pyspark.sql import functions as F

    from quantlab_data_pipeline_spark.storage.bucketing import write_bucketed

    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    write_bucketed(df, "bk_prune", ["k"], n_buckets=8, path=tmp_path / "bk_prune")
    # autoBucketedScan turns the bucketed layout OFF when no join/agg
    # consumes it and thereby skips filter-side bucket pruning too —
    # pin it for the probe (a real point-lookup reader would do the
    # same, or read through a join/agg where the layout stays on).
    prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        q = spark.table("bk_prune").filter(F.col("k") == 4242)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan[:800]
        assert [r["v"] for r in q.collect()] == [4242 % 97]
    finally:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
        spark.sql("DROP TABLE IF EXISTS bk_prune")


def test_grouped_global_rank_equals_naive_window(spark):
    """grouped_global_rank must reproduce row_number() OVER (PARTITION
    BY group ORDER BY ...) and the group size EXACTLY — on a skewed
    frame (one group holds ~90% of rows, the giant-group shape the
    operator exists for), across desc/asc mixed order and a
    num_partitions much smaller than the data."""
    from pyspark.sql import Window

    from quantlab_data_pipeline_spark.operators import grouped_global_rank

    df = spark.range(5_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 7).cast("string")))
        .alias("grp"),
        (F.xxhash64(F.col("id")) % 1000).alias("score"),
        F.col("id"),
    )
    order = [F.desc("score"), F.asc("id")]
    w = Window.partitionBy("grp").orderBy(*order)
    naive = df.select(
        "grp",
        "id",
        F.row_number().over(w).alias("rank"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("n_in_group"),
    )
    got = grouped_global_rank(
        df, ["grp"], order, num_partitions=8
    ).select("grp", "id", "rank", "n_in_group")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_grouped_global_rank_no_group_only_data_sort(spark):
    """The whole point: no window over the DATA may be partitioned by
    the group column alone (that is the one-task-per-language shape).
    Group-only windows are allowed only over the aggregated
    (group, partition) -> count frame — groups x partitions rows —
    which the plan identifies by its __cnt column. Also pins AQE
    exchange reuse: the range-partitioned input subtree must execute
    once, not once per branch."""
    import re

    from quantlab_data_pipeline_spark.operators import grouped_global_rank

    df = spark.range(1_000).select(
        (F.col("id") % 3).alias("grp"), F.col("id").alias("v")
    )
    out = grouped_global_rank(df, ["grp"], [F.asc("v")], num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if re.search(r"\bWindow\b.*\], \[grp#\d+L?\](,|$)", line):
            assert "__cnt" in line, f"group-only window over data: {line}"
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    # The range-partitioned input is FROZEN via localCheckpoint (one
    # materialized evaluation feeds both branches — the pre-freeze
    # ReusedExchange pin was the weaker version of this guarantee, and
    # it could silently fail to hold, splitting the branches onto
    # DIFFERENT sampled boundaries and dropping rows); the audited
    # plan must read the checkpointed RDD and contain no range
    # exchange of its own.
    assert "Scan ExistingRDD" in final, final[:2000]
    assert "rangepartitioning" not in final, final[:2000]


def test_grouped_global_cumsum_equals_naive_window(spark):
    """grouped_global_cumsum must reproduce sum() OVER (PARTITION BY
    group ORDER BY ... ROWS UNBOUNDED PRECEDING) exactly on the same
    skewed giant-group frame the rank test uses."""
    from pyspark.sql import Window

    from quantlab_data_pipeline_spark.operators import grouped_global_cumsum

    df = spark.range(5_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 7).cast("string")))
        .alias("grp"),
        (F.pmod(F.xxhash64(F.col("id")), F.lit(50)) + 1).alias("v"),
        (F.xxhash64(F.col("id"), F.lit(1)) % 1000).alias("score"),
        F.col("id"),
    )
    order = [F.desc("score"), F.asc("id")]
    w = (
        Window.partitionBy("grp")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = df.select("grp", "id", F.sum("v").over(w).alias("cumsum"))
    got = grouped_global_cumsum(
        df, ["grp"], order, "v", num_partitions=8
    ).select("grp", "id", "cumsum")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_grouped_global_cumsum_no_group_only_data_sort(spark):
    """Same plan pin as the rank twin: no window over the DATA may be
    partitioned by the group column alone — group-only windows are
    allowed only over the aggregated (group, partition) subtotal frame
    (identified by its __cell column)."""
    import re

    from quantlab_data_pipeline_spark.operators import grouped_global_cumsum

    df = spark.range(1_000).select(
        (F.col("id") % 3).alias("grp"),
        F.lit(1).alias("v"),
        F.col("id").alias("ord"),
    )
    out = grouped_global_cumsum(
        df, ["grp"], [F.asc("ord")], "v", num_partitions=8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if re.search(r"\bWindow\b.*\], \[grp#\d+L?\](,|$)", line):
            assert "__cell" in line, f"group-only window over data: {line}"
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    # The range-partitioned input is FROZEN via localCheckpoint (one
    # materialized evaluation feeds both branches — the pre-freeze
    # ReusedExchange pin was the weaker version of this guarantee, and
    # it could silently fail to hold, splitting the branches onto
    # DIFFERENT sampled boundaries and dropping rows); the audited
    # plan must read the checkpointed RDD and contain no range
    # exchange of its own.
    assert "Scan ExistingRDD" in final, final[:2000]
    assert "rangepartitioning" not in final, final[:2000]


def test_grouped_global_rank_and_cumsum_keep_null_groups(spark):
    """A NULL group key is one legitimate group (the unknown-host queue
    of a crawl frontier): the offsets join is null-safe, so null-group
    rows must come back ranked/cumsummed, equal to the naive window
    (which also treats NULL as one partition)."""
    from pyspark.sql import Window

    from quantlab_data_pipeline_spark.operators import (
        grouped_global_cumsum,
        grouped_global_rank,
    )

    df = spark.range(200).select(
        F.when(F.col("id") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 5).cast("string")))
        .alias("grp"),
        (F.col("id") % 11).cast("long").alias("v"),
        F.col("id"),
    )
    order = [F.asc("v"), F.asc("id")]
    naive = df.select(
        "id",
        F.row_number()
        .over(Window.partitionBy("grp").orderBy(*order))
        .alias("rank"),
        F.sum("v")
        .over(
            Window.partitionBy("grp")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cumsum"),
    )
    got_rank = grouped_global_rank(df, ["grp"], order, num_partitions=8)
    got_cum = grouped_global_cumsum(
        df, ["grp"], order, "v", num_partitions=8
    )
    assert got_rank.count() == 200 and got_cum.count() == 200
    nr = {r.id: (r.rank, r.cumsum) for r in naive.collect()}
    gr = {r.id: r.rank for r in got_rank.collect()}
    gc = {r.id: r.cumsum for r in got_cum.collect()}
    assert all(nr[i][0] == gr[i] for i in nr)
    assert all(nr[i][1] == gc[i] for i in nr)
