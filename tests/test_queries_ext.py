"""Pandas cross-checks for the extended-registry quant ops.

The DuckDB oracle gate (scripts/check_correctness.py) already compares
these queries engine-to-engine; these tests add a third, independent
implementation (pandas/numpy) of the window semantics at sf0.001, so a
shared misreading of the statistic between the two SQL engines would
still be caught.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_pd():
    df = pd.read_parquet(f"{SF}/events.parquet")
    df["ts"] = pd.to_datetime(df["ts"])
    return df.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)


def test_rolling_volatility_matches_pandas(spark, events_pd):
    from quantlab_data_pipeline_spark.queries_ext import rolling_volatility

    got = {
        r["event_id"]: r["vol_20"]
        for r in rolling_volatility(spark, SF).collect()
    }
    g = events_pd.groupby("user_id")["value"]
    exp_series = g.rolling(20, min_periods=20).std(ddof=1)
    exp = {
        int(events_pd.loc[i, "event_id"]): round(v, 6)
        for (_, i), v in exp_series.items()
        if not np.isnan(v)
    }
    assert got == pytest.approx(exp)


def test_max_drawdown_matches_pandas(spark, events_pd):
    from quantlab_data_pipeline_spark.queries_ext import max_drawdown

    got = {
        r["user_id"]: r["max_drawdown"]
        for r in max_drawdown(spark, SF).collect()
    }
    exp = {}
    for uid, grp in events_pd.groupby("user_id"):
        cum = (grp["value"] - 50.0).cumsum()
        exp[int(uid)] = round(float((cum - cum.cummax()).min()), 6)
    assert got == pytest.approx(exp)


def test_rolling_beta_matches_numpy(spark, events_pd):
    from quantlab_data_pipeline_spark.queries_ext import rolling_beta

    got = {r["user_id"]: r["beta"] for r in rolling_beta(spark, SF).collect()}
    df = events_pd.copy()
    df["h"] = df["ts"].dt.floor("h")
    uh = df.groupby(["user_id", "h"])["value"].mean()
    mh = df.groupby("h")["value"].mean()
    exp = {}
    for uid, s in uh.groupby(level=0):
        u = s.droplevel(0)
        m = mh.loc[u.index]
        if len(u) < 2:
            continue
        cov = np.cov(u.to_numpy(), m.to_numpy(), ddof=1)
        exp[int(uid)] = round(float(cov[0, 1] / cov[1, 1]), 6)
    assert set(got) == set(exp)
    for uid in exp:
        assert got[uid] == pytest.approx(exp[uid], abs=1e-5), uid


def test_ohlc_bars_matches_pandas(spark, events_pd):
    from quantlab_data_pipeline_spark.queries_ext import ohlc_bars

    got = {
        (r["user_id"], pd.Timestamp(r["bar_ts"])): (
            r["open"], r["high"], r["low"], r["close"], r["n_ticks"]
        )
        for r in ohlc_bars(spark, SF).collect()
    }
    df = events_pd.copy()
    df["bar"] = df["ts"].dt.floor("h")
    exp = {}
    for (uid, bar), grp in df.groupby(["user_id", "bar"]):
        grp = grp.sort_values(["ts", "event_id"])
        exp[(int(uid), bar)] = (
            round(float(grp["value"].iloc[0]), 2),
            round(float(grp["value"].max()), 2),
            round(float(grp["value"].min()), 2),
            round(float(grp["value"].iloc[-1]), 2),
            len(grp),
        )
    assert got == exp


def test_decimal_revenue_is_partitioning_invariant(spark):
    """The decimal money sums must yield bit-identical results under a
    different partition layout (the property double sums lack)."""
    from quantlab_data_pipeline_spark.queries_ext import q19_discounted_revenue
    from quantlab_data_pipeline_spark.sources.testdata import load_table

    base = q19_discounted_revenue(spark, SF).collect()[0]["revenue"]
    li = load_table(spark, SF, "lineitem").repartition(3)
    li.createOrReplaceTempView("__li_repart")
    # same computation over a 3-partition copy via the operator's logic
    from pyspark.sql import functions as F

    part = load_table(spark, SF, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    vol = price * (F.lit(1).cast("decimal(18,4)") - disc)
    other = joined.filter(cond).agg(
        F.round(F.sum(vol), 2).cast("double").alias("revenue")
    ).collect()[0]["revenue"]
    assert base == other


def test_ewma_matches_pandas(spark, events_pd):
    """applyInPandas EWMA must equal a straight driver-side pandas ewm
    over the identically-ordered series — the grouped-map shuffle and
    per-group recursion add nothing but distribution."""
    from quantlab_data_pipeline_spark.queries_ext import ewma_events

    got = {
        r["event_id"]: r["ewma_20"]
        for r in ewma_events(spark, SF).collect()
    }
    want = (
        events_pd.groupby("user_id")["value"]
        .transform(lambda s: s.ewm(span=20, adjust=False).mean())
    )
    assert len(got) == len(events_pd)
    # bitwise: same pandas recursion on both sides (the query no longer
    # rounds — the DuckDB oracle reproduces the recursion exactly)
    for eid, w in zip(events_pd["event_id"], want):
        assert got[eid] == w, eid


def test_rsi_bounds_and_flat_series(spark):
    """RSI stays in [0, 100]; an all-up series pins to 100, a flat
    series yields null (0/0 guarded by nullif, not a crash)."""
    import datetime as dt

    from quantlab_data_pipeline_spark.queries_ext import rsi_events

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(20):  # user 1: strictly rising; user 2: flat
        rows.append((100 + i, t0 + dt.timedelta(hours=i), 1, "c", float(i), None))
        rows.append((200 + i, t0 + dt.timedelta(hours=i), 2, "c", 5.0, None))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )

    import os
    import tempfile

    d = tempfile.mkdtemp()
    os.makedirs(f"{d}", exist_ok=True)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {(r["user_id"], r["event_id"]): r["rsi_14"] for r in rsi_events(spark, d).collect()}
    rising = [v for (u, _), v in out.items() if u == 1]
    flat = [v for (u, _), v in out.items() if u == 2]
    assert rising and all(v == 100.0 for v in rising)
    assert flat and all(v is None for v in flat)


def test_rolling_median_matches_pandas(spark, events_pd):
    from quantlab_data_pipeline_spark.queries_ext import rolling_median

    got = {
        r["event_id"]: r["med_21"] for r in rolling_median(spark, SF).collect()
    }
    g = events_pd.groupby("user_id")["value"]
    exp_series = g.rolling(21, min_periods=21).median()
    exp = {
        int(events_pd.loc[i, "event_id"]): round(v, 6)
        for (_, i), v in exp_series.items()
        if not np.isnan(v)
    }
    assert got == pytest.approx(exp)


def test_forward_fill_matches_pandas(spark, events_pd):
    from quantlab_data_pipeline_spark.queries_ext import forward_fill

    got = {
        r["event_id"]: r["filled_value"]
        for r in forward_fill(spark, SF).collect()
    }
    df = events_pd.copy()
    df.loc[df["event_type"] == "error", "value"] = np.nan
    filled = df.groupby("user_id")["value"].ffill()
    for i, eid in enumerate(df["event_id"]):
        v = filled.iloc[i]
        if np.isnan(v):
            assert got[int(eid)] is None, eid
        else:
            assert got[int(eid)] == pytest.approx(round(v, 6)), eid


def test_zscore_winsorize_matches_numpy(spark, events_pd):
    """Winsorized values are clamped to the hour's exact interpolated
    [p05, p95] and z-scores standardize the clamped cross-section."""
    from quantlab_data_pipeline_spark.queries_ext import zscore_winsorize

    got = {
        r["event_id"]: (r["w_value"], r["zscore"])
        for r in zscore_winsorize(spark, SF).collect()
    }
    df = events_pd.copy()
    df["h"] = df["ts"].dt.floor("h")
    for _, grp in df.groupby("h"):
        p05 = np.percentile(grp["value"], 5, method="linear")
        p95 = np.percentile(grp["value"], 95, method="linear")
        w = grp["value"].clip(p05, p95)
        mu, sd = w.mean(), w.std(ddof=1)
        for eid, wv in zip(grp["event_id"], w):
            gw, gz = got[int(eid)]
            assert gw == pytest.approx(round(wv, 6), abs=1e-6), eid
            if sd > 0:
                assert gz == pytest.approx(round((wv - mu) / sd, 6), abs=1e-5)


def test_funnel_conversion_matches_pandas(spark, events_pd):
    from quantlab_data_pipeline_spark.queries_ext import funnel_conversion

    row = funnel_conversion(spark, SF).collect()[0]
    n_view = n_click = n_purchase = 0
    for _, grp in events_pd.groupby("user_id"):
        v = grp.loc[grp["event_type"] == "view", "ts"].min()
        if pd.isna(v):
            continue
        n_view += 1
        c = grp.loc[
            (grp["event_type"] == "click") & (grp["ts"] > v), "ts"
        ].min()
        if pd.isna(c):
            continue
        n_click += 1
        p = grp.loc[
            (grp["event_type"] == "purchase") & (grp["ts"] > c), "ts"
        ].min()
        if not pd.isna(p):
            n_purchase += 1
    assert (row["n_view"], row["n_click"], row["n_purchase"]) == (
        n_view,
        n_click,
        n_purchase,
    )
    assert row["n_view"] >= row["n_click"] >= row["n_purchase"]


def test_decile_portfolio_ntile_semantics(spark, events_pd):
    """ntile(10) sizes: first (n mod 10) deciles get ceil(n/10) rows,
    the rest floor(n/10); per-decile means match a pandas rank split."""
    from quantlab_data_pipeline_spark.queries_ext import decile_portfolio

    got = {
        (r["bar_ts"], r["decile"]): (r["avg_value"], r["n"])
        for r in decile_portfolio(spark, SF).collect()
    }
    df = events_pd.copy()
    df["h"] = df["ts"].dt.floor("h")
    for h, grp in df.groupby("h"):
        grp = grp.sort_values(["value", "event_id"]).reset_index(drop=True)
        n = len(grp)
        buckets = min(10, n)
        base, extra = divmod(n, 10)
        sizes = [base + (1 if i < extra else 0) for i in range(buckets)]
        start = 0
        for i, size in enumerate(sizes, start=1):
            if size == 0:
                continue
            chunk = grp.iloc[start : start + size]
            start += size
            avg, cnt = got[(h.to_pydatetime(), i)]
            assert cnt == size, (h, i)
            assert avg == pytest.approx(round(chunk["value"].mean(), 6))


def test_source_quota_cap_and_determinism(spark):
    from quantlab_data_pipeline_spark.queries_ext import source_quota_docs

    first = source_quota_docs(spark, SF).collect()
    again = source_quota_docs(spark, SF).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))
    per_source: dict[str, int] = {}
    for r in first:
        per_source[r["source"]] = per_source.get(r["source"], 0) + 1
    assert per_source and all(v <= 15 for v in per_source.values())


def test_retention_cohort_offsets_monotone(spark):
    """Offset-0 retention counts every cohort member; later offsets
    can never exceed the cohort size."""
    from quantlab_data_pipeline_spark.queries_ext import retention_cohorts

    rows = retention_cohorts(spark, SF).collect()
    day0 = {
        r["cohort_day"]: r["n_users"] for r in rows if r["day_offset"] == 0
    }
    assert day0  # every cohort has its day-0 row
    for r in rows:
        assert 0 <= r["day_offset"] <= 7
        assert r["n_users"] <= day0[r["cohort_day"]]


def test_trend_theil_sen_matches_numpy(spark, events_pd):
    """Grouped-agg pandas UDAF vs a direct numpy recompute — median of
    all pairwise slopes per user, equal-time pairs excluded."""
    from quantlab_data_pipeline_spark.queries_ext import trend_theil_sen

    got = {
        r["user_id"]: r["theil_sen_slope"]
        for r in trend_theil_sen(spark, SF).collect()
    }
    exp = {}
    for uid, grp in events_pd.groupby("user_id"):
        # normalize to ns first — the parquet fixture loads as
        # datetime64[us] under pandas 2, where astype(int64) yields µs
        t = grp["ts"].astype("datetime64[ns]").astype("int64").to_numpy() / 1e9
        v = grp["value"].to_numpy()
        dt = t[None, :] - t[:, None]
        dv = v[None, :] - v[:, None]
        m = dt > 0
        if m.any():
            exp[int(uid)] = round(float(np.median(dv[m] / dt[m])), 6)
    assert got == pytest.approx(exp, abs=1e-6)


def test_approx_quantiles_within_rank_error(spark, events_pd):
    """GK sketch at accuracy=10000 must land within a tight rank band
    of the exact per-group percentiles (rows-only query, so this bound
    is its correctness evidence)."""
    from quantlab_data_pipeline_spark.queries_ext import approx_quantiles_events

    got = {
        r["event_type"]: (r["p25"], r["p50"], r["p75"], r["p95"])
        for r in approx_quantiles_events(spark, SF).collect()
    }
    assert set(got) == set(events_pd["event_type"].unique())
    for etype, vals in got.items():
        xs = np.sort(events_pd.loc[events_pd.event_type == etype, "value"].to_numpy())
        n = len(xs)
        for q, v in zip((0.25, 0.5, 0.75, 0.95), vals):
            # rank of the sketch answer must be within 1/accuracy*n + 1
            # positions of the target rank
            rank = np.searchsorted(xs, v, side="right")
            assert abs(rank - q * n) <= n / 10000 + 2, (etype, q, v)


def test_twap_matches_pandas(spark, events_pd):
    """Holding-time-weighted recompute in pandas: each value holds
    until the next same-(user, day) observation, the day's last until
    midnight."""
    from quantlab_data_pipeline_spark.queries_ext import twap_events

    got = {
        (r["user_id"], r["day"].date()): (r["twap"], r["n_obs"])
        for r in twap_events(spark, SF).collect()
    }
    exp = {}
    df = events_pd.assign(day=events_pd["ts"].dt.floor("D"))
    for (u, d), g in df.groupby(["user_id", "day"]):
        g = g.sort_values(["ts", "event_id"])
        nxt = g["ts"].shift(-1)
        nxt.iloc[-1] = d + pd.Timedelta(days=1)
        hold = (nxt - g["ts"]).dt.total_seconds()
        exp[(u, d.date())] = (
            round(float((g["value"] * hold).sum() / hold.sum()), 6),
            len(g),
        )
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][1] == exp[k][1]
        assert got[k][0] == pytest.approx(exp[k][0], abs=2e-6)


def test_perplexity_bucket_terciles_and_keep(spark):
    """Exact per-language terciles; keep == not tail; ranking
    deterministic; unscorable (sub-2-token) docs absent."""
    from quantlab_data_pipeline_spark.queries_ext import perplexity_bucket_docs

    out = perplexity_bucket_docs(spark, "/root/testdata/sf0.001").toPandas()
    assert set(out["ppl_bucket"]) <= {"head", "middle", "tail"}
    assert (out["keep"] == (out["ppl_bucket"] != "tail")).all()
    for lang, g in out.groupby("lang_pred"):
        n = len(g)
        counts = g["ppl_bucket"].value_counts()
        assert counts.get("head", 0) == n // 3
        assert counts.get("middle", 0) == (n * 2) // 3 - n // 3
        # within a language, every head score >= every tail score
        # (ties broken by doc_id cannot cross the rounded-score order)
        if counts.get("head", 0) and counts.get("tail", 0):
            assert (
                g.loc[g["ppl_bucket"] == "head", "avg_logprob"].min()
                >= g.loc[g["ppl_bucket"] == "tail", "avg_logprob"].max()
            )


def test_perplexity_bucket_matches_naive_window(spark):
    """The two-phase grouped_global_rank formulation (VERDICT r7 item
    2) must be bit-identical to the per-language window it replaced —
    same rows, same buckets, same keep flags."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from quantlab_data_pipeline_spark.llm.lm import bigram_logprob
    from quantlab_data_pipeline_spark.llm.text import with_language_id
    from quantlab_data_pipeline_spark.queries_ext import perplexity_bucket_docs
    from quantlab_data_pipeline_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    scored = bigram_logprob(docs)
    langs = with_language_id(docs).select("doc_id", "lang_pred")
    j = scored.join(langs, "doc_id")
    w_rank = Window.partitionBy("lang_pred").orderBy(
        F.desc("avg_logprob"), F.asc("doc_id")
    )
    rn = F.row_number().over(w_rank)
    n = F.count(F.lit(1)).over(Window.partitionBy("lang_pred"))
    bucket = (
        F.when(rn <= F.floor(n / 3), F.lit("head"))
        .when(rn <= F.floor(n * 2 / 3), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    naive = j.select(
        "doc_id",
        "lang_pred",
        "avg_logprob",
        bucket.alias("ppl_bucket"),
        (rn <= F.floor(n * 2 / 3)).alias("keep"),
    )
    got = perplexity_bucket_docs(spark, sf)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_scratch_store_rows_rebuild_in_place(spark):
    """A row that builds a store at call time keeps it in one scratch
    directory per scale factor: a repeated call of the bucketed dedup
    row rebuilds over the cleared directory, registers no second
    catalog table, and answers the same."""
    from pathlib import Path

    import quantlab_data_pipeline_spark.queries_ext as qe

    first = sorted(qe.incremental_dedup_bucketed_docs(spark, SF).collect())
    tables = len(spark.catalog.listTables())
    again = sorted(qe.incremental_dedup_bucketed_docs(spark, SF).collect())
    assert len(spark.catalog.listTables()) == tables
    assert again == first
    assert "mkdtemp" not in Path(qe.__file__).read_text()
