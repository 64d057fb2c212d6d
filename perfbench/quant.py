"""``etl_reads`` workload: the paper's two halves on one data root.

Timed from outside, in order:

1. ``ingestion.pipeline.ingest`` of a seeded ``SyntheticWrdsSource``
   (16 assets, 2022-2025) into a fresh root;
2. a seeded closed loop of ``LocalParquetDataHandler`` getter calls on
   one handler instance: mostly narrow (1-3 tickers, at most a year, a
   few fields), one call in six a wide panel (all tickers, the whole
   window, ``get_prices_with_returns_df(...).toPandas()``).

Checked outside the timed region: every table's on-disk row count equals the count its write job logged, the calendar
and assets tables have their expected sizes, and every handler result
equals a pyarrow/pandas reference read of the same files.
"""

from __future__ import annotations

import functools
import re
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from frames import same_frame
from probe import dir_stats, median, sum_work, tail

N_ASSETS = 16
WINDOW = ("2022-01-01", "2025-01-01")
SMOKE_WINDOW = ("2023-01-01", "2024-01-01")
# One block of calls; every block is a seeded shuffle of this multiset,
# so each seed sees the same mix of getters with different arguments.
BLOCK = (
    ["prices"] * 3 + ["returns"] * 2 + ["fundamentals"] + ["universe"]
    + ["macro"] + ["benchmark_returns"] + ["analyst_consensus"]
    + ["prices_with_returns"] * 2
)
MIN_READS = len(BLOCK)
PRICE_FIELDS = ["open", "high", "low", "close", "adj_close", "volume", "ret", "shrout"]
CONSENSUS_FIELDS = ["mean_rating", "median_rating", "num_analysts", "buy_percent", "sell_percent"]
SORT_KEYS = {
    "prices": ["date", "asset_id"],
    "returns": ["date", "asset_id"],
    "fundamentals": ["report_date", "asset_id"],
    "universe": ["date", "asset_id"],
    "macro": ["date", "series_name"],
    "benchmark_returns": ["date"],
    "analyst_consensus": ["date", "asset_id"],
}
STEPS = {
    "Build SP500 universe": "ingest.universe_s",
    "Write raw snapshots": "ingest.write_raw_s",
    "Write processed datasets": "ingest.write_processed_s",
    "Write metadata and manifests": "ingest.write_meta_s",
}


def read_plan(seed: int, tickers: list[str], window: tuple[str, str], n_blocks: int) -> list[dict]:
    rng = np.random.default_rng(seed + 7)
    lo, hi = pd.Timestamp(window[0]), pd.Timestamp(window[1])
    span_days = (hi - lo).days
    calls = []
    for _ in range(n_blocks):
        for kind in rng.permutation(BLOCK):
            length = int(rng.integers(20, 366))
            start = lo + pd.Timedelta(days=int(rng.integers(0, max(1, span_days - length))))
            end = min(hi, start + pd.Timedelta(days=length))
            names = sorted(rng.choice(tickers, int(rng.integers(1, 4)), replace=False).tolist())
            call = {"kind": str(kind), "start": str(start.date()), "end": str(end.date())}
            if kind in ("prices", "returns", "fundamentals", "analyst_consensus"):
                call["tickers"] = names
            if kind == "prices":
                call["fields"] = sorted(rng.choice(PRICE_FIELDS, int(rng.integers(1, 4)), replace=False).tolist())
            if kind == "analyst_consensus":
                call["fields"] = sorted(rng.choice(CONSENSUS_FIELDS, int(rng.integers(1, 4)), replace=False).tolist())
            if kind == "universe":
                call["date"] = str(pd.bdate_range(start, end)[0].date())
            if kind == "prices_with_returns":
                call.update(start=None, end=None)
            calls.append(call)
    return calls


def plan_call(h, c: dict):
    """The lazy ``get_*_df`` part of a call."""
    k = c["kind"]
    if k == "prices":
        return h.get_prices_df(c["tickers"], c["start"], c["end"], c["fields"])
    if k == "returns":
        return h.get_returns_df(c["tickers"], c["start"], c["end"])
    if k == "fundamentals":
        return h.get_fundamentals_df(c["tickers"], c["start"], c["end"])
    if k == "universe":
        return h.get_universe_df(c["date"])
    if k == "macro":
        return h.get_macro_df(c["start"], c["end"])
    if k == "benchmark_returns":
        return h.get_benchmark_returns_df("^GSPC", c["start"], c["end"])
    if k == "analyst_consensus":
        return h.get_analyst_consensus_df(c["tickers"], c["start"], c["end"], c["fields"])
    return h.get_prices_with_returns_df(None, c["start"], c["end"])


def exec_call(df, c: dict) -> pd.DataFrame:
    """Execute as the pandas getters do: sort on the getter's keys."""
    keys = SORT_KEYS.get(c["kind"])
    return (df.orderBy(*keys) if keys else df).toPandas()


# ---------------------------------------------------------------- reference


def _load(root: Path, table: str) -> pd.DataFrame:
    sub = "data_meta" if table in ("assets_master", "universe_sp500") else "data_processed"
    pdf = ds.dataset(root / sub / f"{table}.parquet", format="parquet").to_table().to_pandas()
    for col in pdf.columns:
        if col in ("date", "report_date", "statistic_date", "first_date", "last_date", "ipodate"):
            pdf[col] = pd.to_datetime(pdf[col]).astype("datetime64[ns]")
    return pdf


def reference(load, c: dict, field_map: dict) -> pd.DataFrame:
    """pandas replay of one handler call; ``load(table)`` reads a table."""
    k = c["kind"]
    assets = load("assets_master")
    ids = dict(zip(assets["ticker"], assets["asset_id"]))
    table = {
        "prices": "prices_daily", "returns": "returns_daily",
        "fundamentals": "fundamentals_quarterly", "universe": "universe_sp500",
        "macro": "macro_timeseries", "benchmark_returns": "benchmarks",
        "analyst_consensus": "analyst_consensus", "prices_with_returns": "prices_daily",
    }[k]
    df = load(table).copy()
    date_col = "report_date" if k == "fundamentals" else "date"
    if k == "prices_with_returns":
        ret = load("returns_daily")[["asset_id", "date", "ret_1d"]]
        df = df.merge(ret, on=["asset_id", "date"], how="left")
    if c.get("tickers"):
        df = df[df["asset_id"].isin([ids[t] for t in c["tickers"]])]
    if k == "universe":
        df = df[df["date"] == pd.Timestamp(c["date"])]
    elif c.get("start"):
        df = df[(df[date_col] >= pd.Timestamp(c["start"])) & (df[date_col] <= pd.Timestamp(c["end"]))]
    if k == "benchmark_returns":
        df = df[df["benchmark_name"] == "^GSPC"]
    if c.get("fields"):
        df = df[list(dict.fromkeys(["date", "asset_id", "ticker"] + c["fields"]))]
    if k == "fundamentals":
        df = df.rename(columns={a: b for a, b in field_map.get("fundamentals", {}).items() if a in df.columns})
    return df


# ------------------------------------------------------------------ ingest


def parse_ingest_log(root: Path) -> tuple[dict[str, float], dict[str, int]]:
    """Step seconds and per-path logged row counts from the ingest log."""
    steps: dict[str, float] = {}
    wrote: dict[str, int] = {}
    for log in sorted((root / "logs").glob("ingestion_*.log")):
        for line in log.read_text(encoding="utf-8").splitlines():
            m = re.search(r"done: (.+) \(([\d.]+)s\)$", line)
            if m and m.group(1) in STEPS:
                steps[STEPS[m.group(1)]] = float(m.group(2))
            m = re.search(r"Wrote (\d+) rows to (.+)$", line)
            if m:
                wrote[m.group(2)] = int(m.group(1))
    return steps, wrote


def run(ctx) -> None:
    from quantlab_data_pipeline_spark.ingestion.pipeline import ingest
    from quantlab_data_pipeline_spark.sources.fred import synthetic_fred_fetcher
    from quantlab_data_pipeline_spark.sources.wrds import SyntheticWrdsSource
    from quantlab_data_pipeline_spark.storage.parquet import LocalParquetDataHandler

    spark, tr, seed = ctx.spark, ctx.tracer, ctx.seed
    window = SMOKE_WINDOW if ctx.smoke else WINDOW
    deadline = time.perf_counter() + ctx.seconds

    source = SyntheticWrdsSource(spark, n_assets=N_ASSETS, seed=seed)
    with tr.span("ingest") as s_ingest:
        root = ingest(
            ctx.work / "etl", start=window[0], end=window[1],
            source=source, fred_fetcher=synthetic_fred_fetcher(seed), spark=spark,
        )

    h = LocalParquetDataHandler(root, spark=spark)
    load = functools.cache(functools.partial(_load, root))
    tickers = sorted(load("assets_master")["ticker"])
    plan = read_plan(seed, tickers, window, n_blocks=200)
    reads: list[dict] = []
    for c in plan:
        # stop only between whole blocks, so every seed gets the same mix
        if len(reads) % len(BLOCK) == 0 and len(reads) >= MIN_READS and time.perf_counter() >= deadline:
            break
        with tr.span(f"handler.{c['kind']}") as rec:
            t0 = time.perf_counter()
            df = plan_call(h, c)
            t1 = time.perf_counter()
            out = exec_call(df, c)
            rec["plan_s"] = t1 - t0
            rec["exec_s"] = time.perf_counter() - t1
        reads.append({"call": c, "rec": rec, "out": out})

    # ---- correctness, outside the timed region
    ctx.log("check")
    for r in reads:
        c = r["call"]
        ok = same_frame(r["out"], reference(load, c, h._field_map), rel=1e-12) is None
        keys = SORT_KEYS.get(c["kind"])
        if ok and keys:
            ok = r["out"][keys].equals(r["out"][keys].sort_values(keys).reset_index(drop=True))
        ctx.check(f"read {c}", ok)
    steps, wrote = parse_ingest_log(root)
    for path, n in wrote.items():
        ctx.check(f"rows on disk == rows logged for {Path(path).name}",
                  ds.dataset(path, format="parquet").count_rows() == n)
    ctx.check("assets_master rows", len(load("assets_master")) == N_ASSETS)
    ctx.check("trading_calendar rows",
              ds.dataset(root / "data_meta" / "trading_calendar.parquet").count_rows()
              == len(pd.bdate_range(*window)))

    # ---- metrics
    ctx.log("metrics")
    lat = [tr.seconds(r["rec"]) * 1e3 for r in reads]
    tail_ms, tail_pct = tail(lat)
    files, nbytes, small = dir_stats(root)
    ingest_s = tr.seconds(s_ingest)
    first: dict[str, dict] = {}
    for r in reads:
        first.setdefault(r["call"]["kind"], r["rec"])
    ctx.e2e.update({
        "pipeline_cpu_s": tr.cpu(s_ingest),
        # the mean, not the median: every seed calls the same getter mix,
        # and the middle of 12 calls of different cost jumps between kinds
        "call_cpu_ms": sum(tr.cpu(r["rec"]) for r in reads) * 1e3 / len(reads),
        "stored_bytes": nbytes,
    })
    layer = ctx.layer
    layer.update({
        "wall.call_p50_ms": median(lat),
        "wall.call_tail_ms": tail_ms,
        "wall.calls_per_s": len(lat) / (sum(lat) / 1e3),
        "wall.cold_s": sum(tr.seconds(rec) for rec in first.values()),
        "reads.n": len(lat),
        "reads.read_tail_pct": tail_pct,
        "handler.plan_ms": median(r["rec"]["plan_s"] * 1e3 for r in reads),
        "handler.exec_ms": median(r["rec"]["exec_s"] * 1e3 for r in reads),
        "ingest.ingest_s": ingest_s,
        "ingest.files_written": files,
        "ingest.small_files": small,
        "ingest.stored_bytes": nbytes,
    })
    for kind in dict.fromkeys(BLOCK):
        layer[f"handler.get_{kind}_ms"] = median(
            tr.seconds(r["rec"]) * 1e3 for r in reads if r["call"]["kind"] == kind
        )
    layer.update(steps)

    def traced_work():
        work = ctx.work_by_group()
        w = sum_work(work, [s_ingest["group"]])
        layer.update({"ingest.jobs": w["jobs"], "ingest.tasks": w["tasks"],
                      "ingest.executor_cpu_s": w["executor_cpu_s"]})
        per = [sum_work(work, [r["rec"]["group"]]) for r in reads]
        rows = sum(len(r["out"]) for r in reads)
        layer["handler.jobs_per_call"] = median(p["jobs"] for p in per)
        layer["handler.tasks_per_call"] = median(p["tasks"] for p in per)
        layer["handler.input_bytes_per_row_returned"] = sum(p["input_bytes"] for p in per) / max(1, rows)

    ctx.after_stop.append(traced_work)
