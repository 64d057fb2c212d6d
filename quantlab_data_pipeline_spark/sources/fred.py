"""FRED macro-series source (SURVEY §2 S4).

The reference fetches CPIAUCSL / UNRATE / INDPRO observations from the
FRED HTTP API driver-side and skips non-numeric values like ``"."``
(``/root/reference/src/data_pipeline/ingestion/wrds_ingestion.py:946-981``).

Spark treatment: the HTTP call stays driver-side (three tiny JSON
responses — distributing it would add overhead, not parallelism); the
parsed rows become one small ``createDataFrame``. The fetcher is an
injectable callable ``(series_id, start, end) -> list[observation
dict]`` so ingest runs offline with :func:`synthetic_fred_fetcher`.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import safe_double
from ..localframe import local_df
from ..schemas import SCHEMAS

DEFAULT_SERIES = ("CPIAUCSL", "UNRATE", "INDPRO")
FRED_URL = "https://api.stlouisfed.org/fred/series/observations"

Fetcher = Callable[[str, str, str], list[dict]]


def http_fred_fetcher(api_key: str | None = None, timeout: int = 30) -> Fetcher:
    """Real HTTP fetcher (requires network + the ``requests`` package,
    neither available in the offline test environment — import-gated)."""

    def fetch(series_id: str, start: str, end: str) -> list[dict]:
        import requests  # gated: not a hard dependency

        params = {
            "series_id": series_id,
            "observation_start": start,
            "observation_end": end,
            "file_type": "json",
        }
        if api_key:
            params["api_key"] = api_key
        resp = requests.get(FRED_URL, params=params, timeout=timeout)
        resp.raise_for_status()
        return resp.json().get("observations", [])

    return fetch


def synthetic_fred_fetcher(seed: int = 7) -> Fetcher:
    """Deterministic offline fetcher. Emits monthly observations and,
    like the real API, occasional ``"."`` values that must be dropped by
    the numeric-parse-with-reject semantics (SURVEY §2 F4)."""

    def fetch(series_id: str, start: str, end: str) -> list[dict]:
        import numpy as np
        import pandas as pd

        rng = np.random.RandomState(seed + sum(map(ord, series_id)))
        months = pd.date_range(start=start, end=end, freq="MS")
        base = {"CPIAUCSL": 260.0, "UNRATE": 4.0, "INDPRO": 100.0}.get(series_id, 50.0)
        out = []
        for i, m in enumerate(months):
            missing = i % 7 == 3  # sprinkle "." markers
            val = "." if missing else f"{base * (1 + 0.002 * i) + rng.normal(0, 0.1):.3f}"
            out.append({"date": m.strftime("%Y-%m-%d"), "value": val})
        return out

    return fetch


def fetch_macro(
    spark: SparkSession,
    start: str,
    end: str,
    series: Sequence[str] = DEFAULT_SERIES,
    fetcher: Fetcher | None = None,
) -> DataFrame:
    """(date, series_name, value) long frame across all requested series.

    Non-numeric observation values become null via
    :func:`..functions.safe_double` and are dropped — exactly the
    reference's try/float/skip loop, as a Catalyst expression."""
    fetcher = fetcher or http_fred_fetcher()
    rows = []
    for series_id in series:
        for obs in fetcher(series_id, start, end):
            rows.append((obs.get("date"), series_id, obs.get("value")))
    if not rows:
        return local_df(spark, [], SCHEMAS["macro_timeseries"])
    raw = local_df(spark, rows, "date string, series_name string, value string")
    return (
        raw.select(
            F.to_date("date").alias("date"), "series_name", safe_double("value").alias("value")
        )
        .filter(F.col("value").isNotNull())
    )
