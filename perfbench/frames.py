"""Order-insensitive frame equality for the correctness checks."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        s = df[col]
        if s.dtype == object and s.map(lambda v: isinstance(v, datetime.date)).any():
            s = pd.to_datetime(s)
        if pd.api.types.is_datetime64_any_dtype(s):
            df[col] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[ns]").astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[col] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            df[col] = s.astype("int64")
        elif s.dtype == object:
            df[col] = s.astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame, rel: float = 1e-9) -> str | None:
    """``None`` when equal up to row order and a relative float
    tolerance (scaled by ``max(|want|, 1)``), else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = canon(got), canon(want)
    for col in a.columns:
        x, y = a[col], b[col]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            xv, yv = x.to_numpy(dtype=float), y.to_numpy(dtype=float)
            nan = np.isnan(xv)
            if (nan != np.isnan(yv)).any():
                return f"column {col}: null mismatch"
            xv, yv = xv[~nan], yv[~nan]
            if len(xv) and (np.abs(xv - yv) / np.maximum(np.abs(yv), 1.0)).max() > rel:
                return f"column {col}: float mismatch"
        else:
            eq = (x.astype(str) == y.astype(str)) | (x.isna() & y.isna())
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                return f"column {col}: {x.iloc[i]!r} != {y.iloc[i]!r}"
    return None
