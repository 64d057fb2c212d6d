"""The correctness mirror's frame compare (scripts/check_correctness.py),
checked without Spark."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import numpy as np
import pandas as pd

_spec = importlib.util.spec_from_file_location(
    "check_correctness",
    Path(__file__).resolve().parents[1] / "scripts" / "check_correctness.py",
)
check_correctness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_correctness)


def test_one_sided_nan_is_a_mismatch():
    spark_df = pd.DataFrame({"k": [1, 2], "v": [0.5, np.nan]})
    oracle_df = pd.DataFrame({"k": [1, 2], "v": [0.5, 2.0]})
    problems = check_correctness.compare("row", spark_df, oracle_df)
    assert problems and not problems[0].startswith("WARN"), problems


def test_nan_on_both_sides_matches():
    df = pd.DataFrame({"k": [1, 2], "v": [0.5, np.nan]})
    assert check_correctness.compare("row", df, df.copy()) == []
