"""Smoke tests for the benchmark itself (a few-second size of each
workload): ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_result_line(workload, trace):
    proc = run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace, "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, proc.stderr[-3000:]
    wanted = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        if trace == "0":
            assert got["value"] > 0, m["name"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run("--workload", "etl_reads", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_tail_has_ten_samples_beyond():
    sys.path.insert(0, str(ROOT / "perfbench"))
    from probe import tail

    xs = list(range(40))
    value, pct = tail(xs)
    assert pct == 75 and sum(x > value for x in xs) == 10
    assert tail([5.0, 1.0]) == (5.0, 100)


def test_any_seed_gives_valid_source_seeds(tmp_path):
    sys.path.insert(0, str(ROOT / "perfbench"))
    import run as bench

    for seed in (0, 7, 2**40 + 3, -5):
        args = bench.parse_args(["--workload", "etl_reads", "--seed", str(seed), "--seconds", "1"])
        folded = bench.Context(args, tmp_path).seed
        # the synthetic WRDS source seeds RandomState with seed * 1000 + salt
        assert 0 <= folded * 1000 + 2000 < 2**32
