#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end
metric's median and interquartile spread (as a share of the median),
next to the bound in ``BENCHMARK.json``.

    python3 perfbench/spread.py --workload etl_reads --seeds 101-110

Runs are sequential, one process each, with the spec's ``run_seconds``.
A spread above a third of its bound is flagged; ``setup_s`` has no
spread bound, only a median one.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True, help="e.g. 101-110")
    ap.add_argument("--out", type=Path, help="append each result line to this file")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in args.seeds:
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        if args.out:
            with args.out.open("a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- above bound/3"
        print(f"{m['name']:>14}: median {med:.4g} {m['unit']}  spread {spread:.3f}  bound {m['bound']}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
