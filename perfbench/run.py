#!/usr/bin/env python3
"""Repository benchmark: one workload per process, one JSON line out.

    python3 perfbench/run.py --workload etl_reads --seed 1 --seconds 5 --trace 0

Workloads (see ``quant.py`` and ``curation.py``):

* ``etl_reads``    -- ingest, then a seeded mix of handler reads
* ``curation_mix`` -- registry rows once, cold, then a streamed curation run

Runs on ``local[nproc]`` with driver memory sized to the machine. The
session restart + warm-up part of set-up is done three times and its
median goes into ``setup_s`` (see ``set_up``). Every call is timed from
outside, in wall time and in CPU time of the whole process tree. The
end-to-end metrics are CPU times (and bytes stored): on a shared host
the wall time of one run moved 30-45 % with other tenants' load, its
CPU time under 10 %. Wall times are per-layer metrics (``wall.*``).
Correctness checks run after the timed region and feed
``attempted``/``failed``.

``--trace 1`` enables the Spark event log and a job group per call, and
reports the per-layer metrics of ``BENCHMARK.json`` instead of the
end-to-end ones (zero where a workload does not exercise a layer). It
also reports the traced run's own end-to-end figures as ``trace.*``:
tracing overhead is those minus the untraced run's. Spans (with self
time), the environment stamp and all metrics are written under
``.bench_out/`` in the checkout.

``--smoke`` runs a few-second version of a workload for the benchmark's
own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

SETUP_ROUNDS = 3
# The program's synthetic sources seed numpy's RandomState with
# seed * 1000 + salt, which must lie in [0, 2**32): fold any --seed
# into [0, 2**22) so every seed is valid and still deterministic.
SEED_SPACE = 2**22
T0 = time.perf_counter()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_reads", "curation_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def machine_env(out: Path) -> None:
    """Engine settings for this machine; all scratch space in ``out``."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = int(next(
        line.split()[1] for line in Path("/proc/meminfo").read_text().splitlines()
        if line.startswith("MemTotal:")
    ))
    # a quarter of the machine, between 1 and 2 GiB: the data is small
    driver_mb = max(1024, min(2048, mem_kb // 1024 // 4))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_GRAFT_INITIAL_PARTITIONS": str(cpus),
        "SPARK_GRAFT_UI": "false",
    }
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )


def stamp(args) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "commit": commit,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "spark_graft": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
    }


class Context:
    """What a workload needs: session, tracer, budget, result sinks."""

    def __init__(self, args, out: Path):
        self.seed = args.seed % SEED_SPACE
        self.seconds = args.seconds
        self.smoke = args.smoke
        self.traced = bool(args.trace)
        self.out = out
        self.work = out / "work"
        self.events = out / "events"
        self.spark = None
        self.tracer = None
        self.inputs: dict = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.after_stop: list = []
        self._work = None

    def log(self, msg: str) -> None:
        print(f"[perfbench +{time.perf_counter() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {name}" + ("" if detail is None else f": {detail}"), file=sys.stderr)

    def work_by_group(self) -> dict:
        from probe import event_log_work

        if self._work is None:
            self._work = event_log_work(self.events)
        return self._work

    def session(self):
        from quantlab_data_pipeline_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.local.dir": tmp,
            # no hsperfdata file under /tmp: a run writes only in its checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(self.out / "warehouse"),
        }
        if self.traced:
            self.events.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.events),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return get_spark(app_name="perfbench", extra_conf=conf)


def warm_up(spark) -> None:
    """One aggregate + join job: JVM, scheduler and codegen first use."""
    keys = spark.range(97).withColumnRenamed("id", "k")
    (
        spark.range(20000).selectExpr("id % 97 AS k", "id")
        .groupBy("k").count().join(keys, "k")
        .write.format("noop").mode("overwrite").save()
    )


def set_up(ctx: Context, workload) -> None:
    """JVM + session launch, then ``SETUP_ROUNDS`` rounds of (session
    restart, warm-up), then the workload's seeded inputs, once.

    ``setup_s`` = CPU seconds of launch + median round + inputs (see
    ``probe.cpu_s``); ``wall.setup_s`` the same in wall time. Only the
    session part repeats: inputs cost seconds, and the run budget has no
    room for building them three times."""
    from probe import cpu_s, median

    c0, t0 = cpu_s(), time.perf_counter()
    ctx.spark = ctx.session()
    launch = time.perf_counter() - t0
    launch_cpu = cpu_s() - c0
    rounds = []
    for i in range(1 if ctx.smoke else SETUP_ROUNDS):
        c0, t0 = cpu_s(), time.perf_counter()
        if i:
            ctx.spark.stop()
            ctx.spark = ctx.session()
        t1 = time.perf_counter()
        warm_up(ctx.spark)
        rounds.append((t1 - t0, time.perf_counter() - t1, cpu_s() - c0))
    c0, t0 = cpu_s(), time.perf_counter()
    prepare = getattr(workload, "prepare", None)
    if prepare is not None:
        ctx.inputs = prepare(ctx.spark, ctx.work, ctx.seed, ctx.smoke)
    prep = time.perf_counter() - t0
    prep_cpu = cpu_s() - c0
    ctx.e2e["setup_s"] = launch_cpu + median(c for _, _, c in rounds) + prep_cpu
    ctx.layer.update({
        "wall.setup_s": launch + median(r + w for r, w, _ in rounds) + prep,
        "session.start_s": launch,
        "session.restart_s": median(r for r, _, _ in rounds[1:]),
        "session.warmup_s": median(w for _, w, _ in rounds),
        "session.prepare_s": prep,
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit: it leaves
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "quantlab_data_pipeline_spark").is_dir():
        print("perfbench: quantlab_data_pipeline_spark not found next to perfbench/", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload == "etl_reads":
        import quant as workload
    else:
        import curation as workload

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    out = ROOT / ".bench_out" / run_id
    machine_env(out)
    info = stamp(args)
    ctx = Context(args, out)

    from probe import Tracer, rss_mb

    ctx.log("set-up")
    set_up(ctx, workload)
    ctx.log("measure")
    ctx.tracer = Tracer(ctx.spark, args.workload, run_id, ctx.traced)
    try:
        workload.run(ctx)
        jvm = ctx.spark.sparkContext._gateway.proc.pid
        ctx.layer["process.peak_rss_mb"] = rss_mb([os.getpid(), jvm])
        ctx.layer["cache.leaked_entries"] = sum(ctx.tracer.leaks)
        ctx.layer["trace.spans"] = len(ctx.tracer.spans)
    finally:
        ctx.log("stop session")
        if ctx.spark is not None:
            stop_spark(ctx.spark)
    ctx.log("stopped")
    for fn in ctx.after_stop if ctx.traced else []:
        fn()
    shutil.rmtree(ctx.work, ignore_errors=True)
    shutil.rmtree(out / "tmp", ignore_errors=True)

    if ctx.traced:
        for name, value in ctx.e2e.items():
            ctx.layer[f"trace.{name}"] = value
        ctx.tracer.dump(out / "spans.json")
        wanted = spec["per_layer"]
        values = ctx.layer
    else:
        wanted = spec["end_to_end"]
        values = ctx.e2e
    missing = [m["name"] for m in wanted if m["name"] not in values and not ctx.traced]
    if missing:
        raise RuntimeError(f"workload produced no value for {missing}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    info["loadavg_end"] = os.getloadavg()
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    (out / "result.json").write_text(json.dumps(
        {"stamp": info, "result": result, "end_to_end": ctx.e2e, "per_layer": ctx.layer}, indent=1
    ) + "\n")
    ctx.log("done")
    print(json.dumps(info), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — no result line on failure
        traceback.print_exc()
        sys.exit(1)
