"""Where a registry row's time and work go: the measurement module.

Runs each named row the way ``bench.py`` does (same warmup, noop sink,
one cold run then ``--repeat`` steady runs) in a session with the Spark
event log on, and reads the log back after every run. Wall seconds
swing with CPU steal on a shared host; the work totals (jobs, stages,
tasks, input and shuffle bytes, executor CPU) do not, so they are the
before/after evidence. Identical totals across the runs of one row
mean no state accumulates between executions; a slower steady run
with identical work is JIT compilation (``jit_ms``), garbage
collection (``gc_ms``) or host time. Those two come from the driver
JVM's management beans, read before and after each run: the event log
does not hold them.

Usage::

    python -m quantlab_data_pipeline_spark.observe <row> [row ...] [--repeat N]

Env: ``SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``),
``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_INITIAL_PARTITIONS`` (default: sized
from the input bytes, as ``bench.py`` sizes it).

Human-readable lines go to stderr: per run the wall and work totals,
and for the cold run the 25 slowest jobs with their callsites (the gap
between the wall and the summed job walls is driver-side time:
planning, catalog and file-system calls). One JSON line goes to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

from .localframe import materialized

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Task-level work, charged to the window totals and to the task's job.
TASK_WORK = ("tasks", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
             "executor_run_ms", "executor_cpu_ms")
# Python worker time (ms, summed over tasks), from the SQL plan metrics
# of the Python operators (mapInPandas, applyInPandas, pandas UDFs).
PYTHON_TIME = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
}
TOTALS = ("jobs", "stages", *TASK_WORK, *PYTHON_TIME.values())


def initial_partitions(sf_dir: str, cpus: int) -> int:
    """The AQE pre-coalesce reducer count for the input at ``sf_dir``:
    one partition per 64 MiB, at least one and at most eight per core."""
    total = sum(f.stat().st_size for f in Path(sf_dir).glob("*.parquet"))
    return max(cpus, min(8 * cpus, total // (64 << 20) + 1))


def event_log_session(log_dir: str):
    """A session writing one plain, unrolled, uncompressed event log
    file under ``log_dir``, so the log can be read from a byte offset."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sized = str(initial_partitions(SF_DIR, cpus))
    os.environ.setdefault("SPARK_GRAFT_INITIAL_PARTITIONS", sized)
    from .session import get_spark

    return get_spark(
        app_name="observe",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )


def _log_file(log_dir: str) -> Path:
    """The newest event log in ``log_dir``. Spark 4 may write a rolling
    log as a directory ``eventlog_v2_<app>/events_<n>_<app>``; its last
    file is the live one."""
    entry = max(
        (f for f in Path(log_dir).iterdir() if not f.name.startswith(".")),
        key=lambda f: f.stat().st_mtime,
    )
    if entry.is_dir():
        return sorted(f for f in entry.iterdir() if f.name.startswith("events_"))[-1]
    return entry


def parse(path: Path, offset: int) -> tuple[list[dict], dict[str, int]]:
    """Per-job rows and window totals of the events after ``offset``.

    The totals count every event in the window, so a task of a stage no
    job in the window lists still counts there. A stage listed by
    several jobs (a reused shuffle is listed again, skipped, by each
    later job) is charged to the first. A line that does not parse is
    the writer's unflushed tail and is skipped.

    The Python worker times are SQL metrics: the plan of each SQL
    execution (and of each adaptive re-plan) names their accumulator
    ids, and each task's end event carries its update to them."""
    totals = dict.fromkeys(TOTALS, 0)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    python_acc: dict[int, str] = {}
    with open(path) as fh:
        fh.seek(offset)
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if "sparkPlanInfo" in ev:  # SQL execution start, adaptive update
                _python_metrics(ev["sparkPlanInfo"], python_acc)
            elif kind == "SparkListenerJobStart":
                totals["jobs"] += 1
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "job": jid,
                    "desc": props.get("spark.job.description", ""),
                    "callsite": props.get("callSite.short", ""),
                    "wall_ms": -ev.get("Submission Time", 0),
                    **dict.fromkeys(TASK_WORK, 0),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["wall_ms"] += ev.get("Completion Time", 0)
            elif kind == "SparkListenerStageCompleted":
                totals["stages"] += 1
                info = ev.get("Stage Info") or {}
                job = jobs.get(stage_job.get(info.get("Stage ID")))
                if job is not None and not job["callsite"]:
                    job["callsite"] = (info.get("Stage Name") or "")[:80]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                read = m.get("Shuffle Read Metrics") or {}
                work = {
                    "tasks": 1,
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_read_bytes": read.get("Remote Bytes Read", 0)
                    + read.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "executor_run_ms": m.get("Executor Run Time", 0),
                    "executor_cpu_ms": m.get("Executor CPU Time", 0) // 1_000_000,
                }
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                for key, value in work.items():
                    totals[key] += value
                    if job is not None:
                        job[key] += value
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = python_acc.get(acc.get("ID"))
                    if key is not None:
                        totals[key] += int(acc.get("Update") or 0)
    for job in jobs.values():
        job["wall_ms"] = max(0, job["wall_ms"])  # a job still running at the cut
    return sorted(jobs.values(), key=lambda j: j["job"]), totals


def _python_metrics(plan: dict, acc: dict[int, str]) -> None:
    """Map the accumulator ids of the Python worker timings in ``plan``
    (a ``sparkPlanInfo`` tree) to their totals keys, into ``acc``."""
    stack = [plan]
    while stack:
        node = stack.pop()
        for metric in node.get("metrics", []):
            key = PYTHON_TIME.get(metric.get("name"))
            if key is not None:
                acc[metric["accumulatorId"]] = key
        stack.extend(node.get("children", []))


def _noop(df) -> None:
    """Execute the whole plan with no output, as ``bench.py`` times it."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark) -> None:
    """``bench.py``'s warmup: JVM, parquet footers, and the hash-agg,
    join, regex, higher-order-function and window codegen paths."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    _noop(joined.groupBy("l_returnflag").count())
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    _noop(docs.select(
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)),
        F.aggregate(
            F.transform(F.sequence(F.lit(1), F.lit(4)), lambda i: i.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        ),
        F.row_number().over(Window.partitionBy(F.lit(1)).orderBy("doc_id")),
    ))


def _drain(spark) -> None:
    # Events reach the log through an asynchronous listener bus: wait
    # until all posted so far are written, so one byte offset cleanly
    # separates the events of two runs.
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _jvm_ms(spark) -> dict[str, int]:
    """The driver JVM's cumulative JIT compilation and GC times (ms)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        # -1 where a collector does not report its time
        "gc_ms": sum(
            max(0, gc.getCollectionTime())
            for gc in mf.getGarbageCollectorMXBeans()
        ),
    }


def _run(spark, fn, log: Path, label: str) -> tuple[dict, list[dict]]:
    _drain(spark)
    offset = log.stat().st_size
    spark.sparkContext.setJobDescription(label)
    jvm0 = _jvm_ms(spark)
    t0 = time.perf_counter()
    with materialized():  # a run leaves no pin behind for the next one
        _noop(fn(spark, SF_DIR))
    wall = time.perf_counter() - t0
    _drain(spark)
    jvm1 = _jvm_ms(spark)
    jobs, totals = parse(log, offset)
    totals.update({k: jvm1[k] - jvm0[k] for k in jvm0})
    print(f"{label}: wall {wall:.2f}s {json.dumps(totals)}", file=sys.stderr)
    return {"wall_s": round(wall, 3), **totals}, jobs


def _print_jobs(wall_s: float, jobs: list[dict]) -> None:
    job_s = sum(j["wall_ms"] for j in jobs) / 1000
    print(
        f"    {len(jobs)} jobs, sum(job wall) {job_s:.1f}s; "
        f"driver/gap {wall_s - job_s:.1f}s",
        file=sys.stderr,
    )
    for j in sorted(jobs, key=lambda j: -j["wall_ms"])[:25]:
        print(
            f"    {j['wall_ms']:7d} ms  tasks={j['tasks']:4d} "
            f"cpu={j['executor_cpu_ms']:6d} ms  {j['callsite'][:60]}",
            file=sys.stderr,
        )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        prog="python -m quantlab_data_pipeline_spark.observe",
        description=__doc__.split("\n\n")[0],
    )
    ap.add_argument("rows", nargs="+", help="registry row names")
    ap.add_argument(
        "--repeat", type=int, default=2, help="steady runs after the cold one"
    )
    args = ap.parse_args(argv)
    from .queries import SPARK_QUERIES

    unknown = [r for r in args.rows if r not in SPARK_QUERIES]
    if unknown:
        ap.error(f"not registry rows: {', '.join(unknown)}")
    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    log_dir = tempfile.mkdtemp(prefix="sparklog-")
    spark = event_log_session(log_dir)
    try:
        warm_up(spark)
        log = _log_file(log_dir)
        out = {}
        for name in args.rows:
            fn = SPARK_QUERIES[name]
            cold, jobs = _run(spark, fn, log, f"observe:{name}:cold")
            _print_jobs(cold["wall_s"], jobs)
            runs = [cold] + [
                _run(spark, fn, log, f"observe:{name}:steady{i}")[0]
                for i in range(args.repeat)
            ]
            out[name] = {
                "cold_s": cold["wall_s"],
                "steady_s": min((r["wall_s"] for r in runs[1:]), default=None),
                "runs": runs,
                "jobs": jobs,
            }
    finally:
        spark.stop()
        shutil.rmtree(log_dir, ignore_errors=True)
    print(json.dumps({
        "sf_dir": SF_DIR, "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()], "rows": out,
    }))


if __name__ == "__main__":
    main()
