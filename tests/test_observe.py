"""The measurement module (quantlab_data_pipeline_spark/observe.py).

The parser is checked without a JVM on a hand-written event log; one
run in the test session checks the JVM times; one subprocess run checks
the command end to end on the smallest testdata.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from quantlab_data_pipeline_spark.observe import TASK_WORK, _run, parse

REPO = Path(__file__).resolve().parents[1]


def _task(stage, cpu_ns=0, run_ms=0, read=0, remote=0, local=0, written=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {
                "Remote Bytes Read": remote,
                "Local Bytes Read": local,
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def _job_start(job, stages, t, callsite=""):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Submission Time": t,
        "Stage IDs": stages,
        "Properties": {"spark.job.description": f"d{job}", "callSite.short": callsite},
    }


def test_parse_charges_shared_stage_to_first_job_and_counts_unmapped_tasks(
    tmp_path,
):
    before = [_job_start(99, [99], 0), _task(99, read=7)]
    window = [
        _job_start(0, [0, 1], 1000, callsite="count at x.py:1"),
        # job 1 lists stage 1 again (a reused shuffle): charged to job 0
        _job_start(1, [1, 2], 1100),
        _task(0, cpu_ns=3_500_000, run_ms=5, read=100, written=40),
        _task(1, cpu_ns=1_000_000, run_ms=2, remote=30, local=10),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Name": "s0"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Stage Name": "s1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1300},
        _task(2, cpu_ns=2_000_000, run_ms=4, read=50, remote=40, written=9),
        _task(8, cpu_ns=9_000_000, run_ms=9, read=1000, written=3),  # no job
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Stage Name": "save at y.py:2"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 8, "Stage Name": "s8"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1500},
    ]
    head = "".join(json.dumps(e) + "\n" for e in before)
    log = tmp_path / "app"
    log.write_text(
        head
        + "".join(json.dumps(e) + "\n" for e in window)
        + '{"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Me'
    )

    jobs, totals = parse(log, len(head.encode()))

    assert [(j["job"], j["desc"], j["callsite"], j["wall_ms"]) for j in jobs] == [
        (0, "d0", "count at x.py:1", 300),
        (1, "d1", "save at y.py:2", 400),
    ]
    assert [j["tasks"] for j in jobs] == [2, 1]
    assert jobs[0]["shuffle_read_bytes"] == 40
    assert totals == {
        "jobs": 2,
        "stages": 4,
        "tasks": 4,
        "input_bytes": 1150,
        "shuffle_read_bytes": 80,
        "shuffle_write_bytes": 52,
        "executor_run_ms": 20,
        "executor_cpu_ms": 3 + 1 + 2 + 9,
        "python_start_ms": 0,
        "python_init_ms": 0,
        "python_run_ms": 0,
    }
    # the stage-8 task counts in the totals only
    unmapped_work = {
        "tasks": 1, "input_bytes": 1000, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 3, "executor_run_ms": 9, "executor_cpu_ms": 9,
    }
    for key in TASK_WORK:
        assert sum(j[key] for j in jobs) + unmapped_work[key] == totals[key]


def _plan(name, metrics, children=()):
    return {
        "nodeName": name,
        "metrics": [
            {"name": m, "accumulatorId": i, "metricType": "timing"}
            for m, i in metrics
        ],
        "children": list(children),
    }


def _python_task(stage, updates):
    task = _task(stage)
    task["Task Info"] = {
        "Accumulables": [
            {"ID": i, "Name": "n", "Update": str(u), "Value": "0"}
            for i, u in updates
        ]
    }
    return task


def test_parse_sums_python_worker_times_from_plan_accumulators(tmp_path):
    start, init, run = (
        "time to start Python workers",
        "time to initialize Python workers",
        "time to run Python workers",
    )
    before = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": _plan("MapInPandas", [(start, 1), (init, 2), (run, 3)])},
        _python_task(0, [(1, 500), (2, 500), (3, 500)]),
    ]
    window = [
        # the mapInPandas node sits below the root, beside a scan
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": _plan("WriteFiles", [("number of output rows", 9)], [
             _plan("MapInPandas", [(start, 11), (init, 12), (run, 13)], [
                 _plan("Scan", [("scan time", 14)]),
             ]),
         ])},
        _python_task(1, [(11, 40), (12, 7), (13, 100), (9, 1000), (14, 1000)]),
        _python_task(1, [(11, 0), (12, 6), (13, 90)]),
        # an adaptive re-plan brings a second Python operator
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLAdaptiveExecutionUpdate",
         "sparkPlanInfo": _plan("AdaptiveSparkPlan", [], [
             _plan("ArrowEvalPython", [(start, 21), (init, 22), (run, 23)]),
         ])},
        _python_task(2, [(21, 3), (22, 2), (23, 5)]),
        # the plan of an execution before the window is not read
        _python_task(3, [(1, 1), (2, 1), (3, 1)]),
        _task(4),  # a JVM-only task: no Task Info
    ]
    head = "".join(json.dumps(e) + "\n" for e in before)
    log = tmp_path / "app"
    log.write_text(head + "".join(json.dumps(e) + "\n" for e in window))

    _, totals = parse(log, len(head.encode()))

    assert totals["tasks"] == 5
    assert (
        totals["python_start_ms"],
        totals["python_init_ms"],
        totals["python_run_ms"],
    ) == (40 + 0 + 3, 7 + 6 + 2, 100 + 90 + 5)


def test_run_reports_jit_and_gc_ms_of_the_driver_jvm(spark, tmp_path):
    log = tmp_path / "events"
    log.write_text("")  # no event log in the test session: zero work totals
    totals, jobs = _run(spark, lambda s, _: s.range(10).selectExpr("id * 2"), log, "t")
    for key in ("jit_ms", "gc_ms"):
        assert isinstance(totals[key], int) and totals[key] >= 0, (key, totals[key])
    assert jobs == [] and totals["jobs"] == 0


def test_observe_command_reports_equal_work_cold_and_steady():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-m", "quantlab_data_pipeline_spark.observe",
         "q1_pricing_summary", "--repeat", "1"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["sf_dir"] == "/root/testdata/sf0.001"
    assert out["nproc"] > 0
    assert len(out["loadavg_start"]) == len(out["loadavg_end"]) == 3
    row = out["rows"]["q1_pricing_summary"]
    cold, steady = row["runs"]
    assert row["cold_s"] == cold["wall_s"] and row["steady_s"] == steady["wall_s"]
    assert cold["jobs"] > 0 and len(row["jobs"]) == cold["jobs"]
    for key in ("jobs", "tasks", "input_bytes"):
        assert cold[key] == steady[key], key
    assert sum(j["tasks"] for j in row["jobs"]) <= cold["tasks"]
