"""Measurement helpers shared by the workloads.

* ``Tracer`` times every public call from outside, in wall time and in
  CPU time of the whole process tree (``cpu_s``). Traced it also records a span per call (workload,
  call, start, end, parent, run id) and sets a Spark job group around
  the call so the event log attributes jobs, tasks, bytes and CPU to it.
* ``event_log_work`` folds the Spark event log (enabled only in traced
  runs) into per-job-group work counters.
* ``leaked_entries`` / ``release_cache`` keep steady state honest: what
  a call left in the CacheManager or as persisted RDDs is counted, then
  dropped before the next timed call.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
WORK_KEYS = (
    "jobs",
    "tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_cpu_s",
)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, int]:
    """Highest whole percentile with at least 10 samples beyond it.

    Returns ``(value, percentile)``; with 10 samples or fewer the tail is
    the maximum, reported as percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return (xs[-1] if xs else 0.0), 100
    pct = math.floor(100 * (n - 10) / n)
    idx = min(n - 1, max(0, math.ceil(pct / 100 * n) - 1))
    return xs[idx], pct


class Tracer:
    def __init__(self, spark, workload: str, run_id: str, traced: bool):
        self.spark = spark
        self.workload = workload
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self.leaks: list[int] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, call: str):
        """Time ``call``; afterwards count and drop leaked cache entries
        (outside the timed region)."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "run": self.run_id,
            "workload": self.workload,
            "call": call,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"{self.run_id}:{sid}",
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(rec["group"], call)
        rec["cpu_start"] = cpu_s()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_end"] = cpu_s()
            self._stack.pop()
            if self.traced:
                parent = self.spans[self._stack[-1]] if self._stack else None
                if parent:
                    sc.setJobGroup(parent["group"], parent["call"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.leaks.append(leaked_entries(self.spark))
            release_cache(self.spark)

    def seconds(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def cpu(self, rec: dict) -> float:
        return rec["cpu_end"] - rec["cpu_start"]

    def self_times(self) -> dict[int, float]:
        own = {s["id"]: self.seconds(s) for s in self.spans if "end" in s}
        for s in self.spans:
            if s["parent"] is not None and s["id"] in own:
                own[s["parent"]] -= self.seconds(s)
        return own

    def dump(self, path: Path) -> None:
        own = self.self_times()
        out = [dict(s, self_s=own.get(s["id"], 0.0)) for s in self.spans]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(out, indent=1) + "\n")


def _cache_manager_size(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return int(field.get(cm).size())


def leaked_entries(spark) -> int:
    """CacheManager entries plus persisted RDDs currently alive."""
    return _cache_manager_size(spark) + int(
        spark.sparkContext._jsc.getPersistentRDDs().size()
    )


def release_cache(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    live descendants (the JVM, its Python workers), each including the
    children it has reaped.

    On a shared host, wall time swings with the CPU time other tenants
    take (steal); the CPU time a call costs hardly moves with it."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command: state, ppid, ..., utime stime cutime cstime at 11..14
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children[pid])
    return ticks / CLK_TCK


def rss_mb(pids: list[int]) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def dir_stats(path: Path) -> tuple[int, int, int]:
    """``(data files, bytes, files under 1 MiB)`` below ``path``,
    ignoring checksum and marker files."""
    files = nbytes = small = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            size = os.path.getsize(os.path.join(root, name))
            files += 1
            nbytes += size
            small += size < (1 << 20)
    return files, nbytes, small


def event_log_work(log_dir: Path) -> dict[str, dict[str, float]]:
    """Fold every event log under ``log_dir`` into work per job group.

    Jobs without a group land under ``""``. Streaming jobs also count
    under ``"batch:<id>"`` from the micro-batch id property."""
    work: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(WORK_KEYS, 0.0))
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        stage_group: dict[int, list[str]] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    keys = [props.get("spark.jobGroup.id") or ""]
                    if props.get("streaming.sql.batchId") is not None:
                        keys.append(f"batch:{props['streaming.sql.batchId']}")
                    for k in keys:
                        work[k]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, keys)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    add = {
                        "tasks": 1,
                        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    }
                    for k in stage_group.get(ev.get("Stage ID"), [""]):
                        for key, v in add.items():
                            work[k][key] += v
    return dict(work)


def sum_work(work: dict, groups) -> dict[str, float]:
    total = dict.fromkeys(WORK_KEYS, 0.0)
    for g in groups:
        for k, v in work.get(g, {}).items():
            total[k] += v
    return total
