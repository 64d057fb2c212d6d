"""SparkSession factory for the engine.

Local-mode defaults are tuned for the test/bench environment
(``local[32]``, single JVM); the same settings scale to a real cluster
because they only touch planner behavior (AQE, broadcast threshold,
shuffle-partition sizing), not cluster topology.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# The directory holding this package: the Python workers import the
# daemon module and the kernels from it, wherever the driver runs.
PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)
# The driver JVM's JIT policy: the four C2 (tier 4) thresholds at 10x
# the JDK 17 defaults. The driver's hot code in a short session is
# lukewarm (the planner, Janino, task serialization, class loading),
# and at the default thresholds C2 compiles thousands of such methods
# and spends about half the session's CPU doing it. A real data loop
# still crosses these thresholds within its first seconds.
DRIVER_JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def default_driver_memory(total_bytes: int | None = None) -> str:
    """A quarter of physical memory, at least 1 GiB and at most 32 GiB,
    in MiB (``"3840m"``). In local mode the driver JVM is the whole
    engine, so its heap must fit beside the Python workers."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, min(32 * 1024, total_bytes // 4 // (1 << 20)))}m"


def get_spark(
    app_name: str = "quantlab_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults chosen for 100 TB-readiness:

    - AQE on (runtime coalescing, skew-join splitting, dynamic join
      strategy switch).
    - ``spark.sql.shuffle.partitions`` sized to the local core count in
      tests; on a cluster this should be ~2-3x total cores (AQE coalesces
      down, so slightly-too-many is the safe direction).
    - UTC session timezone so timestamps compare bit-for-bit with
      external oracles (DuckDB is UTC-naive).
    - Arrow enabled for every pandas interchange (toPandas, pandas UDFs).
    - Python workers fork warm from :mod:`.pyworker`
      (``spark.python.daemon.module``), a daemon that imports the Arrow
      stack and the kernels once and drops the zip importers whose
      directories each task would otherwise re-read. The package root
      goes on the workers' ``PYTHONPATH``, so the daemon and the
      kernels import from any working directory.
    - The driver JVM compiles with C2 only code that is hot, not
      lukewarm (:data:`DRIVER_JIT_POLICY`, C2 thresholds at 10x the
      JDK defaults). It goes in ``spark.driver.defaultJavaOptions``,
      which Spark puts in front of ``spark.driver.extraJavaOptions``,
      so a caller's own JVM flags still apply. Executors on a cluster
      keep the JDK defaults.
    - ``spark.driver.memory`` defaults to a quarter of physical memory
      (1-32 GiB, :func:`default_driver_memory`);
      ``SPARK_GRAFT_DRIVER_MEM`` overrides it.
    - ``SPARK_GRAFT_INITIAL_PARTITIONS`` overrides the AQE
      pre-coalesce reducer count (default 8x cores). The default is
      cluster-sized — the 64x scaling probe showed big fact-fact
      shuffles need it — but at toy scale 256 reducer partitions cost
      ~20% in pure scheduling, so data-sized callers (bench.py sizes
      it from the input bytes at ~64MB per partition) can hand the
      right number in, exactly as a cluster job sizes its shuffles.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Start shuffles wide and let AQE coalesce down: a fixed
        # core-count partitioning spills once per-partition data
        # outgrows memory (scripts/scaling_probe.py shows a 64x fact
        # join going 19.5s -> 2.9s with wider shuffles). The high
        # initial number costs nothing on small data because AQE
        # merges tiny partitions after each stage.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_INITIAL_PARTITIONS", str(int(cpus) * 8)
            ),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # zstd: ~30% smaller than snappy at comparable scan speed — at
        # the 100 TB design point that is tens of TB of storage and
        # shuffle-read bandwidth.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Read TIMESTAMP(NANOS) parquet columns as long (nanos since epoch);
        # convert with sources.read_table's ns->ts normalization.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_POLICY)
        .config("spark.python.daemon.module", "quantlab_data_pipeline_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
