"""The Python worker daemon (quantlab_data_pipeline_spark/pyworker.py)
and the session defaults that install it and the driver's JIT policy."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from quantlab_data_pipeline_spark.session import (
    DRIVER_JIT_POLICY,
    PACKAGE_ROOT,
    default_driver_memory,
)

DAEMON = "quantlab_data_pipeline_spark.pyworker"


def test_session_runs_the_package_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON
    assert conf.get("spark.executorEnv.PYTHONPATH") == PACKAGE_ROOT


def test_worker_is_forked_from_the_daemon_without_zip_importers(spark):
    def kernel(batches):
        import sys
        import zipimport

        import pandas as pd

        main = sys.modules["__main__"].__spec__.name
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for pdf in batches:
            yield pd.DataFrame({"main": [main] * len(pdf), "zips": [zips] * len(pdf)})

    rows = (
        spark.range(8)
        .repartition(4)
        .mapInPandas(kernel, "main string, zips int")
        .distinct()
        .collect()
    )
    assert [(r["main"], r["zips"]) for r in rows] == [(DAEMON, 0)]


def test_python_udf_runs_from_outside_the_checkout(tmp_path):
    """The workers find the daemon module through the package root the
    session puts on their path, not through the working directory. The
    fresh driver JVM gets the JIT policy and, as perfbench passes them,
    the caller's own ``extraJavaOptions`` too."""
    script = textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from pyspark.sql import functions as F
        from quantlab_data_pipeline_spark.session import get_spark

        spark = get_spark(app_name="outside", master="local[1]",
                          shuffle_partitions=1,
                          extra_conf={{"spark.driver.memory": "1g",
                                      "spark.driver.extraJavaOptions": "-XX:-UsePerfData"}})
        mf = spark._jvm.java.lang.management.ManagementFactory
        print(json.dumps(list(mf.getRuntimeMXBean().getInputArguments())))
        plus_one = F.udf(lambda x: x + 1, "long")
        print(sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
        spark.stop()
    """)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    *_, jvm_args, udf_out = proc.stdout.strip().splitlines()
    assert udf_out == "[1, 2, 3]"
    jvm_args = json.loads(jvm_args)
    for flag in [*DRIVER_JIT_POLICY.split(), "-XX:-UsePerfData"]:
        assert flag in jvm_args, (flag, jvm_args)


def test_default_driver_memory_is_a_quarter_within_1_to_32_gib():
    gib = 1 << 30
    assert default_driver_memory(15 * gib) == "3840m"
    assert default_driver_memory(2 * gib) == "1024m"  # floor
    assert default_driver_memory(512 << 20) == "1024m"
    assert default_driver_memory(256 * gib) == "32768m"  # ceiling
    assert default_driver_memory(64 * gib) == "16384m"
    assert default_driver_memory().endswith("m")
