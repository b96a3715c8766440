"""Spark session lifecycle for the benchmark.

Every :func:`start` launches a fresh driver JVM, so each set-up the
benchmark times pays the full cost a user pays, and every :func:`stop`
waits until that JVM has exited.
"""

from __future__ import annotations

import subprocess
from pathlib import Path


def start(cores: int, work_dir: Path, event_log_dir: Path | None = None):
    """A ``local[cores]`` session. Its shuffle and block files go where
    ``SPARK_LOCAL_DIRS`` points, which the caller sets; JVM temp files go to
    ``work_dir/tmp``. With ``event_log_dir`` Spark writes its event log there
    (uncompressed)."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        # the same session shape bench.py gives its big crawl
        .config("spark.sql.shuffle.partitions", str(max(8, cores)))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.warehouse.dir", str(work_dir / "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work_dir / 'tmp'}")
    )
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir.resolve().as_uri())
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then close the gateway and wait for its JVM: the
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
