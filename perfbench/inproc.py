"""An in-process Spark session for the benchmark's untimed prep and its
traced layer pass, with the production job's SQL confs, and a stop that
waits for the JVM to exit."""

from __future__ import annotations

import contextlib
import os
import subprocess
from typing import Iterator, Optional

from pyspark import SparkContext
from pyspark.sql import SparkSession

from submit import DRIVER_MEMORY, java_env


@contextlib.contextmanager
def local_spark(
    workdir: str, cores: int, event_log_dir: Optional[str] = None
) -> Iterator[SparkSession]:
    local = os.path.join(workdir, "local")
    os.makedirs(local, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", local)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        # the same job-level confs scripts/run_extract_job.py sets
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    # the JVM (and the Python workers it forks) take these at launch only
    env = java_env(local)
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        spark = b.getOrCreate()
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    spark.sparkContext.setLogLevel("ERROR")
    try:
        yield spark
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # let a later session in this process launch a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
