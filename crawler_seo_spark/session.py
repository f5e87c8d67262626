"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def machine_cores() -> int:
    """Cores this process may run on (``nproc``: honours CPU affinity)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def default_driver_memory() -> str:
    """A quarter of physical RAM, at least 1 GiB: the local-mode driver JVM
    hosts the executors too, and the Python workers need the rest."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "1g"
    return f"{max(1024, total // 4 // (1 << 20))}m"


def get_spark(app_name: str = "crawler_seo_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a session.

    Local-mode defaults follow the machine: one JVM with a task thread per
    core and a quarter of physical RAM as driver heap. Explicit ``cores``,
    then ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM``, override them. On a
    real cluster the same engine code runs under ``spark-submit
    --py-files`` with the master/executor topology supplied externally —
    nothing here assumes local mode except the defaults.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS")
                         or machine_cores())
    shuffle = shuffle_partitions or cores
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_MASTER", f"local[{cores}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Silence ONLY WindowExec's single-partition warning: the engine GATES
    # every global window on seq_window_threshold (small rounds/driver
    # queries use the one-task window BY DESIGN; big inputs take the
    # distributed prefix-sum), so these warnings are expected noise that
    # buries real regressions in bench output. Global log level stays WARN.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:
        pass  # non-log4j2 deployments keep default logging
    return spark
