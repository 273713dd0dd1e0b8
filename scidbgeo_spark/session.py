"""SparkSession factory with scale-aware defaults; a session runs no job.

Local mode is the sandbox stand-in for a multi-executor cluster; all
configs below are the ones that transfer (AQE, Arrow, shuffle sizing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _driver_memory(phys_bytes: int) -> str:
    """40% of ``phys_bytes`` of RAM in whole GiB, between 1g and 48g."""
    return f"{min(48, max(1, phys_bytes * 2 // 5 // 2**30))}g"


def get_spark(
    app: str = "scidbgeo-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.  It runs no
    job: the first query pays the JVM's first-job start-up, and the first
    to cross the Python boundary forks the Python workers (about 3 s on
    4 CPUs), so a session pays only for what it runs.

    - AQE on: runtime coalesce + skew-join splitting (the engine also salts
      known-hot keys explicitly; AQE is the backstop).
    - Arrow on: every pandas-UDF kernel moves data in columnar batches.
    - shuffle partitions ~ cores for local mode (not the 200 default).
    - driver memory: ``SPARK_DRIVER_MEM``, else 40% of the host's RAM.
    """
    cores = cores or DEFAULT_CPUS
    shuffle = shuffle_partitions or max(cores, 8)
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mem = os.environ.get("SPARK_DRIVER_MEM", _driver_memory(phys))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
