"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "insideout-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Session with AQE (runtime re-plan + skew-join splitting), Arrow
    (vectorized pandas UDF transfer), and sane shuffle sizing. On a real
    cluster these same configs apply; master is only forced in local
    runs/tests. Local mode uses every CPU of the machine unless
    SPARK_GRAFT_CPUS says otherwise."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # local-mode default: the ONE JVM hosts the driver AND every
        # executor thread, so size it to the machine, not to a cluster
        # driver (guide §5). 24g on this 128 GiB box leaves headroom
        # for 32 concurrent tasks' sort/agg buffers plus per-call
        # materializations without old-gen GC thrash (measured: with 8g
        # repeated dedup_components degraded 10 -> 54 s as the heap
        # filled). On a real cluster spark.executor.memory governs the
        # workers and this value is irrelevant to data work.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
