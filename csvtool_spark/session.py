"""SparkSession factory.

Local mode is a single JVM with N executor threads; the same configs are
cluster-safe (AQE, adaptive coalescing, skew-join handling) so the engine's
plans survive a 1000-executor deployment unchanged. Shuffle partitioning
defaults to the local core count but should be raised (or left to AQE
coalescing from a high initial value) on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for scale: AQE re-plans joins/shuffles at runtime (broadcast
#: conversion, partition coalescing, skew splitting); Arrow makes the
#: pandas-UDF slow path ~10-100x cheaper; UTC pins timestamp semantics so
#: results are comparable across engines (DuckDB oracle included).
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep parquet scans wide enough to parallelize but small enough to fit
    # executor memory at high SF; AQE coalesces the tail.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    # PySpark 4 wraps every DataFrame/Column API call to capture the Python
    # call site and ship it to the JVM for error enrichment — two extra py4j
    # round trips per API call. Measured at ~40% of the py4j chatter in
    # query construction (profiled in round 13); pure diagnostics, so off
    # in production sessions. Scale-independent: this is driver-side
    # constant overhead per query BUILD, the same on a laptop or a
    # 1000-executor cluster.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "csvtool_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to the core count in local mode — the
    right number for local shuffles; on a cluster pass ~2-3x total cores and
    let AQE coalesce.
    """
    par = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{par}]"
    )
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or par)
    # A limit collect (the GUI's clipped display, the inference head)
    # scans one wave of partitions in its first job, not one partition:
    # a selective query then finishes in one job instead of two.
    conf["spark.sql.limit.initialNumPartitions"] = str(par)
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
