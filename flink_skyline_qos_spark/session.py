"""SparkSession factory with engine defaults.

Tuned for correctness tests on local[N]; every setting is the one you'd
also want on a real cluster (AQE, Arrow, partition sizing) — see
ARCHITECTURE.md for the 100 TB rationale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def warm_arrow_pool(spark) -> None:
    """Spin up every Arrow Python daemon worker OUTSIDE any timed
    section: the first pandas-UDF stage of a fresh session pays the
    fork + numpy/pandas import of every worker (measured 30-45 s
    across the first heavy queries at local[32]).  One narrow
    mapInPandas pass over one partition per core warms them all — a
    long-lived cluster job is always in this state.  Shared by
    bench.py and tools/check_oracle.py (review r9: the two copies had
    started to drift)."""

    def _ident(batches):
        for pdf in batches:
            yield pdf

    par = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * par, 1, 2 * par).selectExpr("id", "rand() x") \
        .mapInPandas(_ident, schema="id long, x double").count()


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset:
    half the host's ``MemTotal``, between 1g and 32g.  In local mode
    every task runs inside the driver JVM, and the Python workers need
    the other half.  Spark's own 1g default when `meminfo` is
    unreadable."""
    try:
        with open(meminfo) as fh:
            kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "1g"
    return f"{min(max(kb // 2048, 1024), 32 * 1024)}m"


def get_spark(app_name: str = "flink-skyline-qos-spark", *,
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master == "local[*]":
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode runs every task inside the driver JVM; the 1g
        # default heap GC-thrashes under 32 concurrent Arrow tasks.
        # Takes effect at JVM launch — i.e. on the first session of the
        # process (exactly how tests/bench/driver invoke us).
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY")
                or default_driver_memory())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # deterministic time bucketing (window alignment) across engines
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~64k rows/batch: fewer kernel invocations per partition for the
        # incremental skyline prune (measured ~1.5× on 1M 3-D); a few MB
        # per batch at typical widths — far below worker memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
