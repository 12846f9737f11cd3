"""SparkSession factory with engine defaults.

Tuned for the host the engine runs on: local[N] sized to its CPUs, a
driver heap sized to its memory, AQE and Arrow on, and local-mode
Python workers started by the top-level ``skyline_daemon`` module, which
imports PySpark from the interpreter's installation when it matches
Spark's own zip.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DAEMON = "skyline_daemon"
# the directory that holds the package and the daemon module beside it
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def warm_arrow_pool(spark) -> None:
    """Start every Arrow Python worker outside any timed section.  The
    first pandas-UDF stage of a session forks one worker per core, and
    each imports numpy, pandas and pyarrow; one narrow ``mapInPandas``
    pass over two partitions per core pays that once.  It takes ~1.5-1.7 s
    wall on a 4-vCPU host (``session.arrow_warm_s``, perfbench seed 1),
    since worker tasks no longer re-read Spark's PySpark archives
    (``skyline_daemon``).  Plans that run kernels in Python workers need
    it: ``skyline()``, the variants and the grouped prunes.
    ``skyline_two_phase`` and ``SkylinePipeline`` run their kernels in
    the driver and start no Python worker.  Shared by
    tools/check_oracle.py and perfbench/run.py."""

    def _ident(batches):
        for pdf in batches:
            yield pdf

    par = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * par, 1, 2 * par).selectExpr("id", "rand() x") \
        .mapInPandas(_ident, schema="id long, x double").count()


def _daemon_module(master: str) -> str | None:
    """``spark.python.daemon.module`` for a session on `master`:
    ``skyline_daemon`` when its workers can import it, else None, which
    leaves Spark's ``pyspark.daemon``.  Local-mode workers start with
    the driver's working directory first on ``sys.path``, then the
    driver's ``PYTHONPATH``; a cluster's executors have their own path,
    which the driver cannot see."""
    if not master.startswith("local") or not os.path.isfile(
            os.path.join(_ROOT, _DAEMON + ".py")):
        return None
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    root = os.path.realpath(_ROOT)
    return _DAEMON if any(os.path.realpath(d) == root for d in dirs) else None


def _checkpoint_file_manager(master: str) -> str | None:
    """``spark.sql.streaming.checkpointFileManagerClass`` for a session on
    `master`: ``FileSystemBasedCheckpointFileManager`` in local mode,
    else None, which leaves Spark's default.  The default renames each
    offsets, commits and source-log file with ``FileContext.rename``;
    on the local file system without libhadoop, Hadoop then forks a
    ``readlink`` process per file.  ``FileSystem.rename`` is one
    ``rename(2)``, atomic on a local disk, and the manager checks that
    the target does not exist before a rename that must not overwrite.
    A cluster's checkpoint may sit on a store where only the default
    renames atomically, so it keeps the default."""
    if not master.startswith("local"):
        return None
    return ("org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager")


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
    builder = (
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
    )
    daemon = _daemon_module(master)
    if daemon:
        builder = builder.config("spark.python.daemon.module", daemon)
    manager = _checkpoint_file_manager(master)
    if manager:
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass", manager)
    return builder.getOrCreate()
