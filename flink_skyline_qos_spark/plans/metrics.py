"""Result metrics (A4-A7): optimality, timing, JSON result assembly.

Reference: `/root/reference/java/org.main/FlinkSkyline.java:579-650`.

* **Optimality** (A4): per origin partition, survivors-in-global ÷
  local-skyline-size; summed over partitions *with a recorded local
  skyline* and divided by `total_partitions` (empty partitions count in
  the denominator only) — exactly the reference's loop at :590-608.
* **Timing** (A5): wall-clock phases measured driver-side.
* **CPU accounting** (A6): both skyline phases run in the driver, so
  local/global CPU is the driver's `time.perf_counter_ns` around the
  kernel calls — summed over pids for the local phase, as the stream
  engine reports it (the reference times its per-partition BNL,
  FlinkSkyline.java:266-294,534-539).
* **JSON assembly** (A7): `to_json(struct(...))`, optimality at 4 dp
  with US-locale formatting (reference uses String.format %.4f).
"""

from __future__ import annotations

import time
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.skyline import _driver_rows, _two_phase_masks

__all__ = ["skyline_query_metrics", "metrics_to_json", "write_metrics_csv"]


def skyline_query_metrics(points: DataFrame, cols: Sequence[str], *,
                          query_id: str = "1", algo: str = "mr-dim",
                          num_partitions: int = 8, domain_max: float,
                          with_timing: bool = False) -> DataFrame:
    """One-row metrics DataFrame for a skyline query under a given partitioner.

    Columns: query_id, record_count, skyline_size, optimality (4 dp) —
    the oracle-checkable subset of the reference's result JSON; timing
    fields (wall-clock + A6 kernel CPU, not oracle-checkable) added when
    `with_timing`.

    ONE Spark job brings the dims to the driver with ``toArrow()``; the
    driver drops the rows with a NULL or NaN dim, tags the pid and
    computes the local skylines and the global merge
    (:func:`~..operators.skyline._driver_rows`, then
    :func:`~..operators.skyline._two_phase_masks`) — the plan of
    :func:`~..operators.skyline.skyline_two_phase`.  record_count
    counts every row; rows with a NULL or NaN dim take no part in the
    skyline, the one semantics of every skyline entry point.  EAGER,
    and the dims must fit in the driver.
    """
    t0 = time.perf_counter()
    spark = points.sparkSession
    t = _driver_rows(points.select(*cols), cols, algo, num_partitions,
                     domain_max)
    phases = _two_phase_masks(t.pids, t.values)
    t_end = time.perf_counter()

    # Reference optimality loop (FlinkSkyline.java:590-608): partitions with
    # a local skyline contribute survivors/local_size; the denominator is
    # ALWAYS total_partitions (empty partitions dilute).
    sizes = np.bincount(t.pids[phases.local])
    surv = np.bincount(t.pids[phases.keep], minlength=len(sizes))
    optimality = round(
        float((surv[sizes > 0] / sizes[sizes > 0]).sum()) / num_partitions,
        4)
    row = {
        "query_id": str(query_id),
        "record_count": t.tbl.num_rows,
        "skyline_size": int(phases.keep.sum()),
        "optimality": optimality,
    }
    schema = ("query_id string, record_count long, skyline_size long, "
              "optimality double")
    if with_timing:
        # A6: the driver's kernel time, summed over pids for the local
        # phase (the engine's definition); the global phase is the merge
        # kernel, the local phase everything before it.
        total_ms = int((t_end - t0) * 1000)
        global_ms = phases.global_ns // 1_000_000
        row.update(
            ingestion_time_ms=0,
            local_processing_time_ms=total_ms - global_ms,
            global_processing_time_ms=global_ms,
            total_processing_time_ms=total_ms,
            local_cpu_ms=phases.local_ns // 1_000_000,
            global_cpu_ms=global_ms,
        )
        schema += (", ingestion_time_ms long, local_processing_time_ms long"
                   ", global_processing_time_ms long, total_processing_time_ms"
                   " long, local_cpu_ms long, global_cpu_ms long")
    return spark.createDataFrame([row], schema=schema)


def write_metrics_csv(metrics: DataFrame, path: str) -> None:
    """S4: append-style CSV metrics sink with the reference collector's
    column order (`metrics_collector.py:60-72`) where present.

    Missing timing columns are written as 0 — the collector does the
    same for malformed records.
    """
    ref_order = [
        "query_id", "record_count", "skyline_size", "optimality",
        "ingest_ms", "local_ms", "global_ms", "total_ms", "latency_ms",
    ]
    cols = [
        (F.col(c) if c in metrics.columns else F.lit(0).alias(c))
        for c in ref_order
    ]
    metrics.select(*cols).write.mode("append") \
        .option("header", True).csv(path)


def metrics_to_json(metrics: DataFrame) -> DataFrame:
    """A7: the reference's JSON result record as a single string column."""
    return metrics.select(
        F.to_json(F.struct(*metrics.columns)).alias("result_json")
    )


def metrics_oracle_sql(table_sql: str, cols: Sequence[str], *, query_id: str,
                       pid_sql: str, num_partitions: int) -> str:
    """DuckDB twin of :func:`skyline_query_metrics` (no timing columns)."""
    from ..functions.dominance import skyline_not_exists_sql

    base = f"(SELECT t.*, {pid_sql} AS origin_partition FROM {table_sql} t)"
    local_sky = skyline_not_exists_sql(
        base, cols, select="t.*", partition_by=["origin_partition"]
    )
    # global skyline composes over the CTE NAME so the local pipeline's SQL
    # is expanded (and evaluated) once, not once per reference
    global_sky = skyline_not_exists_sql("local_sky", cols, select="t.*")
    return f"""
WITH local_sky AS ({local_sky}),
global_sky AS ({global_sky}),
sizes AS (SELECT origin_partition, count(*) AS n FROM local_sky GROUP BY 1),
surv AS (SELECT origin_partition, count(*) AS s FROM global_sky GROUP BY 1)
SELECT '{query_id}' AS query_id,
       (SELECT count(*) FROM {table_sql} t) AS record_count,
       (SELECT count(*) FROM global_sky) AS skyline_size,
       round(coalesce((SELECT sum(coalesce(s.s, 0) * 1.0 / z.n)
                       FROM sizes z LEFT JOIN surv s USING (origin_partition)
                       WHERE z.n > 0), 0.0) / {num_partitions}, 4) AS optimality
""".strip()
