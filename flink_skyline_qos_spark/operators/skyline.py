"""Skyline operators: the two-phase skyline of the reference's
FlinkSkyline.java (a local skyline per partition, then one global
merge) on Spark.

One executor path, one driver path and a chooser between them:

1. :func:`skyline`, the executor path.  Phase 1 prunes each input
   partition to its local skyline in an Arrow `mapInArrow` kernel host,
   with no shuffle: skyline is decomposable under any partitioning
   (SURVEY §1.4).  Phase 2 moves only the survivors to one task
   (`repartition(1)`) and merges them.  Lazy; the rows stay in the
   executors.

2. :func:`skyline_two_phase`, the driver path with the reference's
   partitioners.  One ``toArrow()`` brings the input's rows to the
   driver, which drops incomplete rows, tags each row's MR-Dim /
   MR-Grid / MR-Angle / MR-Z partition id (the NumPy twin of the JVM
   partitioners) and runs each pid's local skyline and the global
   merge with the NumPy kernel.  Eager, and bounded by driver memory,
   like a stream-engine micro-batch.

3. :func:`skyline_auto` picks one of the two: the driver path when
   the input's rows have a fixed width and all of them fit a share of
   ``spark.driver.maxResultSize``, the executor path otherwise.

:func:`skyline_anti_join` is the declarative Catalyst form (a left-anti
self-join on the dominance predicate, O(n²)), kept as the small-data
oracle-shaped path.  :func:`skyline_2d_window` and
:func:`grouped_skyline` are the global 2-D window plan and the
per-group skyline; the rest maintain or layer a skyline.

All paths preserve duplicates (ties never dominate) and arbitrary
passthrough columns; the driver path cannot return a user-defined-type
column (see :func:`skyline_two_phase`).
"""

from __future__ import annotations

import time
from typing import Iterator, NamedTuple, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dominance import dominates
from .caching import release_on_gc
from .kernels import skyline_mask
from .partitioners import partition_ids, split_by_pid

__all__ = [
    "skyline",
    "skyline_2d_window",
    "skyline_two_phase",
    "skyline_anti_join",
    "skyline_auto",
    "grouped_skyline",
    "skyline_delta",
    "skyline_delta_delete",
    "skyline_layers",
    "skyline_layers_sql",
]


def _values(pdf: pd.DataFrame, cols: Sequence[str]) -> np.ndarray:
    return pdf[list(cols)].to_numpy(dtype=np.float64, copy=False)


def _narrow_rewrite(df: DataFrame, cols: Sequence[str]) -> bool:
    """Default width heuristic: rewrite to dims-only prune + semi-join
    back when the NON-dim payload could dominate the row.

    The direct path ships every column of every row through the Arrow
    prune nodes — transfer proportional to row width, which dominates
    on document-like tables (VERDICT r8 #1).  The rewrite prunes a
    ``select(*cols)`` projection instead (parquet then reads ONLY the
    dim columns — column pruning reaches the scan) and
    restores full rows with one equi-semi-join on the dim values, which
    AQE turns into a broadcast hash join whenever the skyline is small
    (the common case).  Exact: a row is in the skyline iff its dim
    vector is in skyline(vectors) — duplicates of skyline vectors all
    survive, the kernels' tie semantics.

    Fire when

    * any extra column has a VARIABLE-LENGTH type (string / binary /
      array / map / struct) — static schema sizes cannot bound these,
      and a single text or embedding column is exactly the payload
      that must not cross the Arrow boundary per-row; or
    * the extra FIXED-WIDTH payload (8 B/column) exceeds
      ``max(2 × dim width, 48 B)`` — below that it rides along nearly
      for free and the rewrite's fixed cost (a second scan + one join
      stage) buys nothing.

    The synthetic (id, d0..dk) bench frames (8 extra bytes) and the
    narrow events wire frames stay direct; LI_COLS lineitem (string
    flags + 6 extra numerics) and any text/embedding-bearing table
    rewrite.  A table whose only extras are tiny string flags pays the
    join for little gain — callers that know better pass ``width_safe``
    explicitly.
    """
    from pyspark.sql import types as T

    dims = set(cols)
    extra = [f.dataType for f in df.schema.fields if f.name not in dims]
    if any(isinstance(dt, (T.StringType, T.BinaryType, T.ArrayType,
                           T.MapType, T.StructType)) for dt in extra):
        return True
    return 8 * len(extra) > max(2 * 8 * len(cols), 48)


def _join_back(df: DataFrame, vecs: DataFrame, cols: Sequence[str],
               by: "Sequence[str]" = ()) -> DataFrame:
    """Restore full rows: keep exactly the rows of `df` whose
    (group keys, dim vector) appears in `vecs` (the dims-only
    skyline).  `df` must already be `_complete`'d, so plain equality
    on the dims is exact (no NULL/NaN dim rows on either side; Spark
    normalizes -0.0 in join keys, matching the kernels' numeric
    equality); `by` group keys join NULL-SAFELY — grouped_skyline
    treats NULL as a regular group value.  The trailing select
    restores the input column order."""
    from functools import reduce as _red
    from operator import and_ as _and

    keys = [*by, *cols]
    r = vecs.select(*keys).distinct().select(
        *[F.col(c).alias(f"__r_{c}") for c in keys])
    cond = _red(_and, [
        F.col(c).eqNullSafe(F.col(f"__r_{c}")) for c in by
    ] + [F.col(c) == F.col(f"__r_{c}") for c in cols])
    return df.join(r, cond, "left_semi").select(*df.columns)


def _group_prune(cols: Sequence[str]):
    """applyInPandas function: exact skyline of one whole group."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[skyline_mask(_values(pdf, cols))]

    return fn


def _arrow_values(tbl, cols: Sequence[str], *, order: str = "F") -> np.ndarray:
    """pyarrow Table → (n, d) float64 kernel matrix over `cols`.

    Column-major (`order="F"`) by default: each dim column is then
    contiguous, and the kernels' (d, n) transpose becomes a zero-copy
    view instead of a strided gather.  Chunked columns are copied
    chunk-by-chunk (each chunk's `to_numpy` is zero-copy for no-null
    primitives).  A NULL dim becomes NaN, so one ``isnan`` finds the
    rows :func:`_complete` drops."""
    n = tbl.num_rows
    out = np.empty((n, len(cols)), dtype=np.float64, order=order)
    for j, c in enumerate(cols):
        off = 0
        for ch in tbl.column(c).chunks:
            nulls = None
            if ch.null_count:
                nulls = ch.is_null().to_numpy(zero_copy_only=False)
                ch = ch.fill_null(0)
            a = ch.to_numpy(zero_copy_only=False)
            out[off:off + len(a), j] = a
            if nulls is not None:
                out[off + np.flatnonzero(nulls), j] = np.nan
            off += len(a)
    return out


# Row and byte thresholds at which _prune_batches collapses its buffer.
_BUFFER_ROWS = 4_000_000
_BUFFER_BYTES = 256 << 20


def _prune_batches(cols: Sequence[str]):
    """mapInArrow function: skyline over this partition's batches.

    Buffers the partition's Arrow batches and runs ONE kernel pass over
    the whole buffer instead of a per-batch incremental merge: the
    per-batch merge re-verifies each batch against the running skyline
    matrix — O(batches · S) redundant comparisons that dominated the
    local-prune leg on anti-correlated data (S in the thousands per
    partition; the one-shot sweep is 2.8× faster end-to-end at 10M×3-D,
    BENCHMARKS.md round 8).  The one-shot pass also lets the kernel
    pick its globally-best algorithm (3-D plane-sweep, 2-D sort-scan)
    over the full partition.

    The batches never leave Arrow (VERDICT r9 #2): the dim columns
    become NumPy via a per-chunk zero-copy view + one gather into the
    kernel matrix, the survivor filter runs in Arrow C++
    (`Table.filter`), and non-dim payload columns — user-defined types
    included — are never touched at all.

    Memory stays bounded: when the buffer exceeds `_BUFFER_ROWS` rows
    OR `_BUFFER_BYTES` — rows alone would let a wide-passthrough table
    (the module contract allows arbitrary passthrough columns, e.g.
    long text) pin gigabytes per concurrent task (review finding r8) —
    it is collapsed to its own skyline (sound by decomposability —
    skyline(A ∪ B) = skyline(skyline(A) ∪ B)) and accumulation
    continues, so a pathologically large input partition degrades to
    the incremental behavior with a much larger block.  Effective
    thresholds grow GEOMETRICALLY past the irreducible survivor size
    (review r8), so collapse frequency stays amortized O(log) while
    memory stays within 2× the survivors.
    """

    def fn(batches) -> "Iterator":
        import pyarrow as pa

        parts: list = []        # list[pa.Table]
        rows = 0
        nbytes = 0
        eff_cap = _BUFFER_ROWS
        eff_bytes = _BUFFER_BYTES

        def collapse():
            nonlocal parts, rows, nbytes, eff_cap, eff_bytes
            if not parts:
                return None
            tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
            mask = skyline_mask(_arrow_values(tbl, cols))
            out = tbl.filter(pa.array(mask))
            parts = [out]
            rows = out.num_rows
            nbytes = out.nbytes
            eff_cap = max(eff_cap, 2 * rows)
            eff_bytes = max(eff_bytes, 2 * nbytes)
            return out

        for rb in batches:
            if rb.num_rows == 0:
                continue
            parts.append(pa.Table.from_batches([rb]))
            rows += rb.num_rows
            nbytes += rb.nbytes
            if rows >= eff_cap or nbytes >= eff_bytes:
                collapse()
        out = collapse()
        if out is not None and out.num_rows:
            # cap yielded batch size: filter() preserves input chunking,
            # but a single huge buffered partition should still stream
            # back in bounded pieces
            yield from out.to_batches(max_chunksize=1 << 20)

    return fn


def _local_prune(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One narrow local-skyline pass over `df`'s partitions."""
    return df.mapInArrow(_prune_batches(cols), schema=df.schema)


def _grouped_prune(df: DataFrame, by: Sequence[str],
                   cols: Sequence[str]) -> DataFrame:
    """Exact per-group skyline (`groupBy(by)` → kernel).

    Stays on the PANDAS grouped host deliberately: a round-10 A/B at
    100M rows × 128 groups measured `applyInArrow` 2.3× SLOWER than
    `applyInPandas` on this exact shape (53.6 s vs 23.6 s best-of-2 —
    Spark 4.1's grouped-Arrow path materializes each group as one
    giant RecordBatch where the pandas host streams group slices;
    BENCHMARKS.md round 10).  The ungrouped `mapInArrow` hosts are the
    ones that won their A/B; a chunked sorted-stream Arrow host lost
    its round-11 A/B ~3× (BENCHMARKS.md round 11)."""
    return df.groupBy(*by).applyInPandas(
        _group_prune(cols), schema=df.schema)


def _complete(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Drop rows with a NULL or NaN in any dominance dimension.

    Dominance requires complete, comparable vectors — the engines
    otherwise DISAGREE on incomplete rows: SQL three-valued logic keeps
    an all-NULL row (every comparison NULL ⇒ NOT EXISTS true) that the
    NumPy kernel drops, and a NaN row survives the kernel (IEEE
    comparisons all false ⇒ never dominated) while Spark SQL's
    NaN-greatest ordering lets real rows dominate it.  Every skyline
    entry point therefore filters incomplete rows first (a narrow
    scan-side predicate), and
    :func:`~..functions.dominance.skyline_not_exists_sql` applies the
    same filter, so all strategies and the oracle share one semantics.
    """
    from functools import reduce as _red
    from operator import and_ as _and

    return df.filter(_red(_and, [
        F.col(c).isNotNull() & ~F.isnan(F.col(c).cast("double"))
        for c in cols
    ]))


def skyline(df: DataFrame, cols: Sequence[str], *,
            merge_partitions: int | None = None,
            width_safe: bool | None = None) -> DataFrame:
    """Skyline of `df`, minimizing every column in `cols`.

    Zero wide dependencies on the raw data: local prune is narrow, only
    survivors cross the single tiny exchange.  `merge_partitions` inserts
    one intermediate hash-distributed merge level for huge survivor sets
    (e.g. 4-D anti-correlated) before the final single-task merge.
    Rows with a NULL dimension are excluded (see :func:`_complete`).

    `width_safe` controls the wide-row rewrite (:func:`_narrow_rewrite`,
    default auto): when the non-dim payload dominates the row, only the
    dim columns cross the Arrow prune nodes and full rows are restored
    by one dim-value semi-join — Arrow transfer stays O(|rows|·d)
    regardless of row width.
    """
    df = _complete(df, cols)
    if width_safe if width_safe is not None else _narrow_rewrite(df, cols):
        vecs = skyline(df.select(*cols), cols,
                       merge_partitions=merge_partitions, width_safe=False)
        return _join_back(df, vecs, cols)
    pruned = _local_prune(df, cols)
    if merge_partitions and merge_partitions > 1:
        pruned = _local_prune(pruned.repartition(merge_partitions), cols)
    return _local_prune(pruned.repartition(1), cols)


def skyline_2d_window(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Global 2-D skyline as a pure window-function plan — zero Python.

    The no-group form of :func:`grouped_skyline`'s window strategy: the
    input collapses to one row per DISTINCT d0 carrying min(d1) (a
    map-side-combined aggregate — on bounded/integer domains this is
    the big reduction: 1B anti-correlated rows collapse to ≤ |domain|
    distinct values), one running-min window over that tiny frame, and
    a broadcast join back.  Ties survive, matching the kernel
    semantics.  The fastest 2-D plan at scale when |distinct d0| ≪ n —
    measured 31.8 s vs 54.4 s (two-phase) on 300M anti-correlated
    points, and the ONLY plan here where no row ever crosses into
    Python (BENCHMARKS.md round 9).
    """
    if len(cols) != 2:
        raise ValueError("skyline_2d_window requires exactly 2 dims")
    df = _complete(df, cols)
    return _grouped_skyline_2d_window(df, cols, [])


class _TwoPhase(NamedTuple):
    """Row masks and kernel time of one driver-side two-phase pass."""

    local: np.ndarray   # row is in its pid's local skyline
    keep: np.ndarray    # row is in the global skyline
    local_ns: int       # kernel time of the local skylines, summed
    global_ns: int      # kernel time of the global merge


def _two_phase_masks(pids: np.ndarray, values: np.ndarray) -> _TwoPhase:
    """The reference's two phases over rows held in the driver: the
    local skyline of each pid (FlinkSkyline.java:407-444), then the
    global merge over their union (:546-568), both with
    :func:`~.kernels.skyline_mask`.  The kernel times cover the kernel
    calls only — the engine's A6 definition."""
    n = len(pids)
    local = np.zeros(n, dtype=bool)
    local_ns = 0
    for idx in split_by_pid(pids).values():
        sub = values[idx]
        t0 = time.perf_counter_ns()
        m = skyline_mask(sub)
        local_ns += time.perf_counter_ns() - t0
        local[idx[m]] = True
    cand = np.flatnonzero(local)
    sub = values[cand]
    t0 = time.perf_counter_ns()
    m = skyline_mask(sub)
    global_ns = time.perf_counter_ns() - t0
    keep = np.zeros(n, dtype=bool)
    keep[cand[m]] = True
    return _TwoPhase(local, keep, local_ns, global_ns)


class _DriverRows(NamedTuple):
    """An input brought to the driver by :func:`_driver_rows`."""

    tbl: "pa.Table"      # every row and column of the input
    rows: np.ndarray     # indices into `tbl` of the rows with complete dims
    pids: np.ndarray     # their int32 partition ids
    values: np.ndarray   # their dims, (len(rows), d) float64


def _driver_rows(df: DataFrame, cols: Sequence[str], algo: str,
                 num_partitions: int, domain_max: float | None
                 ) -> _DriverRows:
    """ONE Spark job, ``df.toArrow()``, brings the input's rows to the
    driver.  The driver drops the rows with a NULL or NaN dim (the rows
    :func:`_complete` drops) and tags the rest with
    :func:`~.partitioners.partition_ids`, the NumPy twin of
    :func:`~.partitioners.partitioner_expr` over the dims as float64."""
    tbl = df.toArrow()
    values = _arrow_values(tbl, cols)
    rows = np.flatnonzero(~np.isnan(values).any(axis=1))
    if len(rows) < len(values):
        values = values[rows]
    return _DriverRows(tbl, rows,
                       partition_ids(algo, values, num_partitions, domain_max),
                       values)


def skyline_two_phase(df: DataFrame, cols: Sequence[str], *,
                      algo: str = "mr-dim", num_partitions: int = 8,
                      domain_max: float | None = None,
                      partition_col: str | None = None,
                      prefilter: bool = False,
                      envelope_cells: "int | bool | None" = None
                      ) -> DataFrame:
    """Reference-parity two-phase skyline with an explicit space partitioner.

    Mirrors shuffle #1 + local BNL + global merge
    (FlinkSkyline.java:138,407-444,546-568) without a shuffle: ONE
    Spark job brings the input's rows to the driver with ``toArrow()``
    (:func:`_driver_rows`).  The driver drops the rows with a NULL or
    NaN dim, tags each remaining row with its MR-* partition id
    (:func:`~.partitioners.partition_ids`, equal to the JVM
    :func:`~.partitioners.partitioner_expr` on every such row),
    computes each pid's local skyline and the global merge with
    :func:`~.kernels.skyline_mask` (:func:`_two_phase_masks`) and hands
    the survivors back through ``createDataFrame`` with the input's
    column order and types.  When `partition_col` is given, the
    partition id is kept in the output under that name, as a non-null
    int (the reference's originPartition tag,
    FlinkSkyline.java:389-391) — feeding the optimality metric.
    `prefilter` applies the witness-guarded dominated-region prune (P4
    — the filter the reference ships disabled,
    FlinkSkyline.java:120-124) in the JVM, before any row reaches the
    driver.

    `envelope_cells` (truthy/int, round 11): apply the lossless
    all-JVM :func:`~.variants.grid_envelope_prefilter` to the complete
    rows (:func:`_complete`) before the transfer, so only the
    near-frontier shell crosses into Python.  Lossless: a row is dropped
    only when a real row of a dominating cell dominates it.

    `domain_max` is read by MR-Dim, MR-Grid, MR-Z and `prefilter`; when
    one of them needs it and it is None, one extra Spark job infers it
    as the largest dim value.  MR-Angle never reads it.

    EAGER: the scan, the transfer and both kernel phases run when this
    function is called, not when the returned frame is consumed, and
    the input must fit in the driver — the same contract as a
    stream-engine micro-batch.  :func:`skyline` keeps the rows in the
    executors, and :func:`skyline_auto` chooses between the two.

    Raises ValueError, before any Spark job, when a column's type is or
    contains a user-defined type (e.g. a `pyspark.ml` vector):
    ``createDataFrame`` cannot rebuild such a column from Arrow.
    :func:`skyline` keeps those columns.
    """
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StructField, StructType

    if _has_udt(df.schema):
        raise ValueError(
            "skyline_two_phase cannot return a user-defined-type column "
            "(createDataFrame does not rebuild one from Arrow); use skyline")
    if domain_max is None and (prefilter or algo.lower().replace("_", "-")
                               in ("mr-dim", "mr-grid", "mr-z")):
        # The reference takes --domain from the CLI; infer from data when absent.
        domain_max = float(
            df.select(F.greatest(*[F.max(c) for c in cols])).first()[0] or 1.0
        )
    if prefilter:
        from .variants import grid_prefilter

        df = grid_prefilter(df, cols, domain_max)
    if envelope_cells:
        from .variants import grid_envelope_prefilter

        df = grid_envelope_prefilter(
            _complete(df, cols), cols,
            cells=None if envelope_cells is True else int(envelope_cells))
    t = _driver_rows(df, cols, algo, num_partitions, domain_max)
    phases = _two_phase_masks(t.pids, t.values)
    out = t.tbl.take(t.rows[phases.keep])
    schema = df.schema
    if partition_col is not None:
        out = out.append_column(
            pa.field(partition_col, pa.int32(), nullable=False),
            pa.array(t.pids[phases.keep]))
        schema = StructType([*schema.fields,
                             StructField(partition_col, IntegerType(), False)])
    return df.sparkSession.createDataFrame(out, schema=schema)


# The share of ``spark.driver.maxResultSize`` that the rows skyline_auto
# brings to the driver may take.  The driver holds those rows more than
# once (the Arrow table, the float64 copy of the dims the kernel reads
# and the kernel's sort keys and masks), so they must stay well below
# the cap Spark enforces.  The split point is unbenchmarked: no
# perfbench workload runs skyline_auto on either side of it.
_DRIVER_SHARE = 1 / 8


def _has_udt(dt) -> bool:
    """`dt` is, or contains, a user-defined type."""
    from pyspark.sql import types as T

    if isinstance(dt, T.UserDefinedType):
        return True
    if isinstance(dt, T.StructType):
        return any(_has_udt(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _has_udt(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_udt(dt.keyType) or _has_udt(dt.valueType)
    return False


def _row_width(schema) -> int:
    """Arrow bytes of one row at 8 a column (16 a decimal), or 0 when a
    column's type has no fixed width (string, binary, array, map,
    struct, user-defined)."""
    from pyspark.sql import types as T

    width = 0
    for f in schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            width += 16
        elif isinstance(f.dataType, (T.NumericType, T.BooleanType,
                                     T.DateType, T.TimestampType,
                                     T.TimestampNTZType)):
            width += 8
        else:
            return 0
    return width


def _driver_budget(spark) -> int:
    """Bytes :func:`skyline_auto` may bring to the driver:
    `_DRIVER_SHARE` of ``spark.driver.maxResultSize``, or 0 when that
    cap is 0 (unlimited), as the budget is then undefined."""
    sc = spark.sparkContext
    cap = sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        sc.getConf().get("spark.driver.maxResultSize", "1g"))
    return int(cap * _DRIVER_SHARE)


def _fits_driver(df: DataFrame) -> bool:
    """Every row of `df` has a fixed width (:func:`_row_width`) and all
    of them fit :func:`_driver_budget`.

    The optimizer's size estimate is read first and runs no Spark job:
    an input it puts over the budget does not fit, and an unknown
    estimate (Long.MaxValue; a frame built by ``createDataFrame`` from
    a Python list has one) never fits.  The estimate can be far below
    the real size: Spark gives a Generate or a Python map node its
    child's size, and a parquet scan counts compressed bytes.  So an
    input under it is counted through a limit one row above the budget,
    one Spark job that reads at most that many rows of each partition.
    """
    width = _row_width(df.schema)
    budget = _driver_budget(df.sparkSession)
    rows = budget // width if width else 0
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return 0 < rows and est <= budget and \
        df.limit(rows + 1).count() <= rows


def skyline_auto(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Skyline of `df` by the plan that fits the input.

    An input whose rows fit the driver (:func:`_fits_driver`) runs
    ``skyline_two_phase(df, cols, algo="mr-angle", num_partitions=8)``,
    eagerly.  Every other input runs the lazy executor plan
    :func:`skyline`: so does any input with a string, nested or
    user-defined-type column, whose Arrow size no row count bounds.

    The driver plan's collect and kernels used the least CPU of all
    plans on every input measured on a 4-vCPU host (500k × 3-D, and 1M
    and 200k × 4-D anti-correlated), but its kernel is single-threaded,
    so it can take longer in wall time than :func:`skyline`, and the
    row count costs one more Spark job.  Where the two plans cross is
    unbenchmarked (see `_DRIVER_SHARE`).
    """
    if _fits_driver(df):
        return skyline_two_phase(df, cols, algo="mr-angle", num_partitions=8)
    return skyline(df, cols)


def skyline_anti_join(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Declarative left-anti self-join form — Catalyst-only, O(n²).

    Matches the DuckDB NOT-EXISTS oracle shape; use for small inputs or
    as a cross-check.
    """
    df = _complete(df, cols)
    t = df.alias("t")
    u = df.alias("u")
    cond = dominates([F.col(f"u.{c}") for c in cols],
                     [F.col(f"t.{c}") for c in cols])
    return t.join(u, cond, "left_anti")


def _grouped_skyline_2d_window(df: DataFrame, cols: Sequence[str],
                               by: Sequence[str]) -> DataFrame:
    """2-D grouped skyline as a pure window-function plan — no Python.

    p = (d0, d1) is dominated within its group iff
      (a) some row with d0' <  p.d0 has d1' ≤ p.d1, or
      (b) some row with d0' == p.d0 has d1' <  p.d1.
    Reduce to one row per distinct (group, d0) carrying min(d1) — the
    partial agg is map-side combined — then a per-group running min over
    the *preceding* distinct d0 values gives (a) and the per-d0 min gives
    (b).  Ties (exact duplicates) survive, matching the kernel semantics
    (SURVEY §1.4).  Everything stays in whole-stage codegen; the only
    per-group serial work is the sorted scan over distinct d0 values,
    already collapsed by the aggregation — far smaller than the group.

    The join back is null-safe on the group keys: groupBy (and hence the
    kernel strategy) treats NULL as a regular group value, so a
    null-dropping equi-join would silently lose null-keyed groups here
    while the kernel strategy keeps them.  Dimension columns are assumed
    non-null (the parse path drops malformed rows — P2); see
    :func:`grouped_skyline`.
    """
    from functools import reduce
    from operator import and_

    from pyspark.sql.window import Window

    d0, d1 = cols
    per = df.groupBy(*by, d0).agg(F.min(d1).alias("__min1"))
    w = (Window.partitionBy(*by).orderBy(d0)
         .rowsBetween(Window.unboundedPreceding, -1))
    per = per.withColumn("__prev", F.min("__min1").over(w))
    left = df.alias("l")
    right = per.select(
        *[F.col(c).alias(f"__r_{c}") for c in [*by, d0]], "__min1", "__prev"
    ).alias("r")
    cond = reduce(and_, [
        F.col(f"l.{c}").eqNullSafe(F.col(f"__r_{c}")) for c in [*by, d0]
    ])
    dominated = (
        (F.col("__prev").isNotNull() & (F.col("__prev") <= F.col(f"l.{d1}")))
        | (F.col(f"l.{d1}") > F.col("__min1"))
    )
    return (left.join(right, cond)
            .filter(~dominated)
            .select(*[F.col(f"l.{c}") for c in df.columns]))


def grouped_skyline(df: DataFrame, cols: Sequence[str],
                    by: Sequence[str] | str, *,
                    salt: int | None = None,
                    strategy: str = "auto",
                    width_safe: bool | None = None) -> DataFrame:
    """Skyline within each group of `by` (e.g. per event_type).

    A capability the reference lacks but its keyed-state design implies;
    one shuffle on the group key, exact per-group kernel.

    NULL group keys form a regular group in every strategy (groupBy
    semantics; the window plan joins back null-safely).  Dimension
    columns must be non-null — the parse path guarantees this (P2,
    `streaming/wire.py`); null/NaN dims have strategy-defined behavior.

    `strategy`:
    * ``"auto"`` — 2-D uses the all-JVM window plan (below); ≥3-D the
      pandas kernel.
    * ``"window"`` (2-D only) — pure window-function plan, zero Python:
      the group is first collapsed to one row per distinct d0 (partial
      agg, map-side combined), so even a heavily skewed group costs its
      distinct-d0 count, not its row count, on the single window task.
    * ``"kernel"`` — `applyInPandas` NumPy kernel per group; `salt`
      handles skewed groups (one key holding most rows would serialize
      on a single task): a first pass prunes within (group, hash-salt)
      sub-groups — `salt`-way parallel per key — and a second pass
      merges the survivors per group.  Exact for any salt because
      skyline is decomposable under any partitioning (SURVEY §1.4); the
      second shuffle carries only sub-skyline survivors.

    `width_safe` (default auto): on the KERNEL path, wide rows take
    the dims-only rewrite per group — only (group keys, dims) cross
    the Arrow boundary, full rows restored by one semi-join on
    (group keys NULL-SAFE, dims); the window path never ships rows to
    Python, so width is moot there.
    """
    df = _complete(df, cols)
    by = [by] if isinstance(by, str) else list(by)
    if strategy == "auto":
        strategy = "window" if len(cols) == 2 else "kernel"
    if strategy == "kernel":
        narrow_cols = [*by, *cols]
        narrow = df.select(*dict.fromkeys(narrow_cols))
        fire = (width_safe if width_safe is not None
                else _narrow_rewrite(df, narrow_cols))
        if fire:
            vecs = grouped_skyline(narrow, cols, by, salt=salt,
                                   strategy="kernel", width_safe=False)
            return _join_back(df, vecs, cols, by=by)
    if strategy == "window":
        if len(cols) != 2:
            raise ValueError("window strategy requires exactly 2 dims")
        return _grouped_skyline_2d_window(df, cols, by)
    if salt and salt > 1:
        salted = df.withColumn(
            "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in cols]),
                             F.lit(salt)))
        partial = _grouped_prune(salted, [*by, "__salt"], cols) \
            .drop("__salt")
        return _grouped_prune(partial, by, cols)
    return _grouped_prune(df, by, cols)


def skyline_delta(base_skyline: DataFrame, inserts: DataFrame,
                  cols: Sequence[str], **skyline_kwargs) -> DataFrame:
    """Incrementally maintain a materialized skyline under INSERTS:
    ``skyline(A ∪ B) = skyline(skyline(A) ∪ B)`` — a point dominated
    within A stays dominated in any superset, so the maintained answer
    only needs the PREVIOUS ANSWER plus the new batch, never a rescan
    of the 100 TB base corpus.  (The algebraic identity behind the
    reference's incremental keyed-state merge,
    `FlinkSkyline.java:546-568`, lifted to batch view-maintenance.)

    `base_skyline` must be a (previously computed) skyline over the
    base set — e.g. yesterday's materialized view; `inserts` is the new
    data.  DELETES need :func:`skyline_delta_delete` (a removed skyline
    point may expose rows it was hiding, which requires a bounded
    re-peel of its dominated region).

    Cost: |skyline(A)| + |B| input rows — independent of |A|.
    """
    merged = base_skyline.select(*base_skyline.columns).unionByName(
        inserts.select(*base_skyline.columns))
    return skyline(merged, cols, **skyline_kwargs)


def skyline_delta_delete(base: DataFrame, base_skyline: DataFrame,
                         deletes: DataFrame, cols: Sequence[str], *,
                         keys: "Sequence[str] | None" = None,
                         **skyline_kwargs) -> DataFrame:
    """Incrementally maintain a materialized skyline under DELETES —
    the half :func:`skyline_delta` can't express.

    Identity: with ``S = skyline(A)``, ``surv = S ∖ D`` and ``dead =
    S ∩ D`` (delete matching on `keys`, default all of `base`'s
    columns), ::

        skyline(A ∖ D) = skyline(surv ∪ C)
        C = { x ∈ A ∖ D : ∃ d ∈ dead, d dominates x }

    Every row of ``A ∖ D`` is either in S (→ surv) or dominated by some
    skyline member; if ALL its skyline dominators died it is dominated
    by one of them (→ C), else a surviving member still hides it.  So
    ``surv ∪ C`` is a dominating subset of ``A ∖ D`` and shares its
    skyline.  Deleting non-skyline rows alone leaves ``dead = ∅`` and
    the view unchanged — no base touch beyond the candidate scan.

    Scale shape: `dead` is a subset of the (small, broadcastable)
    materialized skyline, so the candidate scan is ONE pass over the
    base with a broadcast nested-loop semi-join (a scan-side predicate
    — never a shuffle of A), and the final re-peel runs on
    ``|surv| + |C|`` rows: the deleted members' dominated region only,
    not the 100 TB corpus.  (Delete-side analogue of the reference's
    incremental keyed-state merge, `FlinkSkyline.java:546-568`.)
    """
    keys = list(keys) if keys is not None else list(base.columns)
    # no forced broadcast on the delete keys: a delete batch can be
    # arbitrarily large — AQE broadcasts it when it is actually small.
    # dead_pts below IS forced: it's a subset of the materialized
    # skyline, bounded by construction.
    dels = deletes.select(*keys).distinct()
    surv = base_skyline.join(dels, on=keys, how="left_anti")
    dead = base_skyline.join(dels, on=keys, how="left_semi")
    remaining = _complete(base, cols).join(dels, on=keys, how="left_anti")
    dead_pts = dead.select(
        *[F.col(c).alias(f"__dead_{c}") for c in cols]).distinct()
    exposed = remaining.join(
        F.broadcast(dead_pts),
        on=dominates([F.col(f"__dead_{c}") for c in cols],
                     [F.col(c) for c in cols]),
        how="left_semi")
    merged = surv.select(*base.columns).unionByName(
        exposed.select(*base.columns))
    return skyline(merged, cols, **skyline_kwargs)


def skyline_layers(df: DataFrame, cols: Sequence[str], *,
                   max_layers: int = 3) -> DataFrame:
    """Onion-peeling decomposition: layer 1 is the skyline, layer k is
    the skyline of what remains after peeling layers 1..k-1 ("best,
    second-best, …" frontier ranking — the k-skyband's ordered cousin:
    the k-skyband bounds how many DOMINATORS a point has, the layer
    number is the length of the longest dominance CHAIN above it).

    Returns the input columns plus an integer ``layer`` (1-based) for
    the first `max_layers` layers; deeper rows are omitted.  Each peel
    is one full skyline (the scale-safe local-prune + merge path) plus
    a coordinate anti-join against the just-peeled layer; the layer
    frame is pinned while it serves both roles and released when the
    result frame is dropped.  All copies of tied coordinates share a
    layer, so the coordinate anti-join removes exactly the peeled rows.
    """
    if max_layers < 1:
        raise ValueError("max_layers must be >= 1")
    remaining = _complete(df, cols)
    parts: list[DataFrame] = []
    pinned: list[DataFrame] = []
    for layer in range(1, max_layers + 1):
        s = skyline(remaining, cols).persist()
        pinned.append(s)
        parts.append(s.withColumn("layer", F.lit(layer)))
        if layer < max_layers:
            remaining = remaining.join(
                s.select(*cols).distinct(), on=list(cols), how="left_anti")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return release_on_gc(out, *pinned)


def skyline_layers_sql(table: str, cols: Sequence[str], *,
                       max_layers: int = 3) -> str:
    """DuckDB twin of :func:`skyline_layers`: iterated CTE peeling with
    the same pivot-prefiltered NOT-EXISTS skyline per layer.  EXCEPT
    ALL is equivalent to the Spark side's coordinate anti-join here
    because every copy of a tied coordinate vector lands in the same
    layer (removing "all copies of peeled coordinates" ≡ subtracting
    the peeled multiset)."""
    from ..functions.dominance import skyline_not_exists_sql

    ctes = []
    src = table
    selects = []
    for k in range(1, max_layers + 1):
        lname, rname = f"__l{k}", f"__r{k}"
        ctes.append(f"{lname} AS ({skyline_not_exists_sql(src, cols)})")
        selects.append(f"SELECT *, {k} AS layer FROM {lname}")
        if k < max_layers:
            nn = " AND ".join(
                f"{c} IS NOT NULL AND NOT isnan(cast({c} AS DOUBLE))"
                for c in cols)
            ctes.append(
                f"{rname} AS (SELECT * FROM (SELECT * FROM {src} "
                f"WHERE {nn}) EXCEPT ALL SELECT * FROM {lname})")
            src = rname
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL ".join(selects))
