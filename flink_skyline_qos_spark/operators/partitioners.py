"""Space-partitioning strategies MR-Dim / MR-Grid / MR-Angle.

The reference implements these as Flink `KeySelector`s driving a keyBy
shuffle (`/root/reference/java/org.main/FlinkSkyline.java:669-876`).
Here each is a pure Column-expression builder: the partition id becomes
a computed column that Catalyst codegens JVM-side, and the "shuffle" is
whatever downstream `groupBy`/`repartition` consumes it — no custom
Partitioner subclass, no Python in the row path.

Each builder has a `*_sql` twin emitting the identical formula as ANSI
SQL for the DuckDB oracle, and :func:`partition_ids` evaluates the same
formulas in NumPy for rows already in the driver (the stream engine
tags its micro-batches there).  Semantics notes:

* MR-Dim (FlinkSkyline.java:686-713): ``p = int(v0 / (domain_max / P))``
  clamped to [0, P-1]; other dims ignored.  Java's ``(int)`` truncates
  toward zero == floor for the non-negative domain.
* MR-Grid (FlinkSkyline.java:746-790): bitmask, bit i set iff
  ``v[i] >= domain_max/2``.  The code returns the RAW mask (no mod P) —
  we reproduce the code's behavior, not the PDF's ``mod partitions``
  description (divergence noted in SURVEY.md §7 hard-part 3).
* MR-Angle (FlinkSkyline.java:803-876): hyperspherical angles
  ``phi_i = atan2(||v[i+1:]||₂, v[i])`` for i < dims-1, normalized by
  π/2, averaged, scaled by P, truncated, clamped.  dims=1 → 0.
"""

from __future__ import annotations

import math
from functools import reduce
from operator import add
from typing import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# MR-Dim (K1)
# --------------------------------------------------------------------------

def mr_dim(dim0: Column, num_partitions: int, domain_max: float) -> Column:
    # clamp the long floor BEFORE the int cast: floor(±inf / w)
    # saturates to Long.MIN/MAX, which an ANSI int cast rejects
    slice_width = domain_max / num_partitions
    p = F.floor(dim0 / F.lit(slice_width))
    return F.least(F.greatest(p, F.lit(0)),
                   F.lit(num_partitions - 1)).cast("int")


def mr_dim_sql(col: str, num_partitions: int, domain_max: float) -> str:
    return (
        f"cast(least(greatest(floor({col} / ({domain_max!r} / {num_partitions})), "
        f"0), {num_partitions - 1}) as int)"
    )


# --------------------------------------------------------------------------
# MR-Grid (K2)
# --------------------------------------------------------------------------

def mr_grid(dims: Sequence[Column], domain_max: float) -> Column:
    mid = domain_max / 2.0
    bits = [
        F.when(c >= F.lit(mid), F.lit(1 << i)).otherwise(F.lit(0))
        for i, c in enumerate(dims)
    ]
    return reduce(add, bits).cast("int")


def mr_grid_sql(cols: Sequence[str], domain_max: float) -> str:
    mid = domain_max / 2.0
    terms = " + ".join(
        f"(CASE WHEN {c} >= {mid!r} THEN {1 << i} ELSE 0 END)"
        for i, c in enumerate(cols)
    )
    return f"cast({terms} as int)"


# --------------------------------------------------------------------------
# MR-Angle (K3)
# --------------------------------------------------------------------------

def mr_angle(dims: Sequence[Column], num_partitions: int) -> Column:
    n = len(dims)
    if n < 2:
        return F.lit(0)
    max_angle = math.pi / 2.0
    angle_terms = []
    for i in range(n - 1):
        rest_sq = reduce(add, [dims[j] * dims[j] for j in range(i + 1, n)])
        angle_terms.append(F.atan2(F.sqrt(rest_sq), dims[i]) / F.lit(max_angle))
    avg_pos = reduce(add, angle_terms) / F.lit(float(n - 1))
    p = (avg_pos * F.lit(num_partitions)).cast("int")
    return F.least(F.greatest(p, F.lit(0)), F.lit(num_partitions - 1))


def mr_angle_sql(cols: Sequence[str], num_partitions: int) -> str:
    n = len(cols)
    if n < 2:
        return "0"
    terms = []
    for i in range(n - 1):
        rest = " + ".join(f"{cols[j]} * {cols[j]}" for j in range(i + 1, n))
        terms.append(f"(atan2(sqrt({rest}), {cols[i]}) / (pi() / 2.0))")
    avg = f"(({' + '.join(terms)}) / {float(n - 1)!r})"
    p = f"cast({avg} * {num_partitions} as int)"
    return f"least(greatest({p}, 0), {num_partitions - 1})"



# --------------------------------------------------------------------------
# MR-Z (beyond the reference): space-filling-curve partitioner
# --------------------------------------------------------------------------

def _z_bits(d: int) -> int:
    return min(16, 62 // d)


def mr_z(dims: Sequence[Column], num_partitions: int,
         domain_max: float) -> Column:
    """Morton (Z-order) range partitioner — a fourth space partitioner in
    the reference's two-phase framework (not in the reference; applies
    Morton bit interleaving under the [0, domain_max] uniform-domain
    convention of MR-Dim/MR-Grid).

    Unlike MR-Dim/Grid/Angle, Z-order is a LINEAR EXTENSION of the
    dominance partial order (Lee et al., "Approaching the Skyline in Z
    Order", VLDB 2007): if p dominates q then zkey(p) < zkey(q) —
    proved by the highest differing interleaved bit, which would
    otherwise exhibit a coordinate where p > q.  Buckets are
    key-contiguous, so a point can only be dominated from its OWN or a
    LOWER bucket: bucket 0's local skyline is final before any merge,
    and a merge needs only lower-key candidates.  The per-bucket local
    prune also sees spatially coherent points (high prune rates on
    correlated data, where MR-Dim slices see full dimension stripes).

    The bucket division is a double divide+floor on both engines.  The
    interleaved key is exact in a double only when bits·d ≤ 53 (true
    for d ∈ {2, 3}; d = 4 uses 15-bit axes → a 60-bit key, which CAN
    round in the divide).  Correctness survives the rounding anyway:
    (a) IEEE division by a positive constant is monotone non-decreasing
    in the numerator, so floor(key/width) stays monotone in key and the
    linear-extension bucket property (a point is dominated only from
    its own or a lower bucket) holds for whatever bucket boundaries the
    rounding induces; (b) the DuckDB twin runs the character-identical
    expression, so both engines land every point in the same bucket and
    cross-engine parity is exact.  The two-phase merge is additionally
    partitioner-agnostic, so even a disagreeing bucket id could not
    change the final skyline.
    """
    d = len(dims)
    bits = _z_bits(d)
    n = 1 << bits
    key = None
    for k, c in enumerate(dims):
        v = F.least(
            F.lit(n - 1).cast("long"),
            F.greatest(F.lit(0).cast("long"),
                       F.floor(c.cast("double") / F.lit(float(domain_max))
                               * F.lit(float(n)))))
        for j in range(bits):
            term = F.shiftleft(
                F.shiftright(v, j).bitwiseAND(F.lit(1)), j * d + k)
            key = term if key is None else key + term
    width = -(-(1 << (bits * d)) // num_partitions)  # ceil
    p = F.floor(key / F.lit(float(width))).cast("int")
    return F.least(F.greatest(p, F.lit(0)), F.lit(num_partitions - 1))


def mr_z_sql(cols: Sequence[str], num_partitions: int,
             domain_max: float) -> str:
    d = len(cols)
    bits = _z_bits(d)
    n = 1 << bits
    terms = []
    for k, c in enumerate(cols):
        v = (f"least({n - 1}::BIGINT, greatest(0::BIGINT, "
             f"CAST(floor(CAST({c} AS DOUBLE) / {float(domain_max)!r} "
             f"* {float(n)!r}) AS BIGINT)))")
        for j in range(bits):
            terms.append(f"((({v} >> {j}) & 1) << {j * d + k})")
    key = "(" + " + ".join(terms) + ")"
    width = -(-(1 << (bits * d)) // num_partitions)
    p = f"cast(floor({key} / {float(width)!r}) as int)"
    return f"least(greatest({p}, 0), {num_partitions - 1})"


# --------------------------------------------------------------------------
# Dispatch + the (reference-disabled) grid dominance pre-filter
# --------------------------------------------------------------------------

def partitioner_expr(algo: str, dims: Sequence[Column], num_partitions: int,
                     domain_max: float) -> Column:
    """Partition-id column for `algo` ∈ {mr-dim, mr-grid, mr-angle, mr-z}."""
    algo = algo.lower().replace("_", "-")
    if algo == "mr-dim":
        return mr_dim(dims[0], num_partitions, domain_max)
    if algo == "mr-grid":
        return mr_grid(dims, domain_max)
    if algo == "mr-angle":
        return mr_angle(dims, num_partitions)
    if algo == "mr-z":
        return mr_z(dims, num_partitions, domain_max)
    raise ValueError(f"unknown partitioner algo: {algo}")


def partitioner_sql(algo: str, cols: Sequence[str], num_partitions: int,
                    domain_max: float) -> str:
    algo = algo.lower().replace("_", "-")
    if algo == "mr-dim":
        return mr_dim_sql(cols[0], num_partitions, domain_max)
    if algo == "mr-grid":
        return mr_grid_sql(cols, domain_max)
    if algo == "mr-angle":
        return mr_angle_sql(cols, num_partitions)
    if algo == "mr-z":
        return mr_z_sql(cols, num_partitions, domain_max)
    raise ValueError(f"unknown partitioner algo: {algo}")


def partition_ids(algo: str, values: np.ndarray, num_partitions: int,
                  domain_max: float) -> np.ndarray:
    """NumPy twin of :func:`partitioner_expr`: the int32 partition id of
    each row of `values` (``(n, dims)`` float64), computed with the same
    IEEE operations in the same order, so it equals the Spark tag on
    every row.  ±inf coordinates clamp into range like the JVM tag does.

    Defined for NaN-free input only: Spark orders NaN above every number
    and casts it to 0, NumPy compares it false.  Callers drop NaN rows
    first (the skyline drops them anyway); the skyline answer does not
    depend on the pid, only the work split does.
    """
    algo = algo.lower().replace("_", "-")
    v = np.asarray(values, dtype=np.float64)
    n, d = v.shape
    if algo == "mr-dim":
        p = np.floor(v[:, 0] / (domain_max / num_partitions))
    elif algo == "mr-grid":  # the raw cell mask, not clamped
        bits = (v >= domain_max / 2.0).astype(np.int64) << np.arange(d)
        return bits.sum(axis=1).astype(np.int32)
    elif algo == "mr-angle":
        if d < 2:
            return np.zeros(n, np.int32)
        avg = np.zeros(n)
        for i in range(d - 1):
            rest_sq = v[:, i + 1] * v[:, i + 1]
            for j in range(i + 2, d):
                rest_sq = rest_sq + v[:, j] * v[:, j]
            avg = avg + np.arctan2(np.sqrt(rest_sq), v[:, i]) \
                / (math.pi / 2.0)
        p = np.trunc(avg / float(d - 1) * num_partitions)
    elif algo == "mr-z":
        bits = _z_bits(d)
        cells = 1 << bits
        key = np.zeros(n, np.int64)
        for k in range(d):
            c = np.clip(np.floor(v[:, k] / float(domain_max) * float(cells)),
                        0, cells - 1).astype(np.int64)
            for j in range(bits):
                key |= ((c >> j) & 1) << (j * d + k)
        width = -(-(1 << (bits * d)) // num_partitions)  # ceil
        p = np.floor(key.astype(np.float64) / float(width))
    else:
        raise ValueError(f"unknown partitioner algo: {algo}")
    return np.clip(p, 0, num_partitions - 1).astype(np.int32)


def split_by_pid(pids: np.ndarray) -> dict[int, np.ndarray]:
    """The row indices of each pid in `pids` (non-negative ints), in
    ascending pid order, rows in input order within each pid.  The one
    sort is a stable argsort of the pids narrowed to 8 or 16 bits, which
    NumPy radix-sorts; group bounds come from ``np.bincount``.  Over
    500k rows in 8 pids: ~8 ms, against ~25 ms for the stable argsort of
    the int32 pids alone (4-vCPU host)."""
    counts = np.bincount(pids)
    key = pids
    for t in (np.uint8, np.uint16):
        if len(counts) <= np.iinfo(t).max + 1:
            key = pids.astype(t)
            break
    order = np.argsort(key, kind="stable")
    keys = np.flatnonzero(counts)
    sizes = counts[keys]
    ends = np.cumsum(sizes)
    return {int(p): order[e - n:e] for p, n, e in zip(keys, sizes, ends)}


def scale_out(df, probe=None):
    """Ensure at least default-parallelism partitions before heavy
    per-row compute (Arrow kernels, md5-per-shingle projections, GEMM
    passes).  A small parquet table arrives as one split and would
    serialize the whole stage on a single core; at 100 TB inputs
    already carry thousands of splits and this is a no-op.  Repartition
    the RAW input and project AFTER — a repartition exchange's child
    computes pre-shuffle, so scaling out above the projection leaves
    the heavy work single-task (round-8 finding, BENCHMARKS.md).

    `probe` lets the partition count be read off a simpler upstream
    plan (``.rdd`` plan conversion on a heavy projection is not free).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if (probe if probe is not None else df).rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
