"""Exact skyline oracle for the benchmark — NumPy and the standard library
only, independent of the engine's kernels and of Spark.

Semantics match the engine's: strict Pareto dominance under minimisation
(``a`` dominates ``b`` iff ``a <= b`` in every dimension and ``a != b``),
so exact duplicates never dominate each other and all survive together.

An answer is compared as ``(size, checksum)``; the checksum is an
order-insensitive 64-bit sum of a per-row hash over the row's id and the
bit patterns of its coordinates.
"""

from __future__ import annotations

from bisect import bisect_right

import numpy as np

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLD = np.uint64(0x9E3779B97F4A7C15)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser, elementwise on uint64 (wrapping)."""
    x = x ^ (x >> np.uint64(30))
    x = x * _M1
    x = x ^ (x >> np.uint64(27))
    x = x * _M2
    return x ^ (x >> np.uint64(31))


def checksum(ids: np.ndarray, values: np.ndarray) -> int:
    """Order-insensitive checksum of rows ``(ids[i], values[i, :])``."""
    with np.errstate(over="ignore"):
        h = _mix(np.asarray(ids, dtype=np.int64).view(np.uint64))
        vals = np.ascontiguousarray(values, dtype=np.float64)
        for j in range(vals.shape[1]):
            h = _mix(h * _GOLD + vals[:, j].view(np.uint64))
        return int(h.sum(dtype=np.uint64))


def digest(ids: np.ndarray, values: np.ndarray) -> tuple[int, int]:
    return int(len(ids)), checksum(ids, values)


def skyline_mask_2d(values: np.ndarray) -> np.ndarray:
    """2-D skyline: sort by (d0, d1), keep a row iff it holds its d0
    group's minimum d1 and that minimum is strictly below the running
    minimum of every earlier group."""
    n = len(values)
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.lexsort((values[:, 1], values[:, 0]))
    d0 = values[order, 0]
    d1 = values[order, 1]
    first = np.ones(n, dtype=bool)
    first[1:] = d0[1:] != d0[:-1]
    group = np.cumsum(first) - 1
    gmin = d1[first]
    before = np.empty_like(gmin)
    before[0] = np.inf
    np.minimum.accumulate(gmin[:-1], out=before[1:])
    keep = (d1 == gmin[group]) & ((d1 < before[group]) | (group == 0))
    out = np.zeros(n, dtype=bool)
    out[order] = keep
    return out


def skyline_mask_3d(values: np.ndarray) -> np.ndarray:
    """3-D skyline by Kung's sweep over the distinct vectors.

    In lexicographic order every dominator of a distinct vector comes
    before it, so a vector is dominated iff an earlier one is ``<=`` in
    (d1, d2).  The sweep keeps that 2-D staircase (d1 ascending, d2
    strictly descending) of the survivors seen so far."""
    n = len(values)
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.lexsort((values[:, 2], values[:, 1], values[:, 0]))
    srt = values[order]
    first = np.ones(n, dtype=bool)
    first[1:] = (srt[1:] != srt[:-1]).any(axis=1)
    alive = np.zeros(int(first.sum()), dtype=bool)
    xs: list[float] = []  # staircase d1, ascending
    ys: list[float] = []  # staircase d2, strictly descending
    for i, (y, z) in enumerate(zip(srt[first, 1].tolist(),
                                   srt[first, 2].tolist())):
        pos = bisect_right(xs, y)
        if pos and ys[pos - 1] <= z:
            continue
        alive[i] = True
        # drop the steps the new point covers: d1 >= y and d2 >= z
        end = pos
        while end < len(xs) and ys[end] >= z:
            end += 1
        xs[pos:end] = [y]
        ys[pos:end] = [z]
    out = np.empty(n, dtype=bool)
    out[order] = alive[np.cumsum(first) - 1]
    return out


def skyline_mask(values: np.ndarray) -> np.ndarray:
    if values.shape[1] == 2:
        return skyline_mask_2d(values)
    if values.shape[1] == 3:
        return skyline_mask_3d(values)
    raise ValueError("the oracle covers 2-D and 3-D inputs")


def prefix_digests(ids: np.ndarray, values: np.ndarray,
                   cuts: list[int]) -> dict[int, tuple[int, int]]:
    """Digest of the skyline of every prefix ``ids <= k`` for ``k`` in
    `cuts`, computed incrementally: skyline(A ∪ B) = skyline(skyline(A) ∪ B).
    Rows must be sorted by id."""
    out: dict[int, tuple[int, int]] = {}
    sky_ids = ids[:0]
    sky_vals = values[:0]
    start = 0
    for k in sorted(set(cuts)):
        stop = int(np.searchsorted(ids, k, side="right"))
        cand_ids = np.concatenate([sky_ids, ids[start:stop]])
        cand_vals = np.concatenate([sky_vals, values[start:stop]])
        keep = skyline_mask(cand_vals)
        sky_ids, sky_vals = cand_ids[keep], cand_vals[keep]
        out[k] = digest(sky_ids, sky_vals)
        start = stop
    return out
