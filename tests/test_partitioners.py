"""The NumPy partitioner twin (`partition_ids`) against the Spark tag
(`partitioner_expr`) on boundary-heavy integer points.

The stream engine tags its micro-batches with the twin in the driver;
the batch plans tag in the JVM.  The skyline answer does not depend on
the pid, but the twin is meant to split the work exactly as the JVM
does, so every point must land in the same partition.  The twin is
defined for NaN-free input only (the engine drops NaN rows first).
"""

import numpy as np
import pyarrow as pa
import pytest

from flink_skyline_qos_spark.operators.partitioners import (
    partition_ids,
    partitioner_expr,
    split_by_pid,
)

ALGOS = ("mr-dim", "mr-grid", "mr-angle", "mr-z")
DOMAIN = 10000.0
PARTS = (5, 8)


def _axis() -> np.ndarray:
    """Per-dim values: every slice boundary k·domain_max/P and its
    integer neighbours, domain_max/2, 0, domain_max and beyond, ±inf."""
    vals = {-1.0, 0.0, 1.0, DOMAIN / 2 - 1, DOMAIN / 2, DOMAIN / 2 + 1,
            DOMAIN, DOMAIN + 1, 2 * DOMAIN, 1e6, np.inf, -np.inf}
    for p in PARTS:
        for k in range(p + 1):
            b = k * DOMAIN / p
            vals |= {b - 1, b, b + 1}
    return np.array(sorted(vals))


def _points(dims: int) -> np.ndarray:
    rng = np.random.default_rng(dims)
    axis = _axis()
    if dims <= 3:   # the full boundary grid
        grid = np.stack(np.meshgrid(*[axis] * dims, indexing="ij"), -1)
        grid = grid.reshape(-1, dims)
    else:
        grid = rng.choice(axis, size=(40_000, dims))
    line = np.concatenate([axis, np.arange(0.0, 2 * DOMAIN + 1, 7.0)])
    diagonal = np.repeat(line[:, None], dims, axis=1)
    uniform = rng.integers(0, int(1.2 * DOMAIN), size=(20_000, dims))
    return np.concatenate([grid, diagonal, uniform]).astype(np.float64)


@pytest.mark.parametrize("dims", [2, 3, 4])
def test_partition_ids_match_partitioner_expr(spark, dims):
    from pyspark.sql import functions as F

    pts = _points(dims)
    cols = [f"d{i}" for i in range(dims)]
    tbl = pa.table({"i": np.arange(len(pts)),
                    **{c: pts[:, j] for j, c in enumerate(cols)}})
    cases = [(a, p) for a in ALGOS for p in PARTS]
    got = spark.createDataFrame(tbl).select(
        "i", *[partitioner_expr(a, [F.col(c) for c in cols], p, DOMAIN)
               .alias(f"{a}/{p}") for a, p in cases]
    ).toArrow().sort_by("i")
    for a, p in cases:
        want = got.column(f"{a}/{p}").to_numpy()
        mine = partition_ids(a, pts, p, DOMAIN)
        assert mine.dtype == np.int32
        bad = np.flatnonzero(mine != want)
        assert not len(bad), (a, p, pts[bad[:5]], mine[bad[:5]], want[bad[:5]])


@pytest.mark.parametrize("num_pids", [1, 8, 300, 70_000])
def test_split_by_pid_is_the_stable_sort_split(num_pids):
    """Each key width (8-bit, 16-bit, int32) gives the groups of a
    stable comparison sort: pids ascending, rows in input order."""
    pids = np.random.default_rng(num_pids).integers(
        0, num_pids, 50_000).astype(np.int32)
    order = np.argsort(pids, kind="stable")
    want = np.split(order, np.flatnonzero(np.diff(pids[order])) + 1)
    got = split_by_pid(pids)
    assert list(got) == sorted(set(pids.tolist()))
    assert len(got) == len(want)
    for g, w in zip(got.values(), want):
        np.testing.assert_array_equal(g, w)
    assert split_by_pid(np.empty(0, np.int32)) == {}
