"""Property tests for the NumPy skyline kernels against a brute-force oracle."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from flink_skyline_qos_spark.operators.kernels import skyline_mask


def brute_skyline_mask(v: np.ndarray) -> np.ndarray:
    n = len(v)
    keep = np.ones(n, dtype=bool)
    for i in range(n):
        for j in range(n):
            if i == j:
                continue
            if (v[j] <= v[i]).all() and (v[j] < v[i]).any():
                keep[i] = False
                break
    return keep


# Coordinates: small non-negative integers, integers of both signs, or
# non-integral floats that mix -0.0 with 0.0 (numerically one value).
_COORDS = [
    st.integers(0, 8),
    st.integers(-8, 8),
    st.sampled_from([-1.5, -0.0, 0.0, 0.25, 0.5, 1.0, 2.75, 4.0]),
]


@st.composite
def point_arrays(draw):
    d = draw(st.integers(1, 4))
    n = draw(st.integers(0, 60))
    coords = draw(st.sampled_from(_COORDS))
    vals = draw(
        st.lists(
            st.lists(coords, min_size=d, max_size=d),
            min_size=n, max_size=n,
        )
    )
    return np.array(vals, dtype=float).reshape(n, d)


@settings(max_examples=200, deadline=None)
@given(point_arrays())
@example(np.array([[-0.0, 1.0], [0.0, 0.5], [0.0, 0.5], [-0.0, 2.0]]))
@example(np.array([[0.5, 1.0], [0.25, 2.0], [0.75, -0.5], [0.75, 0.5]]))
@example(np.array([[-1.0, 3.0], [-2.0, 4.0], [2.0, -5.0], [-1.0, 4.0]]))
def test_skyline_mask_matches_bruteforce(v):
    assert (skyline_mask(v) == brute_skyline_mask(v)).all()


@settings(max_examples=100, deadline=None)
@given(point_arrays())
def test_skyline_idempotent(v):
    m = skyline_mask(v)
    sky = v[m]
    assert skyline_mask(sky).all()


@settings(max_examples=100, deadline=None)
@given(point_arrays(), st.integers(1, 5))
def test_partition_invariance(v, parts):
    # sky(S) == sky(union of sky(S_i)) for arbitrary partitioning
    full = v[skyline_mask(v)]
    pieces = [v[i::parts] for i in range(parts)]
    union = np.concatenate([p[skyline_mask(p)] for p in pieces]) if len(v) else v
    merged = union[skyline_mask(union)]
    assert sorted(map(tuple, full)) == sorted(map(tuple, merged))


def test_duplicates_all_survive():
    v = np.array([[1.0, 2.0]] * 5 + [[3.0, 1.0]] * 3)
    assert skyline_mask(v).sum() == 8


def test_single_dominator():
    v = np.vstack([np.zeros((1, 3)), np.random.RandomState(0).rand(100, 3) + 0.1])
    m = skyline_mask(v)
    assert m.sum() == 1 and m[0]


def test_equal_fp_sum_across_block_boundary():
    # Regression: a dominating pair whose float64 dim-sums round to the SAME
    # value (1e16 + 1 == 1e16 in fp), with the dominated copies filling the
    # first _B_CHUNK block and the dominator landing in the next block.  A
    # sum-only stable sort would accept the dominated points first and never
    # re-check them; the lexicographic (sum, d0, d1, ...) tie-break sorts the
    # dominator strictly earlier.
    from flink_skyline_qos_spark.operators.kernels import _B_CHUNK

    dominated = [1e16, 1.0, 0.0]
    dominator = [1e16, 0.0, 0.0]
    v = np.array([dominated] * _B_CHUNK + [dominator])
    assert np.float64(1e16) + 1.0 == np.float64(1e16)  # premise of the test
    m = skyline_mask(v)
    assert m.sum() == 1 and m[-1]


def test_empty():
    assert skyline_mask(np.zeros((0, 2))).shape == (0,)


@st.composite
def unique_3d_arrays(draw):
    n = draw(st.integers(0, 60))
    vals = draw(
        st.lists(
            st.lists(st.integers(0, 8), min_size=3, max_size=3),
            min_size=n, max_size=n,
        )
    )
    v = np.array(vals, dtype=float).reshape(n, 3)
    return np.unique(v, axis=0) if n else v


@settings(max_examples=200, deadline=None)
@given(unique_3d_arrays())
def test_sweep_mask_3d_matches_bruteforce(v):
    from flink_skyline_qos_spark.operators.kernels import sweep_mask_3d

    assert (sweep_mask_3d(v) == brute_skyline_mask(v)).all()


def test_sweep_mask_3d_crosses_block_boundary():
    """A dominator in block 0 must kill victims in later blocks via the
    staircase (block size is 8192 — build 3 blocks' worth)."""
    from flink_skyline_qos_spark.operators.kernels import sweep_mask_3d

    n = 20_000
    rng = np.random.RandomState(3)
    pts = rng.randint(1, 1000, size=(n, 3)).astype(float)
    pts[0] = [0.0, 0.0, 0.0]          # dominates everything else
    uniq = np.unique(pts, axis=0)
    m = sweep_mask_3d(uniq)
    assert m.sum() == 1
    assert (uniq[m] == 0.0).all()


def test_sweep_mask_3d_ties_on_swept_dim():
    """Points equal in d0 must still dominate within the plane (the
    staircase test covers the q.d0 == p.d0 case after dedup)."""
    from flink_skyline_qos_spark.operators.kernels import sweep_mask_3d

    v = np.array([[5., 1., 1.], [5., 1., 2.], [5., 2., 1.], [5., 2., 2.],
                  [5., 0., 9.]])
    m = sweep_mask_3d(v)
    assert m.tolist() == [True, False, False, False, True]


def test_sweep_mask_3d_rejects_other_dims():
    from flink_skyline_qos_spark.operators.kernels import sweep_mask_3d

    with pytest.raises(ValueError):
        sweep_mask_3d(np.zeros((2, 2)))


def test_sweep_mask_3d_keeps_inf_coordinates():
    """+inf in the staircase dim must not vanish behind the inf
    sentinel: [1, 5, inf] is undominated here (everything else has a
    larger d1) and must survive."""
    from flink_skyline_qos_spark.operators.kernels import sweep_mask_3d

    rng = np.random.RandomState(5)
    bulk = rng.randint(10, 1000, size=(9000, 3)).astype(float)
    pts = np.vstack([bulk, [[1.0, 5.0, np.inf]]])
    uniq = np.unique(pts, axis=0)
    m = sweep_mask_3d(uniq)
    assert m[np.isinf(uniq[:, 2])].all()
    assert (m == brute_skyline_mask(uniq)).all()


def test_skyline_mask_2d_keeps_inf_in_first_group():
    """[0, inf] is undominated ([1, 0] has larger d0) — the first
    d0-group must not compare against the inf seed."""
    v = np.array([[0.0, np.inf], [1.0, 0.0]])
    assert skyline_mask(v).tolist() == [True, True]
    v2 = np.array([[0.0, np.inf], [0.5, np.inf], [1.0, 0.0]])
    # [0.5, inf] IS dominated (by [0, inf]: smaller d0, equal d1)
    assert skyline_mask(v2).tolist() == [True, False, True]


def test_skyline_mask_3d_sweep_dispatch_above_threshold():
    """skyline_mask dispatches 3-D inputs >= _SWEEP_3D_MIN rows to the
    plane-sweep over deduped vectors (one packed-key sort, neighbour
    dedup); the dispatch must agree with the forward scan exactly — on
    anti-correlated structure (the regime the dispatch exists for),
    planted exact duplicates (including duplicates of frontier points),
    rows that differ only by -0.0 versus 0.0, +inf coordinates,
    non-integral and negative coordinates, an integral column too wide
    for a direct key code, a key too wide for 64 bits, and an input of
    exactly _SWEEP_3D_MIN rows.  Duplicates share their
    representative's verdict."""
    from flink_skyline_qos_spark.operators.kernels import (
        _SWEEP_3D_MIN,
        _skyline_mask_forward,
        skyline_mask,
    )

    rng = np.random.RandomState(11)
    n = max(3 * _SWEEP_3D_MIN, 12_288)
    base = rng.randint(0, 400, size=(n, 3)).astype(float)
    # anti-correlated-ish: push points toward the anti-diagonal plane
    base[:, 2] = np.clip(900.0 - base[:, 0] - base[:, 1]
                         + rng.randint(-40, 40, size=n), 0, None)
    # plant exact duplicates, including duplicates of frontier points
    dup_idx = rng.choice(n, size=n // 4, replace=False)
    cases = [(np.vstack([base, base[dup_idx]]), dup_idx,
              np.arange(n, n + n // 4))]

    # -0.0 vs 0.0 (numerically the same vector): every zero-bearing row
    # again with its zeros negated, plus a run of alternating-sign
    # copies of one zero-bearing skyline row, long enough to span the
    # sweep's leaf blocks
    zs = np.flatnonzero((base == 0).any(axis=1))
    r = zs[_skyline_mask_forward(base)[zs]][0]
    run = np.repeat(base[[r]], 600, axis=0)
    run[::2] = np.where(run[::2] == 0, -0.0, run[::2])
    neg = np.vstack([np.where(base[zs] == 0, -0.0, base[zs]), run])
    cases.append((np.vstack([base, neg]), np.r_[zs, np.full(600, r)],
                  np.arange(n, n + len(neg))))

    # +inf coordinates, in every dim, some duplicated
    inf = base.copy()
    for k in range(3):
        inf[rng.choice(n, size=n // 50, replace=False), k] = np.inf
    inf[:3] = [[0.0, 0.0, np.inf], [0.0, np.inf, 0.0], [np.inf, 0.0, 0.0]]
    dup = np.flatnonzero(np.isinf(inf).any(axis=1))[:200]
    cases.append((np.vstack([inf, inf[dup]]), dup,
                  np.arange(n, n + dup.size)))

    # non-integral coordinates (rank-coded sort key) with planted
    # duplicates and -0.0 against 0.0: the zero-bearing rows again with
    # their zeros negated, and more than a sweep leaf's worth of
    # d0 = -0.0 shadows that a d0 = 0.0 row dominates, so a key that
    # sorts -0.0 below 0.0 lets them survive
    flt = base / 64.0
    fneg = np.where(flt[zs] == 0, -0.0, flt[zs])
    z0 = flt[flt[:, 0] == 0]
    shadows = np.vstack([z0 + [0.0, k / 64, k / 64] for k in range(1, 21)])
    shadows[:, 0] = -0.0
    assert len(shadows) > 256
    cases.append((np.vstack([flt, flt[dup_idx], fneg, shadows]),
                  np.r_[dup_idx, zs],
                  np.arange(n, n + n // 4 + zs.size)))

    # negative integral coordinates (v - min key codes)
    shifted = base - 250.0
    cases.append((np.vstack([shifted, shifted[dup_idx]]), dup_idx,
                  np.arange(n, n + n // 4)))

    # an integral column whose span is above the direct-code limit
    # (rank-coded beside two direct-coded columns)
    wide = base.copy()
    wide[:, 1] *= 2.0 ** 33
    cases.append((np.vstack([wide, wide[dup_idx]]), dup_idx,
                  np.arange(n, n + n // 4)))

    # three direct-coded columns whose fields need more than 64 bits
    # (the lexsort over the codes)
    deep = base * 2.0 ** 22
    cases.append((np.vstack([deep, deep[dup_idx]]), dup_idx,
                  np.arange(n, n + n // 4)))

    # exactly _SWEEP_3D_MIN rows: the smallest input the sweep takes
    m = _SWEEP_3D_MIN
    edge = base[:m].copy()
    edge[m - 100:] = edge[:100]
    cases.append((edge, np.arange(100), np.arange(m - 100, m)))

    for v, rep, dups in cases:
        assert len(v) >= _SWEEP_3D_MIN  # the sweep path engages
        got = skyline_mask(v)
        assert got.any() and not got.all()
        assert (got == _skyline_mask_forward(v)).all()
        assert (got[rep] == got[dups]).all()


def test_sweep_block_3d_divide_and_conquer_parity():
    """_sweep_block_3d (round 13: the D&C that replaced the O(b·s)
    forward scan inside sweep_mask_3d) must agree with the forward
    scan on lex-sorted unique blocks ACROSS the recursion base case
    (256) and on a dense anti-correlated block where most rows
    survive — the regime that motivated it."""
    from flink_skyline_qos_spark.operators.kernels import (
        _skyline_mask_forward,
        _sweep_block_3d,
    )

    rng = np.random.default_rng(13)
    for n in (1, 2, 255, 256, 257, 1023, 5000):
        v = np.unique(rng.integers(0, 50, size=(n, 3)).astype(float),
                      axis=0)
        v = v[np.lexsort((v[:, 2], v[:, 1], v[:, 0]))]
        assert (_sweep_block_3d(v) == _skyline_mask_forward(v)).all(), n
    # anti-correlated shell: x+y+z ~ const, high survivor fraction
    x = rng.random((8192, 3))
    x = x / x.sum(axis=1, keepdims=True)
    x = np.unique(x, axis=0)
    x = x[np.lexsort((x[:, 2], x[:, 1], x[:, 0]))]
    m = _sweep_block_3d(x)
    assert (m == _skyline_mask_forward(x)).all()
    assert m.sum() > len(x) // 2  # the dense regime is actually hit
