"""Vectorized NumPy skyline kernels (the BNL replacement).

The reference computes local/global skylines with a row-at-a-time
Block-Nested-Loop (`/root/reference/java/org.main/FlinkSkyline.java:407-444`,
`:546-568`).  Here the same set semantics are computed with
block-vectorized NumPy inside Arrow-batched pandas UDFs.

Key algorithmic fact (minimization): if sum(a) > sum(b) then a cannot
dominate b — a dominator is ≤ in every dim, so its dim-sum is strictly
smaller.  Sorting candidates by dim-sum therefore makes the scan
*monotone*: accepted points are never evicted later, giving a single
forward pass instead of BNL's evict-and-rescan loop.

Physical layout (r4): comparisons run over per-dimension CONTIGUOUS
vectors (a (d, n) transposed layout) — the (n, d) row-major column views
are 32-byte-strided gathers that dominate the kernel's memory traffic.
When the input is integral and small enough for exact float64 dim-sums,
two further sound fast paths engage (see :func:`_layout`): the
sum-collision ambiguity branch is skipped entirely, and comparisons run
in uint16/int32 (4×/2× the SIMD lanes of float64).  Measured 6× on the
1M 4-D anti-correlated verify workload.

All comparisons are chunked so peak memory is O(chunk² · d) regardless
of input size.
"""

from __future__ import annotations

import numpy as np

# Chunk sizes tuned for L2/L3 residency; semantics are chunk-invariant.
_B_CHUNK = 2048   # candidate block
_A_CHUNK = 8192   # skyline slab compared against

# exact float64 integer window: every partial dim-sum of d values each
# ≤ 2^53/d in magnitude is exactly representable, so fl(sum) == sum.
_EXACT_SUM_LIMIT = 2.0 ** 53


def _layout(arrays, d: int):
    """Joint comparison layout for the dominance kernels.

    Returns ``(dtype, exact_sums)``:

    * ``exact_sums`` — every input is finite, integral, and small enough
      (d · max|v| < 2^53) that float64 dim-sums are EXACT.  Then
      ``le_all ∧ fl_sum(a) == fl_sum(b)`` implies a == b (any strict <
      would strictly shrink the exact sum), i.e. an exact duplicate that
      never strictly dominates — the ambiguity branch is provably dead
      and is skipped.
    * ``dtype`` — a narrower dtype whose comparisons are bit-identical
      to the float64 ones (integral inputs in range): uint16 / int32, or
      None to keep float64.  Narrower lanes = 4×/2× the compare
      throughput and proportionally less memory traffic.
    """
    lo, hi = np.inf, -np.inf
    for v in arrays:
        if v.size == 0:
            continue
        if not np.isfinite(v).all() or (v != np.floor(v)).any():
            return None, False
        lo = min(lo, float(v.min()))
        hi = max(hi, float(v.max()))
    if not np.isfinite(lo):  # all inputs empty
        return None, True
    if max(abs(lo), abs(hi)) * d >= _EXACT_SUM_LIMIT:
        return None, False
    if 0.0 <= lo and hi < 65536.0:
        return np.uint16, True
    if -(2.0 ** 31) <= lo and hi < 2.0 ** 31:
        return np.int32, True
    return None, True  # integral but wide: float64 compares stay exact


def _transpose(v: np.ndarray, dtype) -> np.ndarray:
    """(n, d) → C-contiguous (d, n), optionally narrowed."""
    t = np.ascontiguousarray(v.T)
    if dtype is not None and t.dtype != dtype:
        t = t.astype(dtype)
    return t


def _dominated_sorted_T(aT: np.ndarray, a_sums: np.ndarray,
                        bT: np.ndarray, b_sums: np.ndarray,
                        exact_sums: bool) -> np.ndarray:
    """Core kernel: mask over columns of `bT` (layout (d, n)) that are
    strictly dominated by some column of `aT`, EXPLOITING sums: a
    dominates b ⟹ sum(a) < sum(b) exactly (all-≤ with one-< strictly
    shrinks the dim-sum).  So the d `lt` matrices of the generic test
    collapse into ONE sum comparison — (d+1) matrix ops instead of
    (2d+1).

    FP soundness: rounded float sums of a dominating pair can collide
    (difference below ulp).  fp addition is monotone, so le_all ⇒
    fl_sum(a) ≤ fl_sum(b); the ambiguous le_all ∧ sum-equal pairs (true
    duplicates, plus the pathological near-dup case) get the exact
    any-< check, restricted to the affected b-columns.  With
    `exact_sums` (integral data — :func:`_layout`) the ambiguous pairs
    are provably exact duplicates and the branch is skipped.

    When `a_sums` is ascending, the slab scan early-exits at the first
    slab whose minimum sum exceeds the b-chunk's max (later slabs can't
    dominate anything in the chunk).
    """
    nb = bT.shape[1]
    out = np.zeros(nb, dtype=bool)
    if aT.shape[1] == 0 or nb == 0:
        return out
    d = aT.shape[0]
    a_sorted = bool((a_sums[1:] >= a_sums[:-1]).all())
    for s in range(0, nb, _B_CHUNK):
        bc = bT[:, s:s + _B_CHUNK]
        bs = b_sums[s:s + _B_CHUNK]
        bs_max = bs.max()
        dom = np.zeros(bc.shape[1], dtype=bool)
        for t in range(0, aT.shape[1], _A_CHUNK):
            if a_sorted and a_sums[t] > bs_max:
                break  # all later slabs have larger sums — cannot dominate
            ac = aT[:, t:t + _A_CHUNK]
            L = ac[0][:, None] <= bc[0][None, :]
            for k in range(1, d):
                L &= ac[k][:, None] <= bc[k][None, :]
            S = a_sums[t:t + _A_CHUNK][:, None] < bs[None, :]
            if exact_sums:
                L &= S
            else:
                amb = L & ~S
                L &= S
                if amb.any():
                    cols = np.flatnonzero(amb.any(axis=0))
                    if 2 * cols.size >= bc.shape[1]:
                        # duplicate-heavy float data: most columns are
                        # ambiguous — full matrices beat fancy-index
                        # copies of nearly the whole block
                        lt = ac[0][:, None] < bc[0][None, :]
                        for k in range(1, d):
                            lt |= ac[k][:, None] < bc[k][None, :]
                        L |= amb & lt
                    else:
                        bsub = bc[:, cols]
                        lt = ac[0][:, None] < bsub[0][None, :]
                        for k in range(1, d):
                            lt |= ac[k][:, None] < bsub[k][None, :]
                        L[:, cols] |= amb[:, cols] & lt
            dom |= L.any(axis=0)
            if dom.all():
                break
        out[s:s + _B_CHUNK] = dom
    return out


def _skyline_mask_2d(values: np.ndarray) -> np.ndarray:
    """Exact 2-D skyline in O(n log n): sort by (d0, d1)
    (:func:`_lex_sorted`), one scan.

    After sorting, p is dominated iff some strictly-smaller-d0 point has
    d1 ≤ p.d1, or a same-d0 point has d1 < p.d1.  So p survives iff it
    holds its d0-group's min d1 AND that min beats (strictly) the
    running min over all earlier groups.  Duplicate points all survive
    (ties never dominate), matching the generic kernel.
    """
    n = values.shape[0]
    idx, v = _lex_sorted(values)
    d0 = v[:, 0]
    d1 = v[:, 1]
    new_grp = np.empty(n, dtype=bool)
    new_grp[0] = True
    np.not_equal(d0[1:], d0[:-1], out=new_grp[1:])
    gid = np.cumsum(new_grp) - 1
    gmin = d1[new_grp]  # min d1 per group (d1-sorted within group)
    prefix_before = np.concatenate(
        ([np.inf], np.minimum.accumulate(gmin)[:-1]))[gid]
    # group 0 has no earlier group — keep unconditionally rather than
    # comparing against the inf seed, which would wrongly drop
    # d1 == +inf holders (inf < inf is False though nothing dominates)
    keep_sorted = (d1 == gmin[gid]) & ((d1 < prefix_before) | (gid == 0))
    out = np.zeros(n, dtype=bool)
    out[idx] = keep_sorted
    return out


# above this input size, 3-D inputs dispatch to the O(n log n)
# plane-sweep instead of the O(n·S) forward scan: on anti-correlated
# partitions the running skyline S reaches thousands and the forward
# scan's n·S·d comparisons dominate the whole local-prune leg
# (measured 150 core-seconds per 10M 3-D rows, vs ~10 for the sweep —
# BENCHMARKS.md round 8); below it both paths are sub-millisecond.
_SWEEP_3D_MIN = 4096


def skyline_mask(values: np.ndarray) -> np.ndarray:
    """Boolean mask of skyline membership for an (n, d) float array.

    2-D inputs take the O(n log n) sort-scan path; 3-D inputs of at
    least `_SWEEP_3D_MIN` rows take the O(n log n) Kung plane-sweep:
    ONE packed-key sort (:func:`_lex_sorted`, shared with the 2-D
    path), exact duplicates found by comparing sorted neighbours
    (numeric equality, so -0.0 and 0.0 are one vector), and the sweep
    body (:func:`_sweep_sorted_3d`) over the sorted unique rows —
    duplicates inherit their representative's verdict, identical tie
    semantics.  Everything else uses a sort-by-sum single forward pass,
    O(n·S) comparisons where S is the running skyline size, fully
    vectorized in blocks with the sum-trick (see
    :func:`_dominated_sorted_T`).  The layout/dtype specialization is
    detected once and the accepted-skyline matrix is maintained in
    transposed form, so no per-block relayout happens.
    """
    n = values.shape[0]
    if n == 0:
        return np.zeros(0, dtype=bool)
    if values.shape[1] == 2:
        return _skyline_mask_2d(values)
    if values.shape[1] == 3 and n >= _SWEEP_3D_MIN:
        order, c = _lex_sorted(values)
        first = np.empty(n, dtype=bool)
        first[0] = True
        np.not_equal(c[1:, 0], c[:-1, 0], out=first[1:])
        first[1:] |= c[1:, 1] != c[:-1, 1]
        first[1:] |= c[1:, 2] != c[:-1, 2]
        keep_sorted = _sweep_sorted_3d(c[first])[np.cumsum(first) - 1]
        out = np.zeros(n, dtype=bool)
        out[order] = keep_sorted
        return out
    return _skyline_mask_forward(values)


def _skyline_mask_forward(values: np.ndarray) -> np.ndarray:
    """The d ≥ 3 sum-sorted forward scan (also the plane-sweep's
    intra-block kernel — calling :func:`skyline_mask` there would
    recurse into the sweep)."""
    n = values.shape[0]
    if n == 0:
        return np.zeros(0, dtype=bool)
    d = values.shape[1]
    sums = values.sum(axis=1)
    # Sort by (sum, d0, d1, ...): fp-rounded sums of a dominating pair can
    # collide (all-<= only guarantees fl_sum(a) <= fl_sum(b)), and with a
    # sum-only stable sort an equal-sum dominator could land in a LATER
    # block than its victim — which, once accepted, is never re-checked.
    # Lexicographic tie-break closes this: a dominator is all-<= and != its
    # victim, hence strictly lexicographically smaller, so dominators always
    # sort strictly earlier and accepted points are never evicted.
    order = np.lexsort(
        tuple(values[:, k] for k in reversed(range(d))) + (sums,))
    dtype, exact = _layout((values,), d)
    svT = _transpose(values[order], dtype)
    ssums = sums[order]
    # The (sum, d0, …, d{k-1}) sort is fully lexicographic, so EXACT
    # duplicates are globally contiguous — one vectorized neighbor
    # comparison finds them.  The forward pass then runs over unique
    # vectors only and duplicates inherit their representative's
    # verdict (identical vector ⇒ identical dominated-status; ties
    # never dominate, so a duplicate of a survivor also survives).
    # Decisive in the reference's optimality-collapse regime (PDF
    # §5.4): the 4-D anti-correlated generator's clamping makes ~22 %
    # of all points the same vector, and without dedup every copy of
    # an accepted point is re-appended to the running skyline matrix
    # the rest of the scan compares against.
    if n > 1:
        first = np.empty(n, dtype=bool)
        first[0] = True
        np.any(svT[:, 1:] != svT[:, :-1], axis=0, out=first[1:])
    else:
        first = np.ones(n, dtype=bool)
    if not first.all():
        inv = np.cumsum(first) - 1
        uT = np.ascontiguousarray(svT[:, first])
        keep_sorted = _forward_mask_T(uT, ssums[first], exact)[inv]
    else:
        keep_sorted = _forward_mask_T(svT, ssums, exact)
    out = np.zeros(n, dtype=bool)
    out[order] = keep_sorted
    return out


def _forward_mask_T(svT: np.ndarray, ssums: np.ndarray,
                    exact: bool) -> np.ndarray:
    """Single forward pass over sum-sorted columns of `svT` (layout
    (d, n)): mask of rows not dominated by any earlier-or-same-block
    survivor.  Dominators sort strictly earlier (a dominator's sum is
    strictly smaller, lex tie-break covers fp sum collisions), so
    accepted points are never evicted."""
    d, n = svT.shape
    keep_sorted = np.zeros(n, dtype=bool)
    skyT = np.empty((d, 0), dtype=svT.dtype)
    sky_sums = np.empty(0, dtype=ssums.dtype)
    for s in range(0, n, _B_CHUNK):
        blkT = svT[:, s:s + _B_CHUNK]
        bsums = ssums[s:s + _B_CHUNK]
        dom = _dominated_sorted_T(skyT, sky_sums, blkT, bsums, exact)
        # Within-block: dominators sort strictly earlier (smaller sum), and
        # dominance is transitive, so only block survivors can dominate.
        idx = np.flatnonzero(~dom)
        if idx.size > 1:
            candT = np.ascontiguousarray(blkT[:, idx])
            sub_dom = _dominated_sorted_T(candT, bsums[idx],
                                          candT, bsums[idx], exact)
            idx = idx[~sub_dom]
        keep_sorted[s + idx] = True
        skyT = np.concatenate([skyT, blkT[:, idx]], axis=1)
        sky_sums = np.concatenate([sky_sums, bsums[idx]])
    return keep_sorted


def _sweep_block_3d(sub: np.ndarray) -> np.ndarray:
    """Exact skyline mask of one lex-sorted UNIQUE block — Kung's
    divide-and-conquer with a vectorized staircase cross-filter:
    split in lex order, solve the left half, kill right-half rows
    dominated by a LEFT SURVIVOR via one `searchsorted` against the
    survivors' (y asc, min-z) staircase (sound: dominance is
    transitive, so left survivors are dominator-complete for the left
    half; every left row lex-precedes every right row, so d0 ≤ holds
    and uniqueness rules out the all-equal tie), recurse on what's
    left.  T(b) = 2·T(b/2) + O(b log b).

    Round 13: this replaces the O(b·s) `_skyline_mask_forward` call
    inside :func:`_sweep_sorted_3d` — on the 100M-point 3-D
    anti-correlated candidate set (1.86M unique, 604k skyline, ~1/3
    survivors per block) that scan was 4.8 s of the 7.9 s driver
    sweep; the D&C runs the same blocks in ~0.3 s."""
    b = len(sub)
    if b <= 256:
        return _skyline_mask_forward(sub)
    mid = b // 2
    mask = np.zeros(b, dtype=bool)
    m_left = _sweep_block_3d(sub[:mid])
    mask[:mid] = m_left
    surv = sub[:mid][m_left]
    # (y asc, min z per y, strict running-min) staircase — same
    # arithmetic as _sweep_sorted_3d's merge step
    o = np.lexsort((surv[:, 2], surv[:, 1]))
    y_s, z_s = surv[o, 1], surv[o, 2]
    firsts = np.empty(len(y_s), dtype=bool)
    firsts[0] = True
    np.not_equal(y_s[1:], y_s[:-1], out=firsts[1:])
    y_u, z_u = y_s[firsts], z_s[firsts]
    run = np.minimum.accumulate(z_u)
    kp = np.empty(len(z_u), dtype=bool)
    kp[0] = True
    np.less(run[1:], run[:-1], out=kp[1:])
    ys, zs = y_u[kp], z_u[kp]
    right = sub[mid:]
    idx = np.searchsorted(ys, right[:, 1], side="right")
    z_star = zs[np.maximum(idx - 1, 0)]
    alive = ~((idx > 0) & (z_star <= right[:, 2]))
    if alive.any():
        ai = np.flatnonzero(alive)
        m_right = _sweep_block_3d(right[alive])
        mask[mid + ai[m_right]] = True
    return mask


# An integral column whose span is below this is coded as v - min; any
# other column by its rank among the column's distinct values.
_DIRECT_SPAN = 2.0 ** 32


def _dense_codes(col: np.ndarray) -> tuple[np.ndarray, int]:
    """(codes, bits): uint64 codes with the order and the equalities of
    the float64 column `col` under numeric comparison (``-0.0 == 0.0``,
    ±inf at the ends), and the bit width of the largest code."""
    lo, hi = col.min(), col.max()
    if hi - lo < _DIRECT_SPAN and (col == np.floor(col)).all():
        # finite and integral: v - min is exact, since the span is small
        return (col - lo).astype(np.uint64), int(hi - lo).bit_length()
    uniq, codes = np.unique(col, return_inverse=True)
    return codes.astype(np.uint64), (len(uniq) - 1).bit_length()


def _lex_sorted(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(order, rows): the (d0, d1, …) lexicographic order of `values`
    and its rows in that order, as float64.

    One ``argsort`` of a packed uint64 key — each column's dense code
    (:func:`_dense_codes`) in its own bit field, d0 highest — instead of
    a multi-key ``np.lexsort`` (on 500k × 3 integral rows, ~20 ms
    against ~250 ms on a 4-vCPU host).  Rows with equal keys are
    numerically equal vectors.  ``np.lexsort``
    over the codes only when the fields need more than 64 bits."""
    v = np.asarray(values, dtype=np.float64)
    codes = [_dense_codes(v[:, k]) for k in range(v.shape[1])]
    if sum(bits for _, bits in codes) > 64:
        order = np.lexsort(tuple(c for c, _ in reversed(codes)))
    else:
        key = codes[0][0]
        for c, bits in codes[1:]:
            key = (key << np.uint64(bits)) | c
        order = np.argsort(key)
    return order, np.take(v, order, axis=0)


def sweep_mask_3d(values: np.ndarray) -> np.ndarray:
    """Exact 3-D skyline mask via the plane-sweep of Kung, Luccia &
    Preparata (JACM 1975) over rows that carry NO duplicates (callers
    dedup first; :func:`skyline_mask` does it for you): sort
    lexicographically by (d0, d1, d2) with one packed-key argsort
    (:func:`_lex_sorted`), then run :func:`_sweep_sorted_3d`.
    """
    n = values.shape[0]
    if n == 0:
        return np.zeros(0, dtype=bool)
    if values.shape[1] != 3:
        raise ValueError("sweep_mask_3d requires exactly 3 columns")
    order, c = _lex_sorted(values)
    out = np.zeros(n, dtype=bool)
    out[order] = _sweep_sorted_3d(c)
    return out


def _sweep_sorted_3d(c: np.ndarray) -> np.ndarray:
    """The plane-sweep body over lex-sorted UNIQUE float64 rows `c`;
    the mask is in `c`'s order.  Sweep in (d0, d1, d2) order,
    maintaining the (d1, d2) Pareto staircase of all accepted points.
    Every sweep predecessor q of p has q.d0 ≤ p.d0, so q dominates p
    iff q.d1 ≤ p.d1 ∧ q.d2 ≤ p.d2 — a staircase lookup — because
    uniqueness makes the all-equal tie impossible.

    O(n log n) total versus the forward scan's O(n·S): at S in the
    hundreds of thousands (100M-point anti-correlated inputs) that is
    the difference between seconds and minutes.  Vectorized in blocks:
    the staircase test is one `searchsorted` per block (the staircase
    is y-ascending with strictly decreasing z, so "min z among y ≤ Y"
    is the last entry with y ≤ Y), intra-block dominance uses the
    divide-and-conquer :func:`_sweep_block_3d` (round 13 — the direct
    `_skyline_mask_forward` scan was O(b·s) and dominated the sweep on
    high-survivor-density anti-correlated blocks), and the staircase
    merge is a sort + running-min envelope rebuild.
    """
    n = c.shape[0]
    keep_sorted = np.zeros(n, dtype=bool)
    ys = np.empty(0, dtype=np.float64)   # staircase y, ascending
    zs = np.empty(0, dtype=np.float64)   # staircase z, strictly decreasing
    B = 8192
    for lo in range(0, n, B):
        blk = c[lo:lo + B]
        if ys.size:
            idx = np.searchsorted(ys, blk[:, 1], side="right")
            # dominated iff SOME staircase entry has y ≤ Y and z ≤ Z —
            # gate on idx>0 explicitly rather than an inf sentinel,
            # which would wrongly drop Z == +inf points (inf > inf is
            # False though nothing dominates them)
            z_star = zs[np.maximum(idx - 1, 0)]
            alive = ~((idx > 0) & (z_star <= blk[:, 2]))
        else:
            alive = np.ones(len(blk), dtype=bool)
        if not alive.any():
            continue
        sub = blk[alive]
        m = _sweep_block_3d(sub)
        ai = np.flatnonzero(alive)
        keep_sorted[lo + ai[m]] = True
        # merge survivors into the staircase: sort by (y asc, z asc),
        # min z per y, then keep only strict running-min improvements
        y2 = np.concatenate([ys, sub[m, 1]])
        z2 = np.concatenate([zs, sub[m, 2]])
        o = np.lexsort((z2, y2))
        y_s, z_s = y2[o], z2[o]
        firsts = np.empty(len(y_s), dtype=bool)
        firsts[0] = True
        np.not_equal(y_s[1:], y_s[:-1], out=firsts[1:])
        y_u, z_u = y_s[firsts], z_s[firsts]
        run = np.minimum.accumulate(z_u)
        kp = np.empty(len(z_u), dtype=bool)
        kp[0] = True
        np.less(run[1:], run[:-1], out=kp[1:])
        ys, zs = y_u[kp], z_u[kp]
    return keep_sorted
