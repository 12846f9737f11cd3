"""Skyline operators — Spark-first re-expression of the reference's
two-phase MapReduce skyline (`/root/reference/java/org.main/FlinkSkyline.java:36-49`).

Three physical strategies over identical set semantics:

1. :func:`skyline` — the scale path.  Phase 1 prunes each *input*
   partition to its local skyline with an Arrow-native `mapInArrow`
   kernel host (NARROW — zero shuffle; skyline is decomposable under
   any partitioning, SURVEY §1.4).
   Phase 2 shuffles only the survivors to one task (`repartition(1)`,
   tiny exchange) and merges.  At 100 TB the phase-1 scan is
   embarrassingly parallel and the exchange carries only local-skyline
   survivors — the same data reduction the reference gets from its local
   BNL, without a full keyBy shuffle of the raw data.  An optional
   intermediate tree-merge level bounds the final task's input when
   survivor sets are huge (high-dim anti-correlated data).

2. :func:`skyline_two_phase` — reference-parity path: one
   ``toArrow()`` brings the input's rows to the driver, which drops
   incomplete rows, tags each row's MR-Dim / MR-Grid / MR-Angle
   partition id (the NumPy twin of the JVM partitioners) and runs each
   pid's local skyline and the global merge with the NumPy kernel (the
   reference's shuffle #1 becomes a group-by in the driver).  Eager,
   and bounded by driver memory, like a stream-engine micro-batch.

3. :func:`skyline_anti_join` — fully declarative Catalyst form
   (left-anti self-join on the dominance theta-predicate).  O(n²); kept
   as the small-data oracle-shaped path.

All paths preserve duplicates (ties never dominate) and arbitrary
passthrough columns.
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
    "skyline_broadcast_verify",
    "skyline_auto",
    "grouped_skyline",
    "sampled_dominator_prefilter",
    "skyline_delta",
    "skyline_delta_delete",
    "skyline_layers",
    "skyline_layers_sql",
]


def _values(pdf: pd.DataFrame, cols: Sequence[str]) -> np.ndarray:
    return pdf[list(cols)].to_numpy(dtype=np.float64, copy=False)


def _keep_alive(result: DataFrame, *deps) -> DataFrame:
    """Pin `deps` (frames carrying release_on_gc finalizers) to
    `result`'s lifetime, WITHOUT adding any new release action: the
    narrow-rewrite wrappers derive a new DataFrame from an inner
    strategy result whose operator-internal caches are tied to the
    inner OBJECT's lifetime — dropping it early would unpersist blocks
    the derived plan still reads (correct but a silent recompute)."""
    import weakref

    weakref.finalize(result, lambda _deps=deps: None)
    return result


def _narrow_rewrite(df: DataFrame, cols: Sequence[str]) -> bool:
    """Default width heuristic: rewrite to dims-only prune + semi-join
    back when the NON-dim payload could dominate the row.

    The direct path ships every column of every row through the Arrow
    prune (and verify) nodes — transfer proportional to row width, the
    classic 100 TB killer on document-like tables (VERDICT r8 #1).  The
    rewrite prunes a ``select(*cols)`` projection instead (parquet then
    reads ONLY the dim columns — column pruning reaches the scan) and
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
    out = _keep_alive(
        df.join(r, cond, "left_semi").select(*df.columns), vecs)
    if hasattr(vecs, "_verify_strategy"):  # propagate the dispatch probe
        out._verify_strategy = vecs._verify_strategy
    return out


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


def sampled_dominator_prefilter(df: DataFrame, cols: Sequence[str], *,
                                refs: int = 32, fraction: float = 0.001,
                                sample_cap: int = 65536,
                                seed: int = 7) -> DataFrame:
    """Lossless JVM-side pre-filter: drop rows STRICTLY dominated by a
    small set of sampled data points, before any row crosses the Arrow
    boundary into the Python prune kernels.

    This generalizes the reference's dominated-region pre-filter (P4,
    `FlinkSkyline.java:120-124`, which prunes against the fixed domain
    midpoint) to REAL sampled points: take a small row sample, keep its
    sample-skyline (the strongest dominators the sample contains),
    spread `refs` of them across the frontier (even spacing after a
    lexicographic sort), and apply one codegen'd Column predicate

        NOT (dom(p_1, row) OR ... OR dom(p_refs, row))

    with strict Pareto dominance.  Lossless by definition: every
    reference point is an actual member of the dataset, and a row
    strictly dominated by ANY dataset member is not in the skyline
    (ties never dominate, so the reference rows themselves — and any
    duplicates of them — survive).

    Cost: one sampled scan (cheap against the cached bench inputs, a
    scan-side Bernoulli filter otherwise) + one whole-stage-codegen
    Filter of ~refs·2d comparisons per row.  On anti-correlated data
    the sampled frontier kills the entire above-the-diagonal cloud —
    measured on the 100M-point 3-D set this cuts Arrow transfer into
    the local-prune kernel several-fold (BENCHMARKS.md round 8).

    `df` must already have complete dominance vectors (the caller
    applies :func:`_complete` first): a NaN in a sampled reference row
    would poison the predicate.

    EAGER: the reference-point sample below collects (toPandas) at
    CONSTRUCTION time, launching one Spark job and scanning the
    upstream plan once before the returned frame is ever consumed
    (ADVICE r8).  Against the cached bench inputs this is a cheap
    cache read; callers with lazy, uncached, expensive inputs should
    persist first if the extra upstream scan matters.
    """
    from functools import reduce as _red
    from operator import or_ as _or

    sample = (df.select(*cols)
              .sample(fraction=min(float(fraction), 1.0), seed=seed)
              .limit(int(sample_cap)).toPandas())
    if len(sample) < 4:
        return df  # nothing representative to prune with
    pts = np.unique(sample.to_numpy(dtype=np.float64), axis=0)
    pts = pts[skyline_mask(pts)]
    if len(pts) > refs:
        order = np.lexsort(pts.T[::-1])  # sort by d0, then d1, ...
        idx = np.unique(
            np.linspace(0, len(pts) - 1, int(refs)).round().astype(int))
        pts = pts[order][idx]
    dim_cols = [F.col(c) for c in cols]
    dominated = _red(_or, [
        dominates([F.lit(float(v)) for v in p], dim_cols) for p in pts
    ])
    return df.filter(~dominated)


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


def _dispatch_verify(pruned: DataFrame, cols: Sequence[str],
                     scatter_threshold: "int | None") -> DataFrame:
    """Shared verify dispatch for :func:`skyline_broadcast_verify` and
    :func:`skyline_auto` (review r8: the two copies had to be edited in
    lockstep).  `pruned` must be persisted + materialized.

    Dispatches on the UNIQUE candidate count when the raw count alone
    would force scatter: the broadcast path's driver footprint is
    |unique(C)|·d since the collect dedups distributed-first, and in
    the optimality-collapse regime (millions of copies of a few
    clamped vectors — PDF §5.4) the unique count is orders of
    magnitude below the raw one.  The distinct frame is computed ONCE,
    pinned, handed to the broadcast path's collect (which consumes it
    EAGERLY — toPandas inside), and released immediately after: only
    `pruned` backs the returned lazy frame.

    `scatter_threshold=None` picks the d-dependent default: 2M for
    d ≥ 4, 8M for d ≤ 3 (the verify there is the driver plane-sweep at
    24 B/row — the quadratic scatter kernel only makes sense when even
    the unique set dwarfs the driver heap; review r8: at 2M uniques the
    sweep is ~1.6 s where scatter is minutes).  An EXPLICIT value is
    honored exactly — it is the documented driver-memory bound, and the
    scatter-forcing tests rely on it.

    The exact ``distinct()`` (a full exchange of the candidate set) is
    gated behind ``approx_count_distinct`` over the cached candidates —
    a map-side HLL sketch, no data shuffle (ADVICE r8): when even the
    approximate unique count sits clearly above the threshold (> 1.3×,
    comfortably outside the sketch's ~5 % rsd) the scatter branch is
    taken directly and the exchange whose result it would discard never
    runs.  Near the boundary the exact count still decides, so a
    borderline mis-estimate can only cost plan choice between two EXACT
    strategies, never correctness.
    """
    if scatter_threshold is None:
        scatter_threshold = 8_000_000 if len(cols) <= 3 else 2_000_000
    n = pruned.count()
    uniq = None
    if n > scatter_threshold:
        approx = pruned.select(
            F.approx_count_distinct(F.struct(*cols)).alias("n")
        ).first()["n"]
        if approx > int(1.3 * scatter_threshold):
            n = approx  # clearly scatter — skip the exact exchange
        else:
            uniq = pruned.select(*cols).distinct().persist()
            n = uniq.count()
    if n <= scatter_threshold:
        out = _verify_against_broadcast(pruned, cols, uniq_df=uniq)
        strategy = "broadcast"
    else:
        out = _verify_scatter(pruned, cols)
        strategy = "scatter"
    if uniq is not None:
        # fully consumed (eager collect) or unused (scatter branch)
        uniq.unpersist(False)
    # observability: which verify branch ran and the count that decided
    # it (unique when measured, raw/approx otherwise) — bench rows log
    # this so the scatter path's coverage is auditable (VERDICT r8 #2)
    out._verify_strategy = (strategy, int(n), int(scatter_threshold))
    return out


def skyline_broadcast_verify(df: DataFrame, cols: Sequence[str], *,
                             pre_merge_partitions: int | None = None,
                             scatter_threshold: "int | None" = None,
                             prefilter_refs: int | None = None,
                             envelope_cells: "int | bool | None" = None,
                             width_safe: bool | None = None) -> DataFrame:
    """Skyline for the huge-survivor regime (high-dim anti-correlated).

    When local skylines barely prune (4-D anti-correlated: ~75 % of
    points survive — PDF §5.4), the single final-merge task pays
    O(|C|²) alone and dominates wall time.  Here every candidate is
    verified against the full candidate set with the work spread over
    all cores.  Two physical forms, picked by measured survivor count
    (the persist-pinning count doubles as the measurement — one extra
    cached pass, same move AQE makes at shuffle boundaries):

    * ``|C| ≤ scatter_threshold`` — driver-broadcast of the candidates'
      DIM VALUES ONLY (:func:`_verify_against_broadcast`).  The driver
      holds |C|·d float64s (64 MB at the 2M/4-D default), pickled once
      per executor; each task verifies its cached rows in place with
      zero additional shuffle.
    * above it — driver-free scatter-replicate exchange
      (:func:`_verify_scatter`): same comparisons, no single node ever
      holds the candidate matrix, at the price of a chunks × |C| narrow
      shuffle.  The 100 TB path; survivor sets that big dwarf any
      driver heap.

    Exact either way: skyline(S) = {p ∈ C : ¬∃q ∈ C, q dom p} where
    C ⊇ skyline(S) is any superset produced by local pruning.

    `pre_merge_partitions` inserts one shuffled re-prune of the
    candidates before verification: an extra cheap exchange of survivors
    that shrinks |C| (cross-partition dominated points die), and verify
    work falls with |C|² — worth it exactly when local pruning is weak
    (high-dim anti-correlated).

    `prefilter_refs` enables the lossless JVM-side
    :func:`sampled_dominator_prefilter` (that many sampled reference
    points) BELOW the local-prune Python node: at 100M rows the Arrow
    transfer into the prune kernel is the single biggest cost in the
    plan, and a codegen'd Filter that kills the strictly-dominated bulk
    first cuts that transfer several-fold at the price of one sampled
    scan (VERDICT r7 #2).

    NOTE: `prefilter_refs` launches an EAGER Spark job at construction
    time (the reference-point sample inside
    :func:`sampled_dominator_prefilter` collects via toPandas before
    this function returns) — callers building plans over lazy,
    uncached, expensive inputs pay one extra upstream scan; persist the
    input first if that matters (ADVICE r8).

    `envelope_cells` (truthy enables; an int sets the per-axis cell
    count) applies the LOSSLESS all-JVM
    :func:`~.variants.grid_envelope_prefilter` below the Python prune
    node — the strongest pre-Arrow reduction measured (kills ~90 % of
    the 100M 3-D anti-correlated shell where 32 sampled dominator
    points kill 33 %; BENCHMARKS.md round 10).  Like `prefilter_refs`
    it launches eager jobs (one stats aggregate + one ≤4096-row cell
    collect) at construction time — persist lazy expensive inputs
    first.

    `width_safe` (default auto, :func:`_narrow_rewrite`): wide rows are
    pruned AND verified dims-only, then restored with one semi-join —
    without it every verify exchange/broadcast pass would carry full
    rows.
    """
    df = _complete(df, cols)
    if width_safe if width_safe is not None else _narrow_rewrite(df, cols):
        vecs = skyline_broadcast_verify(
            df.select(*cols), cols,
            pre_merge_partitions=pre_merge_partitions,
            scatter_threshold=scatter_threshold,
            prefilter_refs=prefilter_refs,
            envelope_cells=envelope_cells, width_safe=False)
        return _join_back(df, vecs, cols)
    if envelope_cells:
        from .variants import grid_envelope_prefilter

        df = grid_envelope_prefilter(
            df, cols,
            cells=None if envelope_cells is True else int(envelope_cells))
    if prefilter_refs:
        df = sampled_dominator_prefilter(df, cols, refs=prefilter_refs)
    pruned = _local_prune(df, cols)
    if pre_merge_partitions and pre_merge_partitions > 1:
        pruned = _local_prune(
            pruned.repartition(pre_merge_partitions), cols)
    # Pin and MATERIALIZE before anything reads it twice: an unpinned
    # persist referenced on both sides of one action races its own cache
    # population and can run the expensive local prune twice (observed
    # 6× wall-time at 1M×4-D).  The count is also the strategy input.
    pruned = pruned.persist()
    out = _dispatch_verify(pruned, cols, scatter_threshold)
    # the pin backs the returned lazy frame — released when the caller
    # drops the result (ADVICE r3: repeated calls otherwise accumulate
    # cached blocks until memory pressure)
    return release_on_gc(out, pruned)


def _collect_unique(pruned: DataFrame, cols: Sequence[str],
                    uniq_df: "DataFrame | None" = None) -> np.ndarray:
    """Candidates' dim values → deduplicated (n, d) float64 matrix.

    Deduplication is sound (dominance by a duplicate ≡ dominance by
    its representative; ties never dominate) and decisive in the
    reference's optimality-collapse regime (PDF §5.4), where the 4-D
    anti-correlated generator's clamping makes the surviving skyline
    mostly exact duplicates and |unique(C)| ≪ |C|.

    The dedup runs DISTRIBUTED first (`distinct()` — one map-side-
    combined exchange of candidate dim values) so the Arrow collect
    moves |unique(C)| rows, not |C|: at 10M×4-D the candidate set is
    2.2M copies of a handful of clamped vectors and the driver-side-
    only dedup paid 6 s of pure transfer for a 1-row result
    (BENCHMARKS.md round 8).  `uniq_df` supplies an already-computed
    (pinned) distinct frame — the dispatch in
    :func:`skyline_broadcast_verify` builds one for its unique count,
    and this collect must not re-run the aggregation (review finding
    r8).  The driver-side np.unique stays: it is idempotent, cheap at
    |unique(C)|, and canonicalizes any residual engine-level
    value-equality edge cases (e.g. ±0.0) to the kernels' numeric
    semantics."""
    src = uniq_df if uniq_df is not None \
        else pruned.select(*cols).distinct()
    cand = src.toPandas().to_numpy(dtype=np.float64)
    return np.unique(cand.reshape(-1, len(cols)), axis=0)


def _collect_refs(pruned: DataFrame, cols: Sequence[str],
                  uniq_df: "DataFrame | None" = None):
    """Candidates' dim values → deduped, sum-sorted (values, sums) —
    the layout the sorted-sum verify kernel consumes."""
    cand = _collect_unique(pruned, cols, uniq_df)
    sums = cand.sum(axis=1)
    order = np.argsort(sums, kind="stable")
    return cand[order], sums[order]


def _dominated_mask(b: np.ndarray, ref) -> np.ndarray:
    """Rows of `b` dominated by the broadcast `(values, sums)` pair.

    Sorts the verify side by dim-sum too: each kernel chunk's max sum
    then bounds its candidate-slab scan tightly (unsorted chunks all
    carry ~the global max and the early-exit never fires) — measured
    4.7× at 391k×12k."""
    from .kernels import _dominated_sorted

    a, a_sums = ref.value
    bs = b.sum(axis=1)
    order = np.argsort(bs, kind="stable")
    dom_s = _dominated_sorted(a, a_sums, b[order], bs[order])
    dom = np.empty_like(dom_s)
    dom[order] = dom_s
    return dom


def _verify_pass(pruned: DataFrame, cols: Sequence[str], ref) -> DataFrame:
    """One broadcast-verify pass: drop rows of `pruned` dominated by
    any reference point in the broadcast `(values, sums)` pair."""
    def verify(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            dom = _dominated_mask(_arrow_values(tbl, cols), ref)
            if not dom.all():
                yield from tbl.filter(pa.array(~dom)).to_batches()

    return pruned.mapInArrow(verify, schema=pruned.schema)


def _verify_against_broadcast(pruned: DataFrame, cols: Sequence[str], *,
                              escalate_threshold: int = 600_000,
                              pre_round_refs: int = 256_000,
                              uniq_df: "DataFrame | None" = None
                              ) -> DataFrame:
    """Broadcast `pruned`'s dim values; drop its dominated rows in place.

    `pruned` must already be persisted + materialized (the Arrow
    `toPandas` below then reads the cache, and the verify pass reuses
    it).  Driver footprint is |C|·d float64s — candidate *values* only,
    never full rows; the caller bounds |C| via `scatter_threshold`.
    The reference matrix is deduplicated and sum-sorted ONCE on the
    driver (:func:`_collect_refs`), so every verify task runs the
    sorted-sum kernel directly.

    Escalating two-round verify (large refs sets): when
    |unique(C)| > `escalate_threshold`, a PRE-ROUND first verifies all
    candidates against only the `pre_round_refs` LOWEST-SUM reference
    points — the strongest dominators (a dominator's dim-sum is
    strictly below its victim's, so low-sum points kill the most).
    Measured on the 100M-point 3-D anti-correlated set (1.89M unique
    candidates): the lowest 256k refs (13%) kill 63% of candidates at
    ~25% of the full-matrix kernel cost.  The full round then runs
    survivors against unique(survivors) — sound because survivors ⊇
    skyline(C) and skyline(C) is dominator-complete for C (dominance
    is transitive: if q dominates p, some skyline member dominating-
    or-equal to q also dominates p), and verify work falls with BOTH
    factors of |survivors|².  Below the threshold the single round is
    already cheap and the extra driver pass would cost more than it
    saves.

    d ≤ 3 short-circuit: the candidate matrix is ALREADY on the driver
    (that is what broadcast-verify means), and for 2-D/3-D an exact
    O(|C| log |C|) skyline of the unique candidates exists
    (:func:`kernels.skyline_mask`'s sort-scan / :func:`kernels.
    sweep_mask_3d`'s Kung plane-sweep) — seconds where the distributed
    all-pairs kernel takes minutes at |C| ~ 2M (measured 1.6 s vs
    ~80 s on the 100M-point 3-D anti-correlated survivor set).  Only
    the membership pass (rows whose dim vector is in the computed
    skyline set — duplicates of skyline vectors survive, exactly the
    kernel's tie semantics) runs distributed.  d ≥ 4 keeps the
    escalating broadcast rounds: the driver sweep has no sub-quadratic
    form there and the distributed kernel parallelizes the O(|C|·S)
    work across all cores.
    """
    sc = pruned.sparkSession.sparkContext
    if len(cols) <= 3:
        # the sweep needs neither sums nor the sum-sort — collect the
        # unique matrix only (skips a full argsort on the hot path)
        cand = _collect_unique(pruned, cols, uniq_df)
        if len(cand):
            from .kernels import skyline_mask, sweep_mask_3d
            mask = (sweep_mask_3d(cand) if len(cols) == 3
                    else skyline_mask(cand))
            ref = sc.broadcast(np.ascontiguousarray(cand[mask]))
            return _membership_pass(pruned, cols, ref)
        return pruned
    cand, sums = _collect_refs(pruned, cols, uniq_df)
    if len(cand) <= 4096:
        # d ≥ 4 tiny-unique short-circuit (VERDICT r7 #5): in the
        # optimality-collapse regime the candidate multiset is millions
        # of copies of a few distinct vectors — the driver forward scan
        # over unique(C) is microseconds and the whole distributed
        # verify collapses to one membership filter.  Above the cutoff
        # the scan's O(|u|·S) single-core cost loses to the
        # all-cores broadcast kernel (A/B in BENCHMARKS.md round 8).
        if len(cand):
            from .kernels import _skyline_mask_forward
            mask = _skyline_mask_forward(cand)
            ref = sc.broadcast(np.ascontiguousarray(cand[mask]))
            return _membership_pass(pruned, cols, ref)
        return pruned
    if len(cand) > escalate_threshold:
        k0 = min(pre_round_refs, len(cand) // 4)
        ref0 = sc.broadcast((cand[:k0], sums[:k0]))
        surv = _verify_pass(pruned, cols, ref0).persist()
        surv.count()  # materialize: the refs collect below re-reads it
        cand, sums = _collect_refs(surv, cols)
        ref = sc.broadcast((cand, sums))
        return release_on_gc(_verify_pass(surv, cols, ref), surv)
    ref = sc.broadcast((cand, sums))
    return _verify_pass(pruned, cols, ref)


def _row_view(a: np.ndarray) -> np.ndarray:
    """(n, d) float64 → (n,) structured view for set-membership tests.

    Fields compare numerically (−0.0 == 0.0, like every other
    comparison in the pipeline), so membership matches the kernels'
    equality semantics, not raw bytes."""
    a = np.ascontiguousarray(a, dtype=np.float64)
    return a.view([(f"f{i}", np.float64) for i in range(a.shape[1])]) \
        .ravel()


def _membership_pass(pruned: DataFrame, cols: Sequence[str],
                     ref) -> DataFrame:
    """Keep exactly the rows whose dim vector is in the broadcast
    skyline matrix (duplicate copies of skyline vectors all survive —
    ties never dominate, matching the verify kernels)."""
    def member(batches):
        import pyarrow as pa

        sky = _row_view(ref.value)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            keep = np.isin(
                _row_view(_arrow_values(tbl, cols, order="C")), sky)
            if keep.any():
                yield from tbl.filter(pa.array(keep)).to_batches()

    return pruned.mapInArrow(member, schema=pruned.schema)


def _verify_scatter(pruned: DataFrame, cols: Sequence[str], *,
                    chunks: int | None = None) -> DataFrame:
    """Drop `pruned`'s dominated rows without any driver-side data path.

    The broadcast verify holds |C|·d values on the driver — fine at
    tens of MB, a driver OOM + re-serialization bottleneck when 4-D
    anti-correlated survivor sets reach tens of millions of rows at
    100 TB scale.  Here the same all-pairs check is a
    fragment-replicate exchange instead:

    * the full rows are hash-split into `chunks` verify groups, and
    * the candidates' DIM VALUES ONLY are replicated into every group,
      packed as ONE binary blob per input partition (the float64 dim
      matrix, `tobytes()`): the exchange carries partitions × chunks
      blob rows — a few thousand — instead of chunks × |C| per-value
      rows, so shuffle/Arrow row machinery never touches individual
      candidates (measured 10× on the 1M 4-D set: per-value explode
      96 s vs 11 s blob-packed, broadcast form 10 s),

    then one `applyInArrow` per group verifies |C|/chunks rows against
    the complete candidate set with the vectorized sorted-sum kernel.
    Total comparisons are identical to the broadcast form; no node —
    least of all the driver — ever holds more than |C|·d values.  The
    per-group argsort of the candidate matrix is O(|C| log |C|) against
    the kernel's O(|C|²/chunks·d) — noise in the regime (|C| above
    the caller's scatter threshold) where this path is chosen.

    `pruned` must already be persisted + materialized: both the verify
    side and the replicated candidate side read it inside one action.
    """
    spark = pruned.sparkSession
    k = max(int(chunks or spark.sparkContext.defaultParallelism), 1)
    # POSITIONAL chunk assignment, not a content hash: the chunk key
    # only spreads verify work — every row is checked against the full
    # candidate set regardless — and hashing the dim values collapses
    # duplicate-heavy survivor sets (the §5.4 regime: most of the 4-D
    # anti-correlated skyline is one repeated clamped point) into a
    # single straggler chunk (observed 85 s single-task vs 3 s spread).
    b_side = pruned.withColumn(
        "__ck", F.pmod(F.monotonically_increasing_id(), F.lit(k)))
    out_cols = pruned.columns

    def pack(batches):
        import pyarrow as pa

        arrs = [_arrow_values(pa.Table.from_batches([rb]), cols, order="C")
                for rb in batches if rb.num_rows]
        if not arrs:
            return
        # per-partition dedup: duplicates add no dominance evidence
        uniq = np.unique(np.concatenate(arrs), axis=0)
        yield pa.RecordBatch.from_arrays(
            [pa.array([np.ascontiguousarray(uniq).tobytes()],
                      type=pa.binary())], names=["__blob"])

    packed = pruned.mapInArrow(pack, schema="__blob binary")
    a_side = packed.withColumn("__ck", F.explode(
        F.array(*[F.lit(i) for i in range(k)])))
    # Explicit user repartition on the group key: AQE would otherwise
    # coalesce this exchange by SHUFFLE SIZE (a few MB of blobs + rows)
    # and serialize all k compute-bound verify kernels into one task
    # (observed 99 s vs 11 s at 1M×4-D).  AQE honors user-specified
    # partitioning, and groupBy over an already-hash-clustered child
    # inserts no second exchange.
    unioned = (b_side.unionByName(a_side, allowMissingColumns=True)
               .repartition(k, "__ck"))

    def _scatter_dom(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        from .kernels import _dominated_sorted

        a_sums = a.sum(axis=1)
        order = np.argsort(a_sums, kind="stable")
        bs = b.sum(axis=1)
        # both sides sum-sorted — see _verify_against_broadcast
        border = np.argsort(bs, kind="stable")
        dom_s = _dominated_sorted(a[order], a_sums[order],
                                  b[border], bs[border])
        dom = np.empty_like(dom_s)
        dom[border] = dom_s
        return dom

    def verify(tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        is_blob = pc.is_valid(tbl.column("__blob"))
        b_tbl = tbl.filter(pc.invert(is_blob)).select(out_cols)
        if b_tbl.num_rows == 0:
            return b_tbl
        blobs = tbl.column("__blob").filter(is_blob).to_pylist()
        a = np.unique(np.concatenate([
            np.frombuffer(blob, dtype=np.float64).reshape(-1, len(cols))
            for blob in blobs
        ]), axis=0)  # cross-partition duplicates
        dom = _scatter_dom(a, _arrow_values(b_tbl, cols))
        return b_tbl.filter(pa.array(~dom))

    return unioned.groupBy("__ck").applyInArrow(verify, schema=pruned.schema)


def skyline_auto(df: DataFrame, cols: Sequence[str], *,
                 broadcast_threshold: int = 100_000,
                 scatter_threshold: "int | None" = None,
                 envelope_cells: "int | bool | None" = None,
                 width_safe: bool | None = None) -> DataFrame:
    """Adaptive skyline: measure the local-pruned survivor count, then
    pick the physical strategy it calls for.

    Small survivor sets (the common 2-D/3-D case) finish with the tiny
    single-task merge; huge ones (high-dim anti-correlated) take one
    shuffled re-prune (cross-partition dominated candidates die, and
    verify cost falls with |C|²) and then the same hybrid verify as
    :func:`skyline_broadcast_verify` — driver-broadcast of dim values
    up to `scatter_threshold` survivors, the driver-free scatter
    exchange beyond.  Each decision costs one count over an
    already-persisted frame (which also pins the cache both verify
    sides read) — the same measure-then-replan move AQE makes at
    shuffle boundaries, applied to the one operator Catalyst cannot
    see into.

    `envelope_cells` (truthy/int): apply the lossless all-JVM
    :func:`~.variants.grid_envelope_prefilter` before the local prune
    (see :func:`skyline_broadcast_verify`); launches its two eager
    stats jobs at construction time.

    `width_safe` (default auto, :func:`_narrow_rewrite`): wide rows
    take the dims-only prune/verify + semi-join-back rewrite.
    """
    df = _complete(df, cols)
    if width_safe if width_safe is not None else _narrow_rewrite(df, cols):
        vecs = skyline_auto(df.select(*cols), cols,
                            broadcast_threshold=broadcast_threshold,
                            scatter_threshold=scatter_threshold,
                            envelope_cells=envelope_cells,
                            width_safe=False)
        return _join_back(df, vecs, cols)
    if envelope_cells:
        from .variants import grid_envelope_prefilter

        df = grid_envelope_prefilter(
            df, cols,
            cells=None if envelope_cells is True else int(envelope_cells))
    pruned = _local_prune(df, cols).persist()
    n = pruned.count()
    if n > broadcast_threshold:
        par = df.sparkSession.sparkContext.defaultParallelism
        re_pruned = _local_prune(
            pruned.repartition(par), cols).persist()
        re_pruned.count()
        # re_pruned is materialized: the first-stage cache is dead weight
        # from here on (ADVICE r3) — release it eagerly.
        pruned.unpersist(False)
        out = _dispatch_verify(re_pruned, cols, scatter_threshold)
        return release_on_gc(out, re_pruned)
    return release_on_gc(
        _local_prune(pruned.repartition(1), cols),
        pruned,
    )


def skyline_2d_window(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Global 2-D skyline as a pure window-function plan — zero Python.

    The no-group form of :func:`grouped_skyline`'s window strategy: the
    input collapses to one row per DISTINCT d0 carrying min(d1) (a
    map-side-combined aggregate — on bounded/integer domains this is
    the big reduction: 1B anti-correlated rows collapse to ≤ |domain|
    distinct values), one running-min window over that tiny frame, and
    a broadcast join back.  Ties survive, matching the kernel
    semantics.  The fastest 2-D plan at scale when |distinct d0| ≪ n —
    measured 31.8 s vs 54.4 s (two-phase) vs 81.2 s (broadcast-verify)
    on 300M anti-correlated points, and the ONLY plan here where no
    row ever crosses into Python (BENCHMARKS.md round 9).
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
                 num_partitions: int, domain_max: float) -> _DriverRows:
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
    near-frontier shell crosses into Python.  Lossless by the same
    witness argument as the verify strategies.

    EAGER, like :func:`sampled_dominator_prefilter`: the scan, the
    transfer and both kernel phases run when this function is called,
    not when the returned frame is consumed, and the input must fit in
    the driver — the same contract as a stream-engine micro-batch.  The
    scale-out plans (:func:`skyline`, :func:`skyline_auto`) keep the
    data in the executors.
    """
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StructField, StructType

    if domain_max is None:
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
    from .caching import release_on_gc

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
