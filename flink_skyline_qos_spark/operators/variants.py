"""Skyline variants and prefilters beyond the reference's core operator.

* :func:`grid_prefilter` — the reference's P4 `GridDominanceFilter`
  (`/root/reference/java/org.main/FlinkSkyline.java:717-733`), which is
  COMMENTED OUT there over Flink deadlock fears (PDF p.12).  We enable it
  with a correctness guard the reference lacks: dropping every point that
  is ≥ domain/2 in all dimensions is only lossless when a *witness* point
  with all dimensions ≤ domain/2 exists (the witness dominates everything
  strictly inside the upper region).  Without the guard, a corpus
  clustered in the upper corner would lose its entire skyline.

* :func:`top_k_dominating` — top-k dominating points (Papadias et al.,
  "Progressive Skyline Computation"): the k points that dominate the
  largest number of others.  The "ranked" answer the reference's skyline
  deliberately avoids; a natural companion query.

* :func:`k_skyband` — the k-skyband (Papadias et al., TODS 2005):
  every point dominated by FEWER than k others (k = 1 is the ordinary
  skyline).  The candidate superset the top-k dominating answer always
  lives in; exposed first-class because "best-k tolerance" queries are
  the natural QoS relaxation of the reference's strict skyline.

* :func:`k_dominant_skyline` — k-dominant skyline (Chan et al., SIGMOD
  2006): relax dominance to "≤ in at least k dimensions, < in at least
  one of those".  Shrinks the exploding high-dimensional skyline (the
  reference's 4-D optimality collapse to 0.25, PDF §5.4, is exactly the
  disease this treats).  k-dominance is non-transitive, so this is NOT
  decomposable — implemented as a single declarative anti-join, which
  Catalyst plans as a (broadcast) nested-loop; use on pre-reduced inputs
  (e.g. the ordinary skyline) at scale.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.dominance import dominance_sql

__all__ = [
    "grid_prefilter",
    "grid_prefilter_sql",
    "grid_envelope_prefilter",
    "grid_envelope_prefilter_sql",
    "dynamic_skyline",
    "dynamic_skyline_sql",
    "epsilon_skyline",
    "epsilon_skyline_sql",
    "thick_skyline",
    "thick_skyline_sql",
    "skycube",
    "skycube_sql",
    "k_skyband",
    "k_skyband_sql",
    "top_k_dominating",
    "top_k_dominating_sql",
    "k_dominant_skyline",
    "k_dominant_skyline_sql",
    "reverse_skyline",
    "reverse_skyline_sql",
    "representative_skyline",
    "representative_skyline_sql",
]


def grid_prefilter(df: DataFrame, cols: Sequence[str],
                   domain_max: float) -> DataFrame:
    """Drop points dominated by the domain midpoint — IF a witness exists.

    Pure narrow `filter()` (predicate-pushdown friendly); the witness
    check is one cheap aggregate.  Lossless: witness w has w_i ≤ mid ∀i,
    a dropped point p has p_i ≥ mid ∀i and p_j > mid for some j ⇒ w
    dominates p.  Exact-midpoint ties are kept (ties never dominate).
    """
    mid = domain_max / 2.0
    in_lower = reduce(and_, [F.col(c) <= mid for c in cols])
    has_witness = df.filter(in_lower).limit(1).count() > 0
    if not has_witness:
        return df
    all_ge = reduce(and_, [F.col(c) >= mid for c in cols])
    any_gt = reduce(or_, [F.col(c) > mid for c in cols])
    return df.filter(~(all_ge & any_gt))


def grid_prefilter_sql(table: str, cols: Sequence[str],
                       domain_max: float) -> str:
    """DuckDB twin of :func:`grid_prefilter` (witness via EXISTS)."""
    mid = domain_max / 2.0
    lower = " AND ".join(f"u.{c} <= {mid!r}" for c in cols)
    all_ge = " AND ".join(f"t.{c} >= {mid!r}" for c in cols)
    any_gt = " OR ".join(f"t.{c} > {mid!r}" for c in cols)
    return (
        f"SELECT t.* FROM {table} t WHERE NOT (({all_ge}) AND ({any_gt}) "
        f"AND EXISTS (SELECT 1 FROM {table} u WHERE {lower}))"
    )


def _envelope_cells(dims: int, cells: "int | None") -> int:
    """Per-axis cell count for the (d−1)-dim envelope grid: budget
    ~4096 total cells unless the caller overrides."""
    if cells is not None:
        return max(int(cells), 2)
    return max(2, int(round(4096 ** (1.0 / max(dims - 1, 1)))))


def grid_envelope_prefilter(df: DataFrame, cols: Sequence[str], *,
                            cells: "int | None" = None) -> DataFrame:
    """LOSSLESS JVM-side dominance prefilter via a per-cell witness
    envelope — the reference's P4 grid idea (`FlinkSkyline.java:717-733`,
    one midpoint witness) generalized to a full witness FIELD, and the
    round-10 answer to "kill rows BEFORE the Python boundary" (the
    Arrow/pandas host A/B showed transport, not conversion, is the
    100M-row floor — BENCHMARKS.md round 10).

    Construction (minimization, d = len(cols) ≥ 2):

    1. grid the first d−1 dims into `cells` buckets per axis (one
       min/max aggregate fixes the bucket width);
    2. per occupied grid cell, take the MIN of the last dim — a
       map-side-combined aggregate, ≤ cells^(d−1) rows (≈4096 by
       default) of bounded driver state;
    3. on the driver, prefix-min the grid so ``M[i…] = min over all
       cells STRICTLY smaller on every grid axis``;
    4. broadcast-hash-join M back on the flat cell index and drop every
       row p with ``M[cell(p)] ≤ p.last``.

    Lossless: M[cell(p)] is the last-dim value of an ACTUAL data point
    q in a strictly-southwest cell, so q < p on every gridded dim
    (cell i′ < i ⇒ q's coord < the cell-i lower edge ≤ p's coord) and
    q.last ≤ p.last — strict Pareto dominance.  Ties, duplicates and
    boundary points are never dropped by a same-cell witness (own and
    same-row/column cells are excluded), only kept less aggressively.

    Cost: two JVM scans (agg + filter-join; both whole-stage codegen,
    the join side broadcast) — no Python, no OR-chain (the sampled
    prefilter's 64-reference predicate falls out of whole-stage
    codegen and runs 20× slower interpreted; measured round 10).  On
    the 100M-point 3-D anti-correlated shell this kills ~90 % of rows
    before the Arrow boundary where 32 sampled dominator points
    managed 33 %.

    Degenerate inputs (a non-finite or constant grid dimension) return
    `df` unchanged — the guard mirrors :func:`grid_prefilter`'s
    witness check.

    Caller contract:
    rows must have COMPLETE dominance vectors — a NaN in the last dim
    compares false against the envelope and would be dropped.  Every
    skyline entry point applies its `_complete` filter first; apply
    the same when using this standalone on dirty data.  Dirty rows can
    never POISON the envelope itself, though (ADVICE r10): the witness
    aggregate excludes rows with a NULL/NaN value in ANY gridded dim
    or in the last dim (a NaN grid coord floor-casts to cell 0 where
    the row could become a witness that does not actually dominate; an
    all-NaN cell would put a NaN in the envelope and silently drop
    every row in strictly-greater cells).  Note a NULL grid coord
    cannot produce a NULL cell id: F.greatest/F.least skip NULLs, so
    the index coerces to axis 0 — safe, because such rows fail the
    witness filter and axis-0 cells never receive a finite envelope
    (ADVICE r11: there is NO null-cell invariant to rely on).
    """
    import numpy as np

    if len(cols) < 2:
        return df
    k = _envelope_cells(len(cols), cells)
    gdims, last = list(cols[:-1]), cols[-1]
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn{i}")
          for i, c in enumerate(gdims)],
        *[F.max(F.col(c).cast("double")).alias(f"mx{i}")
          for i, c in enumerate(gdims)],
    ).first()
    mins, widths = [], []
    for i in range(len(gdims)):
        mn, mx = stats[f"mn{i}"], stats[f"mx{i}"]
        if (mn is None or mx is None
                or not (float("-inf") < mn <= mx < float("inf"))
                or mx == mn):
            return df
        mins.append(float(mn))
        widths.append((float(mx) - float(mn)) / k)

    def cell_idx(c: str, i: int) -> Column:
        raw = F.floor((F.col(c).cast("double") - F.lit(mins[i]))
                      / F.lit(widths[i])).cast("long")
        return F.least(F.greatest(raw, F.lit(0)), F.lit(k - 1))

    flat: Column = F.lit(0)
    for i, c in enumerate(gdims):
        flat = flat * F.lit(k) + cell_idx(c, i)

    lastd = F.col(last).cast("double")
    witness_ok = lastd.isNotNull() & ~F.isnan(lastd)
    for c in gdims:
        cd = F.col(c).cast("double")
        witness_ok = witness_ok & cd.isNotNull() & ~F.isnan(cd)
    cellmins = (df.filter(witness_ok)
                .groupBy(flat.alias("__cell"))
                .agg(F.min(lastd).alias("__m"))
                .collect())
    grid = np.full((k,) * len(gdims), np.inf)
    for r in cellmins:
        grid[np.unravel_index(int(r["__cell"]), grid.shape)] = r["__m"]
    for ax in range(grid.ndim):
        grid = np.minimum.accumulate(grid, axis=ax)
    env = np.full_like(grid, np.inf)
    env[(slice(1, None),) * grid.ndim] = grid[(slice(0, -1),) * grid.ndim]
    idx = np.flatnonzero(np.isfinite(env.ravel()))
    if idx.size == 0:
        return df
    spark = df.sparkSession
    env_df = spark.createDataFrame(
        [(int(i), float(v)) for i, v in zip(idx, env.ravel()[idx])],
        "__cell long, __env double")
    joined = df.join(F.broadcast(env_df), flat == env_df["__cell"],
                     "left")
    return (joined
            .filter(env_df["__env"].isNull()
                    | (F.col(last).cast("double") < env_df["__env"]))
            .select(*df.columns))


def grid_envelope_prefilter_sql(table: str, cols: Sequence[str], *,
                                cells: "int | None" = None) -> str:
    """DuckDB twin of :func:`grid_envelope_prefilter` — identical
    arithmetic (same min/max stats, same floor-bucket mapping, prefix
    min via a cell self-join on strict inequality per grid axis), so
    the filtered multiset matches value-for-value.  Degenerate grids
    are handled by the same guard folded into the predicate: when any
    grid dim is constant or non-finite every row is kept."""
    k = _envelope_cells(len(cols), cells)
    gdims, last = list(cols[:-1]), cols[-1]
    stat_sel = ", ".join(
        [f"min(CAST({c} AS DOUBLE)) AS mn{i}, "
         f"max(CAST({c} AS DOUBLE)) AS mx{i}"
         for i, c in enumerate(gdims)])
    degenerate = " OR ".join(
        [f"s.mn{i} IS NULL OR s.mx{i} IS NULL OR s.mn{i} = s.mx{i} "
         f"OR isinf(s.mn{i}) OR isinf(s.mx{i}) "
         # isnan too (ADVICE r10): a NaN grid dim poisons the min/max
         # stats as NaN; without this DuckDB errors on
         # CAST(floor(NaN) AS BIGINT) while the Spark side's
         # `mn <= mx < inf` guard silently keeps all rows — the twins
         # must fall back to keep-all identically
         f"OR isnan(s.mn{i}) OR isnan(s.mx{i})"
         for i in range(len(gdims))])

    def cell(i: int, c: str, alias: str) -> str:
        # nullif guards the degenerate width: NULL cell ⇒ no env match
        # ⇒ row kept, matching the Spark side's early return
        return (f"least(greatest(CAST(floor((CAST({alias}.{c} AS DOUBLE) "
                f"- s.mn{i}) / nullif((s.mx{i} - s.mn{i}) / {k}, 0)) "
                f"AS BIGINT), 0), {k - 1})")

    t_cells = " , ".join(f"{cell(i, c, 't')} AS c{i}"
                         for i, c in enumerate(gdims))
    strict = " AND ".join(f"w.c{i} < p.c{i}" for i in range(len(gdims)))
    return f"""
WITH __s AS (SELECT {stat_sel} FROM {table}),
__g AS (
  SELECT {t_cells}, min(CAST(t.{last} AS DOUBLE)) AS m
  FROM {table} t, __s s
  GROUP BY {', '.join(f'c{i}' for i in range(len(gdims)))}
),
__env AS (
  SELECT p.{', p.'.join(f'c{i}' for i in range(len(gdims)))},
         min(w.m) AS env
  FROM __g p JOIN __g w ON {strict}
  GROUP BY p.{', p.'.join(f'c{i}' for i in range(len(gdims)))}
)
SELECT t.* FROM {table} t CROSS JOIN __s s
LEFT JOIN __env e
  ON {' AND '.join(f'{cell(i, c, "t")} = e.c{i}'
                   for i, c in enumerate(gdims))}
WHERE ({degenerate}) OR e.env IS NULL
   OR CAST(t.{last} AS DOUBLE) < e.env
""".strip()


def _prune_by_sample(df: DataFrame, cols: Sequence[str], k: int,
                     sample: "list") -> DataFrame:
    """Narrow pass dropping rows with ≥ k dominators among `sample`."""
    import numpy as np

    s = np.asarray([[float(x) for x in r] for r in sample],
                   dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast(s)

    def keep(batches):
        smp = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            b = pdf[list(cols)].to_numpy(dtype=np.float64)
            n_dom = np.zeros(len(b), dtype=np.int64)
            for lo in range(0, len(b), 4096):
                bc_ = b[lo:lo + 4096]
                le = (smp[:, None, :] <= bc_[None, :, :]).all(axis=2)
                lt = (smp[:, None, :] < bc_[None, :, :]).any(axis=2)
                n_dom[lo:lo + 4096] = (le & lt).sum(axis=0)
            out = pdf[n_dom < k]
            if not out.empty:
                yield out

    return df.mapInPandas(keep, schema=df.schema)


def _skyband_prefilter(df: DataFrame, cols: Sequence[str], k: int,
                       sample_size: int = 1024,
                       rounds: int = 8) -> tuple[DataFrame, int | None]:
    """Iteratively shrink `df` toward its k-skyband by sampled pruning.

    Sound candidate reduction for top-k dominating (the k-skyband bound,
    Papadias et al.): a sample dominator IS a dominator, and by
    transitivity each dominator of p dominates everything p dominates
    plus p itself — a strictly larger dominated-count.  So a row with
    ≥ k dominators is outranked by ≥ k rows and cannot be in the top-k.
    ANY sample yields a sound (possibly weaker) prune — the choice
    affects cost only, never the answer.

    One sampled pass only bounds the skyband to dominance-region volume
    ≲ k/m (keeps ~17 % of uniform 3-D at m=1024).  But survivors'
    dominators are themselves survivors (q dom p ⇒ every sample
    dominator of q dominates p too, so p is pruned whenever q is), so
    later rounds RE-SAMPLE FROM THE SURVIVORS — a set far denser in
    dominators — and converge near the true k-skyband: each round is a
    zero-shuffle Arrow pass over the (persisted, shrinking) survivor
    frame; only round 1 scans the full input.

    Returns (candidates, count) — count is the materialized survivor
    count (None only for an empty input fast-path).
    """
    work, n = df, None
    pinned: list[DataFrame] = []
    for r in range(rounds):
        sample = (work.select(*[F.col(c) for c in cols])
                  .limit(sample_size).collect())
        if not sample:
            break
        nxt = _prune_by_sample(work, cols, k, sample).persist()
        m = nxt.count()
        for p in pinned:  # previous round's pin is dead weight now
            p.unpersist(False)
        pinned = [nxt]
        shrunk = n is None or m < n * 0.7
        work, n = nxt, m
        if not shrunk or m <= sample_size:
            break
    work.__dict__["_skyband_pins"] = pinned  # released by the caller
    return work, n


def top_k_dominating(df: DataFrame, cols: Sequence[str], k: int = 10, *,
                     id_cols: Sequence[str] | None = None,
                     prefilter_sample: int | None = 1024) -> DataFrame:
    """The k points dominating the most others; ties broken by `id_cols`.

    Safe by default at scale (VERDICT r3 #6): the theta-join's LEFT
    (candidate) side is first reduced by :func:`_skyband_prefilter` —
    rows with ≥ k dominators in a bounded sample are outside the
    k-skyband and provably not in the answer — so the join is
    |skyband′| × n instead of n², with the small candidate side
    broadcast.  The COUNT side stays the full input (counts must be
    exact), and the reduction never changes the result.  Set
    `prefilter_sample=None` to disable (small inputs / diagnostics);
    the reduced frame is exposed as ``result.skyband_candidates``.

    Requires rows to be unique (give every point a key column): exact
    duplicates collapse into one group and their counts merge.  Pass
    `id_cols` with a unique key for a total output order.
    """
    from ..functions.dominance import dominates

    work, n_cand = df, None
    if prefilter_sample:
        work, n_cand = _skyband_prefilter(df, cols, k, prefilter_sample)
    t, u = work.alias("t"), df.alias("u")
    cond = dominates([F.col(f"t.{c}") for c in cols],
                     [F.col(f"u.{c}") for c in cols])
    if prefilter_sample:
        # BroadcastNLJ only builds the RIGHT side for inner joins, so
        # count via inner join (stream the full input, broadcast the
        # reduced candidates) and complete zero-count candidates with a
        # broadcast equi-join back onto the candidate set.
        # broadcast the reduced candidates unless they are still huge
        # (a weak prune on adversarial data); the count is already
        # materialized by the prefilter's persist.
        bt = F.broadcast(t) if (n_cand or 0) <= 500_000 else t
        matched = (
            u.join(bt, cond, "inner")
            .groupBy(*[F.col(f"t.{c}").alias(c) for c in df.columns])
            .agg(F.count(F.lit(1)).alias("dominated_count"))
        )
        eq = reduce(and_, [
            F.col(f"w.{c}").eqNullSafe(F.col(f"m.{c}")) for c in df.columns
        ])
        counts = (
            work.alias("w")
            .join(F.broadcast(matched.alias("m")), eq, "left")
            .select(*[F.col(f"w.{c}").alias(c) for c in df.columns],
                    F.coalesce(F.col("m.dominated_count"), F.lit(0))
                    .cast("long").alias("dominated_count"))
        )
    else:
        counts = (
            t.join(u, cond, "left")
            .groupBy(*[F.col(f"t.{c}").alias(c) for c in df.columns])
            .agg(F.count(F.col(f"u.{cols[0]}")).alias("dominated_count"))
        )
    order = [F.col("dominated_count").desc()] + [
        F.col(c) for c in (id_cols or [])
    ]
    out = counts.orderBy(*order).limit(k)
    pins = getattr(work, "_skyband_pins", None)
    if pins:
        from .caching import release_on_gc

        out = release_on_gc(out, *pins)
    out.skyband_candidates = work
    return out


def top_k_dominating_sql(table: str, cols: Sequence[str], k: int = 10, *,
                         id_cols: Sequence[str] | None = None) -> str:
    pred = dominance_sql(cols, "t", "u")
    order = "dominated_count DESC" + "".join(
        f", {c}" for c in (id_cols or []))
    return (
        f"SELECT t.*, (SELECT count(*) FROM {table} u WHERE {pred}) "
        f"AS dominated_count FROM {table} t "
        f"ORDER BY {order} LIMIT {k}"
    )


def dynamic_skyline(df: DataFrame, cols: Sequence[str],
                    query_point: Sequence[float]) -> DataFrame:
    """Dynamic skyline w.r.t. a query point (Papadias et al., TODS
    2005): the skyline under the transformed dimensions
    ``|p_i − q_i|`` — "closest to my QoS target in every dimension",
    the personalized variant of the reference's absolute-minimization
    skyline.

    The transform is a narrow Column projection; the skyline runs the
    ordinary decomposable operator on the derived dims, so the scale
    shape is identical to :func:`~..operators.skyline.skyline`.
    Output keeps the ORIGINAL columns.
    """
    from .skyline import skyline

    if len(query_point) != len(cols):
        raise ValueError("query_point must match cols")
    deriv = [f"__dyn_{i}" for i in range(len(cols))]
    t = df.select(
        "*", *[
            F.abs(F.col(c) - F.lit(float(q))).alias(d)
            for c, d, q in zip(cols, deriv, query_point)
        ])
    return skyline(t, deriv).drop(*deriv)


def dynamic_skyline_sql(table: str, cols: Sequence[str],
                        query_point: Sequence[float],
                        select: str | None = None) -> str:
    """DuckDB twin of :func:`dynamic_skyline`."""
    from ..functions.dominance import skyline_not_exists_sql

    deriv = [f"__dyn_{i}" for i in range(len(cols))]
    inner = ", ".join(
        f"abs({c} - {float(q)!r}) AS {d}"
        for c, d, q in zip(cols, deriv, query_point))
    keep = select or "t.* EXCLUDE (" + ", ".join(deriv) + ")"
    return skyline_not_exists_sql(
        f"(SELECT *, {inner} FROM {table})", deriv, select=keep)


def _eps_vec(eps, cols: Sequence[str]) -> "list[float]":
    v = ([float(eps)] * len(cols)
         if isinstance(eps, (int, float)) else [float(e) for e in eps])
    if len(v) != len(cols) or any(e < 0 for e in v):
        raise ValueError("eps must be a scalar or per-dim non-negative "
                         "vector matching cols")
    return v


def _broadcast_eliminate(df: DataFrame, cand: DataFrame,
                         cond: Column) -> DataFrame:
    """Candidates-first elimination shared by the non-transitive
    variants (ε-skyline, k-dominant): stream the FULL input `df`
    (alias ``u``) against the BROADCAST candidate set (alias ``c``) on
    `cond`, collapse the matched candidates, and anti-join them out —
    n × |cand| work, never n²."""
    c, u = cand.alias("c"), df.alias("u")
    dominated = (
        u.join(F.broadcast(c), cond, "inner")
        .select(*[F.col(f"c.{x}").alias(x) for x in cand.columns])
        .distinct()
    )
    eq = reduce(and_, [
        F.col(f"c.{x}").eqNullSafe(F.col(f"d.{x}")) for x in cand.columns
    ])
    return (cand.alias("c")
            .join(dominated.alias("d"), eq, "left_anti"))


def epsilon_skyline(df: DataFrame, cols: Sequence[str],
                    eps) -> DataFrame:
    """ε-skyline (Koltun & Papadimitriou's ε-dominance, as used for
    QoS): q ε-dominates p when ``q_i ≤ p_i + ε_i`` in every dimension
    and ``q_i < p_i + ε_i`` in at least one — points that are beaten
    "within tolerance ε" are dropped, thinning the dense frontiers the
    reference's 4-D anti-correlated regime produces (PDF §5.4's
    optimality collapse).  ε = 0 reduces to the ordinary skyline;
    `eps` may be a scalar or a per-dimension vector (mixed-scale dims
    need per-dim tolerances or one dimension's ε swamps another).

    ε-dominance is NOT transitive, so the result is computed like the
    k-dominant skyline: the ordinary skyline always CONTAINS the
    ε-skyline (ε-dominance is weaker than dominance ⇒ more points are
    eliminated), so candidates = skyline(df), then one pass of the
    FULL input against the broadcast candidates removes ε-dominated
    survivors — n × |skyline|, never n².
    """
    ev = _eps_vec(eps, cols)
    from .skyline import skyline

    cand = skyline(df, cols)
    all_le = reduce(and_, [
        F.col(f"u.{x}") <= F.col(f"c.{x}") + e for x, e in zip(cols, ev)])
    any_lt = reduce(or_, [
        F.col(f"u.{x}") < F.col(f"c.{x}") + e for x, e in zip(cols, ev)])
    # "self" is DIM-value identity (a point never eliminates its exact
    # duplicate) — key columns are deliberately excluded so semantics
    # don't change when an id rides along
    not_self = reduce(or_, [
        F.col(f"u.{x}") != F.col(f"c.{x}") for x in cols])
    return _broadcast_eliminate(df, cand, all_le & any_lt & not_self)


def epsilon_skyline_sql(table: str, cols: Sequence[str],
                        eps) -> str:
    """DuckDB twin of :func:`epsilon_skyline` (same candidates-first
    reduction)."""
    from ..functions.dominance import skyline_not_exists_sql

    ev = _eps_vec(eps, cols)
    all_le = " AND ".join(
        f"u.{c} <= t.{c} + {e!r}" for c, e in zip(cols, ev))
    any_lt = " OR ".join(
        f"u.{c} < t.{c} + {e!r}" for c, e in zip(cols, ev))
    cand = skyline_not_exists_sql(table, cols)
    not_self = " OR ".join(f"u.{c} <> t.{c}" for c in cols)
    return (
        f"WITH cand AS ({cand}) SELECT t.* FROM cand t WHERE NOT EXISTS ("
        f"SELECT 1 FROM {table} u WHERE ({all_le}) AND ({any_lt}) "
        f"AND ({not_self}))"
    )


def thick_skyline(df: DataFrame, cols: Sequence[str],
                  eps) -> DataFrame:
    """Thick (ε-approximate) skyline: every point NOT beaten by a clear
    margin — q margin-dominates p when ``q_i ≤ p_i − ε_i`` in every
    dimension and strictly in one.  A SUPERSET of the skyline ("all
    services within ε of Pareto-optimal"), never empty, the dual of
    :func:`epsilon_skyline`'s thinning.

    Margin-dominance is transitive and any margin-dominator is itself
    plainly dominated only by other margin-dominators, so p is
    margin-dominated iff some PLAIN-skyline member margin-dominates
    it.  Scale shape: broadcast the (small) plain skyline, one
    anti-join pass over the full input — n × |skyline|, never n², and
    the corpus is never shuffled.
    """
    ev = _eps_vec(eps, cols)
    from .skyline import _complete, skyline

    df = _complete(df, cols)  # one NULL/NaN semantics, like every entry
    sky = skyline(df, cols).select(
        *[F.col(x).alias(f"__s_{x}") for x in cols]).distinct()
    cond = reduce(and_, [
        F.col(f"__s_{x}") <= F.col(x) - e for x, e in zip(cols, ev)
    ]) & reduce(or_, [
        F.col(f"__s_{x}") < F.col(x) - e for x, e in zip(cols, ev)
    ])
    return df.join(F.broadcast(sky), cond, "left_anti")


def thick_skyline_sql(table: str, cols: Sequence[str], eps) -> str:
    """DuckDB twin of :func:`thick_skyline` (same skyline-reduction:
    a margin-dominated point is margin-dominated by a skyline member,
    so the NOT EXISTS probes |skyline| rows, not n)."""
    from ..functions.dominance import skyline_not_exists_sql

    ev = _eps_vec(eps, cols)
    all_le = " AND ".join(
        f"u.{c} <= t.{c} - {e!r}" for c, e in zip(cols, ev))
    any_lt = " OR ".join(
        f"u.{c} < t.{c} - {e!r}" for c, e in zip(cols, ev))
    sky = skyline_not_exists_sql(table, cols)
    nn = " AND ".join(
        f"{c} IS NOT NULL AND NOT isnan(cast({c} AS DOUBLE))"
        for c in cols)
    return (
        f"WITH __sky AS ({sky}) "
        f"SELECT t.* FROM (SELECT * FROM {table} WHERE {nn}) t "
        f"WHERE NOT EXISTS ("
        f"SELECT 1 FROM __sky u WHERE ({all_le}) AND ({any_lt}))"
    )


def _subspaces(cols: Sequence[str]):
    """All non-empty subsets of `cols`, in mask order (the literature's
    cuboid enumeration); each as (label, columns)."""
    out = []
    for mask in range(1, 1 << len(cols)):
        sub = [c for i, c in enumerate(cols) if mask & (1 << i)]
        out.append((",".join(sub), sub))
    return out


def skycube(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """The skycube (Pei/Yuan et al., VLDB 2005): the skyline of EVERY
    non-empty subspace of `cols`, each row tagged with its subspace
    label — the pre-computed answer set for "skyline on any dimension
    combination" dashboards.

    2^d − 1 cuboids; meant for the reference's d ≤ 4 regime.  Each
    cuboid runs the decomposable two-phase skyline operator (narrow
    local prune → survivor merge) over the PINNED input (union branches
    do not share scans, so the source is persisted once and released
    when the result is dropped) — ties are kept per-cuboid, and no
    cuboid's answer is derived from another's (subset-sharing is
    unsound under ties).
    """
    from .caching import release_on_gc
    from .skyline import skyline

    # pin the input once: union branches do NOT share scans, so without
    # the cache each of the 2^d−1 cuboids would re-read the source
    pinned = df.persist()
    parts = []
    for label, sub in _subspaces(cols):
        parts.append(
            skyline(pinned, sub).withColumn("subspace", F.lit(label)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return release_on_gc(out, pinned)


def skycube_sql(table: str, cols: Sequence[str]) -> str:
    """DuckDB twin of :func:`skycube` (UNION ALL of per-cuboid
    NOT-EXISTS skylines)."""
    from ..functions.dominance import skyline_not_exists_sql

    parts = [
        f"SELECT *, '{label}' AS subspace FROM "
        f"({skyline_not_exists_sql(table, sub)})"
        for label, sub in _subspaces(cols)
    ]
    return "\nUNION ALL\n".join(parts)


def k_skyband(df: DataFrame, cols: Sequence[str], k: int = 2, *,
              prefilter_sample: int | None = 1024) -> DataFrame:
    """Points with fewer than `k` dominators, with their exact
    dominator count: (input columns…, dominator_count).

    k = 1 degenerates to the skyline; larger k is the "best k choices
    even if one is taken" QoS relaxation.  Requires rows to be unique
    (include a key column), as for :func:`top_k_dominating`.

    Scale shape: the same sound sampled reduction as top-k dominating
    (:func:`_skyband_prefilter` — a row with ≥ k dominators in ANY
    sample is outside the k-skyband), then ONE exact pass: the full
    input streams against the broadcast candidate set counting
    dominators per candidate, so the theta join is n × |skyband′|, not
    n², and the corpus is never shuffled on a data-dependent key.
    """
    from ..functions.dominance import dominates

    work, n_cand = df, None
    if prefilter_sample:
        work, n_cand = _skyband_prefilter(df, cols, k, prefilter_sample)
    t, u = work.alias("t"), df.alias("u")
    cond = dominates([F.col(f"u.{c}") for c in cols],
                     [F.col(f"t.{c}") for c in cols])
    bt = F.broadcast(t) if (n_cand or 0) <= 500_000 else t
    matched = (
        u.join(bt, cond, "inner")
        .groupBy(*[F.col(f"t.{c}").alias(c) for c in df.columns])
        .agg(F.count(F.lit(1)).alias("dominator_count"))
    )
    eq = reduce(and_, [
        F.col(f"w.{c}").eqNullSafe(F.col(f"m.{c}")) for c in df.columns
    ])
    out = (
        work.alias("w")
        .join(F.broadcast(matched.alias("m")), eq, "left")
        .select(*[F.col(f"w.{c}").alias(c) for c in df.columns],
                F.coalesce(F.col("m.dominator_count"), F.lit(0))
                .cast("long").alias("dominator_count"))
        .filter(F.col("dominator_count") < k)
    )
    pins = getattr(work, "_skyband_pins", None)
    if pins:
        from .caching import release_on_gc

        out = release_on_gc(out, *pins)
    return out


def k_skyband_sql(table: str, cols: Sequence[str], k: int = 2) -> str:
    """DuckDB twin of :func:`k_skyband` (correlated dominator count)."""
    pred = dominance_sql(cols, "u", "t")
    return (
        f"SELECT * FROM (SELECT t.*, "
        f"(SELECT count(*) FROM {table} u WHERE {pred})::BIGINT "
        f"AS dominator_count FROM {table} t) "
        f"WHERE dominator_count < {k}"
    )


def _k_dominates(a_cols, b_cols, k: int):
    """a k-dominates b: a ≤ b in ≥ k dims AND a < b in ≥ 1 dim AND
    a ≤ b wherever a < b counts — the Chan et al. definition reduces to
    (#{a_i ≤ b_i} ≥ k) ∧ (#{a_i < b_i} ≥ 1) when comparing a's best k
    subspace (any k dims where a ≤ b include every dim where a < b that
    we may pick; a strict dim is itself a ≤ dim)."""
    n_le = reduce(F.Column.__add__, [
        F.when(x <= y, 1).otherwise(0) for x, y in zip(a_cols, b_cols)
    ])
    n_lt = reduce(F.Column.__add__, [
        F.when(x < y, 1).otherwise(0) for x, y in zip(a_cols, b_cols)
    ])
    return (n_le >= k) & (n_lt >= 1)


def k_dominant_skyline(df: DataFrame, cols: Sequence[str],
                       k: int) -> DataFrame:
    """Points not k-dominated by any other point (k < dims relaxes;
    k == dims reduces to the ordinary skyline).

    Scale shape: full dominance implies k-dominance, so the k-dominant
    skyline ⊆ ordinary skyline.  Compute the (small, decomposable)
    skyline first, then stream the FULL input once against the
    broadcast candidates — k-dominance is non-transitive, so dominators
    must be sought in the whole input, but candidates need not be.
    """
    if not 1 <= k <= len(cols):
        raise ValueError("need 1 <= k <= len(cols)")
    from .skyline import skyline

    cand = skyline(df, cols)
    cond = _k_dominates([F.col(f"u.{x}") for x in cols],
                        [F.col(f"c.{x}") for x in cols], k)
    return _broadcast_eliminate(df, cand, cond)


def _rsl_prune_fn(cols: Sequence[str], q: Sequence[float]):
    """Per-batch local prune for :func:`reverse_skyline`: drop every
    point disqualified by another point IN THE SAME BATCH (a local
    disqualifier is a global one — sound, never lossy)."""
    import numpy as np

    qv = np.asarray(q, dtype=float)

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n <= 1:
                yield pdf
                continue
            X = pdf[list(cols)].to_numpy(dtype=float)
            U = np.abs(X - qv)              # per-point box half-widths
            killed = np.zeros(n, dtype=bool)
            step = max(1, 4_000_000 // max(1, n * X.shape[1]))
            for s in range(0, n, step):
                e = min(s + step, n)
                D = np.abs(X[:, None, :] - X[None, s:e, :])
                leq = (D <= U[None, s:e, :]).all(axis=-1)
                lt = (D < U[None, s:e, :]).any(axis=-1)
                kill = leq & lt
                rng = np.arange(s, e)
                kill[rng, rng - s] = False  # a row never kills itself
                killed[s:e] = kill.any(axis=0)
            yield pdf[~killed]

    return fn


def reverse_skyline(df: DataFrame, cols: Sequence[str],
                    query_point: Sequence[float], *, id_col: str,
                    num_partitions: int = 32) -> DataFrame:
    """Monochromatic reverse skyline of `query_point` (Dellis & Seeger,
    VLDB 2007): the points p for which q belongs to the DYNAMIC skyline
    centered at p — i.e. no other point r satisfies
    ``|r_i − p_i| ≤ |q_i − p_i|`` in every dimension with strict ``<``
    in at least one.  "Which service profiles would consider offer q
    Pareto-relevant?" — the seller-side companion of
    :func:`dynamic_skyline` (the buyer-side personalization).

    Scale shape (a local prune, then a verify against broadcast
    survivors, adapted to the non-transitive reverse predicate):

    1. range-repartition on (orthant of p−q, first dim) so nearby
       points — each other's likeliest disqualifiers — share batches;
    2. local prune (Arrow batch kernel): any same-batch disqualifier
       removes p.  Sound but not complete: reverse dominance is not
       transitive, and a pruned point may still disqualify others;
    3. global verify: stream the FULL input once against the broadcast
       survivor set (n × |survivors| work, never n²) and anti-join the
       disqualified survivors out.

    `id_col` must be unique per row; duplicate COORDINATES are still
    handled per the definition (two coincident points disqualify each
    other unless they equal q).
    """
    if len(query_point) != len(cols):
        raise ValueError("query_point must match cols")
    q = [float(v) for v in query_point]

    orth = None
    for i, c in enumerate(cols):
        bit = F.when(F.col(c) >= F.lit(q[i]), F.lit(1 << i)).otherwise(0)
        orth = bit if orth is None else orth + bit
    parted = (df.withColumn("__orth", orth)
              .repartitionByRange(num_partitions, "__orth", cols[0]))
    pruned = parted.mapInPandas(_rsl_prune_fn(cols, q), parted.schema) \
        .drop("__orth")

    strict = reduce(or_, [
        F.abs(F.col(f"u.{c}") - F.col(f"c.{c}"))
        < F.abs(F.lit(q[i]) - F.col(f"c.{c}"))
        for i, c in enumerate(cols)])
    cond = reduce(and_, [
        F.abs(F.col(f"u.{c}") - F.col(f"c.{c}"))
        <= F.abs(F.lit(q[i]) - F.col(f"c.{c}"))
        for i, c in enumerate(cols)] + [
        strict, F.col(f"u.{id_col}") != F.col(f"c.{id_col}")])
    return _broadcast_eliminate(df, pruned, cond)


def reverse_skyline_sql(table: str, cols: Sequence[str],
                        query_point: Sequence[float], *,
                        id_col: str) -> str:
    """DuckDB twin of :func:`reverse_skyline` — the direct NOT EXISTS
    statement of the definition."""
    q = [float(v) for v in query_point]
    leq = " AND ".join(
        f"abs(r.{c} - p.{c}) <= abs({q[i]!r} - p.{c})"
        for i, c in enumerate(cols))
    lt = " OR ".join(
        f"abs(r.{c} - p.{c}) < abs({q[i]!r} - p.{c})"
        for i, c in enumerate(cols))
    return (
        f"SELECT p.* FROM {table} p WHERE NOT EXISTS ("
        f"SELECT 1 FROM {table} r WHERE r.{id_col} <> p.{id_col} "
        f"AND {leq} AND ({lt}))"
    )


def k_dominant_skyline_sql(table: str, cols: Sequence[str], k: int) -> str:
    """DuckDB twin, same candidates-first reduction (O(n·|skyline|))."""
    from ..functions.dominance import skyline_not_exists_sql

    n_le = " + ".join(
        f"CASE WHEN u.{c} <= c.{c} THEN 1 ELSE 0 END" for c in cols)
    n_lt = " + ".join(
        f"CASE WHEN u.{c} < c.{c} THEN 1 ELSE 0 END" for c in cols)
    cand = skyline_not_exists_sql(table, cols)
    return (
        f"WITH cand AS ({cand}) SELECT c.* FROM cand c WHERE NOT EXISTS ("
        f"SELECT 1 FROM {table} u "
        f"WHERE ({n_le}) >= {k} AND ({n_lt}) >= 1)"
    )


def representative_skyline(df: DataFrame, cols: Sequence[str], k: int,
                           *, id_col: str) -> DataFrame:
    """Distance-based representative skyline (Tao et al., ICDE 2009):
    the k skyline points minimizing the maximum Euclidean distance
    from any skyline point to its nearest representative — "show me k
    offers that between them stand in for the whole Pareto frontier",
    the summary answer a 604k-row 100M-point frontier needs before a
    human can look at it.  Computed with the greedy farthest-point
    heuristic (Gonzalez 1985), the standard 2-approximation of the
    k-center objective.

    Fully deterministic: the seed is the min-(sum dims, id) skyline
    point, each next representative is the point FARTHEST from the
    chosen set (squared distance; ties broken by dim-sum then id), so
    the DuckDB twin — the same greedy unrolled as k chained CTEs — is
    exact, not approximate-vs-approximate.  Distances stay SQUARED
    end-to-end (monotone in the metric, so the argmax and the greedy
    are unchanged) keeping ``sqrt`` out of the cross-engine path.
    If k exceeds the number of distinct frontier coordinates the
    remaining ranks repeat the seed-ordered coverage-0 points (both
    engines pick via the identical tie-break, so parity holds).

    Returns (rep_rank, id, *cols, radius2) where ``radius2`` is the
    attained squared cover radius over the whole skyline, rounded to
    6 places — the k-center objective value, reported so the caller
    can judge whether k was enough.

    Scale shape: the skyline itself is computed by the decomposable
    two-phase operator; the greedy then runs k-1 TakeOrdered passes +
    one max-aggregate over the PERSISTED frontier with the current
    centers inlined as literals (driver state is O(k·d), each pass
    is map-side, nothing shuffles but one top-1 per pass).  Mixed-unit
    dimensions should be pre-scaled by the caller; raw Euclidean
    follows the paper.
    """
    from functools import reduce as _reduce
    from operator import add as _add

    from .skyline import skyline as _skyline

    if k < 1:
        raise ValueError("k must be >= 1")
    cols = list(cols)
    sky = _skyline(df.select(id_col, *cols), cols).persist()
    try:
        ssum = _reduce(_add, [F.col(c) for c in cols])

        def d2(center) -> Column:
            return _reduce(_add, [
                (F.col(c) - F.lit(float(center[c])))
                * (F.col(c) - F.lit(float(center[c]))) for c in cols])

        centers = sky.orderBy(ssum.asc(), F.col(id_col).asc()) \
                     .limit(1).collect()
        if not centers:
            spark = df.sparkSession
            schema = sky.schema.add("rep_rank", "integer").add(
                "radius2", "double")
            return spark.createDataFrame([], schema).select(
                "rep_rank", id_col, *cols, "radius2")
        while len(centers) < k:
            mind = (d2(centers[0]) if len(centers) == 1
                    else F.least(*[d2(c) for c in centers]))
            centers.append(
                sky.orderBy(mind.desc(), ssum.asc(),
                            F.col(id_col).asc()).limit(1).collect()[0])
        mind = (d2(centers[0]) if len(centers) == 1
                else F.least(*[d2(c) for c in centers]))
        radius2 = sky.agg(F.round(F.max(mind), 6)).collect()[0][0]
    finally:
        sky.unpersist()
    spark = df.sparkSession
    schema = sky.schema.add("rep_rank", "integer").add("radius2", "double")
    rows = [tuple(c) + (i + 1, float(radius2))
            for i, c in enumerate(centers)]
    return spark.createDataFrame(rows, schema).select(
        "rep_rank", id_col, *cols, "radius2")


def representative_skyline_sql(table: str, cols: Sequence[str], k: int,
                               *, id_col: str) -> str:
    """DuckDB twin of :func:`representative_skyline` — the same greedy
    unrolled as k chained argmax CTEs over the NOT-EXISTS skyline."""
    from ..functions.dominance import skyline_not_exists_sql

    cols = list(cols)
    proj = ", ".join([id_col] + cols)
    ssum_s = " + ".join(f"s.{c}" for c in cols)

    def d2(a: str, b: str) -> str:
        return " + ".join(f"({a}.{c} - {b}.{c}) * ({a}.{c} - {b}.{c})"
                          for c in cols)

    ctes = [
        f"sky AS ({skyline_not_exists_sql(table, cols)})",
        f"c1 AS (SELECT {proj} FROM sky "
        f"ORDER BY {' + '.join(cols)}, {id_col} LIMIT 1)",
    ]
    for i in range(2, k + 1):
        prev = [f"c{j}" for j in range(1, i)]
        mind = (d2("s", prev[0]) if len(prev) == 1 else
                "least(" + ", ".join(d2("s", p) for p in prev) + ")")
        scols = ", ".join(f"s.{c}" for c in [id_col] + cols)
        ctes.append(
            f"c{i} AS (SELECT {scols} FROM sky s, {', '.join(prev)} "
            f"ORDER BY ({mind}) DESC, ({ssum_s}), s.{id_col} LIMIT 1)")
    allc = [f"c{j}" for j in range(1, k + 1)]
    mind = (d2("s", "c1") if k == 1 else
            "least(" + ", ".join(d2("s", p) for p in allc) + ")")
    ctes.append(
        f"rad AS (SELECT round(max({mind}), 6) AS radius2 "
        f"FROM sky s, {', '.join(allc)})")
    sel = " UNION ALL ".join(
        f"SELECT {i} AS rep_rank, {', '.join(f'c{i}.{c}' for c in [id_col] + cols)}, "
        f"rad.radius2 FROM c{i}, rad" for i in range(1, k + 1))
    return "WITH " + ",\n".join(ctes) + "\n" + sel
