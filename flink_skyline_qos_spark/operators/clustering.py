"""Integer-exact link rank over a directed edge list.

:func:`link_rank` is a truncated PageRank on an integer grid, so its
answer is identical across engines, runs and partitionings, and
:func:`link_rank_sql` is its DuckDB twin.  This is the last remainder
of the graph operators; it is not part of the skyline engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .caching import release_on_gc

__all__ = ["link_rank", "link_rank_sql"]


def link_rank(edges: DataFrame, *, src: str = "src", dst: str = "dst",
              iterations: int = 3, damping: "tuple[int, int]" = (85, 100),
              scale: int = 10 ** 12) -> DataFrame:
    """PageRank-style link centrality in EXACT integer arithmetic —
    deterministic across engines, runs, and partitionings (a
    double-summed PageRank is partial-order-dependent in its last
    ulps, so it could never be value-oracled).

    Ranks live on an integer grid of 1/`scale`: r₀ = ⌊scale/n⌋ and
    each iteration computes

        r'(u) = ⌊(1−d)·scale/n⌋ + ⌊d · Σ_{v→u} ⌊r(v)/outdeg(v)⌋⌋

    with d = damping[0]/damping[1] applied as integer multiply-then-
    floor-divide.  Mass at dangling nodes (no out-edges) is dropped —
    the standard simplification; ranks then UNDER-estimate slightly
    rather than shift unpredictably.  Quantization error vs the real-
    valued recurrence is ≤ iterations·(1+indegree)/scale.

    Scale shape: per iteration one equi-join of edges to ranks on the
    source key plus one map-side-combined sum keyed on the target —
    the canonical Pregel step as two hash exchanges; no driver-side
    graph state (only the node count, one scalar).  `iterations` is a
    fixed small constant (link-quality signals for corpus filtering
    use truncated PageRank, not convergence).

    Output: ``node, rank_int, rank`` (rank = rank_int/scale as DOUBLE,
    one exact division).
    """
    d_num, d_den = int(damping[0]), int(damping[1])
    if not 0 < d_num < d_den:
        raise ValueError("damping must satisfy 0 < num < den")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = _canon_directed(edges, src, dst).persist()
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    n = nodes.count()
    if n == 0:
        empty = nodes.select(
            F.col("node"), F.lit(0).cast("long").alias("rank_int"),
            F.lit(0.0).alias("rank"))
        return release_on_gc(empty, e, nodes)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__od"))
    e_od = e.join(outdeg, on="src").persist()
    r0 = scale // n
    base = ((d_den - d_num) * scale // d_den) // n
    ranks = nodes.withColumn("__r", F.lit(r0).cast("long"))
    pinned = [e, nodes, e_od]
    last_pinned_ranks = None  # the rank frame persisted 4 rounds ago
    for it in range(1, iterations + 1):
        contribs = (
            e_od.join(ranks.withColumnRenamed("node", "src"), on="src")
            .select(F.col("dst").alias("node"),
                    F.expr("__r div __od").alias("__c")))
        summed = contribs.groupBy("node").agg(F.sum("__c").alias("__s"))
        ranks = (nodes.join(summed, on="node", how="left")
                 .select("node",
                         (F.lit(base)
                          + F.expr(f"({d_num} * coalesce(__s, 0L)) "
                                   f"div {d_den}")).alias("__r")))
        # Materialize every 4th iteration only: a 4-deep join/agg chain
        # is well within Catalyst's comfort (materializing EVERY round
        # paid a driver job each — half the operator's wall time at
        # small scale), while unbounded chains grow analysis time
        # exponentially.  The final iteration stays lazy; the caller's
        # action runs the ≤3 remaining rounds in one job.
        if it % 4 == 0 and it < iterations:
            ranks = ranks.persist()
            ranks.count()
            if last_pinned_ranks is not None:
                # the rank frame persisted 4 rounds ago is fully
                # consumed by the chain just materialized — release
                # eagerly (ordinary persist: lineage survives, a cache
                # miss would recompute from the new persisted frame)
                pinned.remove(last_pinned_ranks)
                last_pinned_ranks.unpersist(False)
            last_pinned_ranks = ranks
            pinned.append(ranks)
    out = ranks.select(
        F.col("node"), F.col("__r").alias("rank_int"),
        (F.col("__r").cast("double") / F.lit(float(scale))).alias("rank"))
    return release_on_gc(out, *pinned)


def _canon_directed(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct non-null directed edges, self-loops dropped."""
    a, b = F.col(src), F.col(dst)
    return (edges.filter(a.isNotNull() & b.isNotNull() & (a != b))
            .select(a.alias("src"), b.alias("dst")).distinct())


def link_rank_sql(edges_sql: str, *, iterations: int = 3,
                  damping: "tuple[int, int]" = (85, 100),
                  scale: int = 10 ** 12) -> str:
    """DuckDB twin of :func:`link_rank` — the same integer recurrence
    as chained CTEs (`//` ≡ Spark's `div` on the non-negative ranks)."""
    d_num, d_den = int(damping[0]), int(damping[1])
    ctes = [
        f"__e AS (SELECT DISTINCT src, dst FROM ({edges_sql}) "
        f"WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)",
        "__nodes AS (SELECT src AS node FROM __e "
        "UNION SELECT dst FROM __e)",
        "__n AS (SELECT count(*) AS n FROM __nodes)",
        "__od AS (SELECT src, count(*) AS od FROM __e GROUP BY src)",
        f"__r0 AS (SELECT node, {scale} // n AS r FROM __nodes, __n)",
    ]
    prev = "__r0"
    for i in range(1, iterations + 1):
        cur = f"__r{i}"
        ctes.append(
            f"{cur} AS (SELECT nd.node, "
            f"((({d_den - d_num}) * {scale} // {d_den}) // n) + "
            f"(({d_num} * coalesce(s.s, 0)) // {d_den}) AS r "
            f"FROM __nodes nd CROSS JOIN __n LEFT JOIN ("
            f"SELECT e.dst AS node, sum(p.r // o.od) AS s "
            f"FROM __e e JOIN {prev} p ON e.src = p.node "
            f"JOIN __od o ON e.src = o.src GROUP BY e.dst) s "
            f"ON nd.node = s.node)")
        prev = cur
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, CAST(r AS BIGINT) AS rank_int, "
              f"CAST(r AS DOUBLE) / {float(scale)!r} AS rank FROM {prev}")
