"""Pareto-dominance predicate — the core algebra of the engine.

Semantics (minimization, strict) mirror the reference
(`/root/reference/java/org.main/ServiceTuple.java:67-77`):
A dominates B  ⟺  A ≤ B in every dimension AND A < B in at least one.
Ties (A == B in all dims) do NOT dominate — duplicates all survive.

Everything here is a Column-expression builder (JVM-side, codegen'd);
no Python UDFs.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_
from typing import Sequence

from pyspark.sql import Column


def dominates(a: Sequence[Column], b: Sequence[Column]) -> Column:
    """Column predicate: point `a` strictly Pareto-dominates point `b`.

    `a` and `b` are parallel sequences of dimension columns (minimization
    on every dimension).
    """
    if len(a) != len(b) or not a:
        raise ValueError("dominates() needs two equal-length non-empty column lists")
    all_le = reduce(and_, [x <= y for x, y in zip(a, b)])
    any_lt = reduce(or_, [x < y for x, y in zip(a, b)])
    return all_le & any_lt


def dominance_sql(cols: Sequence[str], a: str = "u", b: str = "t") -> str:
    """ANSI-SQL text of the same predicate: `a` dominates `b`.

    Used to build DuckDB-oracle queries; keep in exact sync with
    :func:`dominates`.
    """
    all_le = " AND ".join(f"{a}.{c} <= {b}.{c}" for c in cols)
    any_lt = " OR ".join(f"{a}.{c} < {b}.{c}" for c in cols)
    return f"({all_le}) AND ({any_lt})"


def skyline_not_exists_sql(table: str, cols: Sequence[str], extra_pred: str = "",
                           select: str = "*", *,
                           partition_by: Sequence[str] | None = None,
                           prefilter: bool = True) -> str:
    """Canonical SQL skyline: ``SELECT .. FROM t WHERE NOT EXISTS (dominator)``.

    `partition_by` computes the skyline within each group (grouped or
    per-space-partition skylines); `extra_pred` adds a raw predicate to
    the dominator search.

    With `prefilter` (default), an EXACT pivot prune is applied first:
    let P be any row minimizing sum(cols) (per group); drop every row P
    dominates, then run NOT-EXISTS within the survivors C.  Lossless:
    skyline members are dominated by nothing, so they survive into C;
    and if q ∉ C dominates p ∈ C then P dom q dom p ⇒ P dom p (strict
    Pareto dominance is transitive) ⇒ p ∉ C — so every dominator of a
    C-member is itself in C.  This turns the O(n²) nested loop into
    O(n·|pivots|) + O(|C|²); on real (non-adversarial) data |C| ≪ n.

    `extra_pred` forces `prefilter` off: a dominator-restricting
    predicate breaks the transitivity argument above (the pivot prune
    would drop rows whose only dominators are NON-qualifying pivots),
    so the prune is only sound when every dominator qualifies.

    Rows with a NULL or NaN in any dominance dimension are excluded up
    front — the same complete-vectors semantics every Spark strategy
    applies (`operators.skyline._complete`): three-valued logic would
    otherwise keep an all-NULL row that the NumPy kernel drops, and
    NaN ordering diverges between the engines.
    """
    nn = " AND ".join(
        f"{c} IS NOT NULL AND NOT isnan(cast({c} AS DOUBLE))"
        for c in cols)
    table = f"(SELECT * FROM {table} WHERE {nn})"
    pred = dominance_sql(cols, "u", "t")
    grp = ""
    if partition_by:
        grp = " AND ".join(f"u.{g} = t.{g}" for g in partition_by) + " AND "
    extra = f"{extra_pred} AND " if extra_pred else ""
    if extra_pred:
        prefilter = False
    if not prefilter:
        return (
            f"SELECT {select} FROM {table} t WHERE NOT EXISTS "
            f"(SELECT 1 FROM {table} u WHERE {grp}{extra}{pred})"
        )
    # Pivot set: per group, the argmin row of each dimension (sum as
    # tie-break) plus the min-sum row — d+1 rows that between them
    # dominate the bulk of any realistic distribution.
    sum_cols = " + ".join(cols)
    part = f"PARTITION BY {', '.join(partition_by)} " if partition_by else ""
    orders = [f"{c}, {sum_cols}" for c in cols] + [sum_cols]
    pivot_selects = [
        f"SELECT * FROM (SELECT *, row_number() OVER ({part}ORDER BY {o}) "
        f"AS __rn FROM {table}) WHERE __rn = 1"
        for o in orders
    ]
    pivots = "(" + " UNION ALL ".join(pivot_selects) + ")"
    c = (
        f"(SELECT t.* FROM {table} t WHERE NOT EXISTS "
        f"(SELECT 1 FROM {pivots} u WHERE {grp}{pred}))"
    )
    return (
        f"SELECT {select} FROM {c} t WHERE NOT EXISTS "
        f"(SELECT 1 FROM {c} u WHERE {grp}{extra}{pred})"
    )
