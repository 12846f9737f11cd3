"""Changelog compaction: latest-record-per-key (CDC upsert collapse).

The most common pre-join normalization in a 100 TB pipeline: a table
arrives as an append-only changelog (CDC events, re-crawled documents,
re-scored quality signals) and every consumer wants only each key's
LATEST version.  One hash shuffle on the key, `max_by` over a TOTAL
order — the order must include a tiebreak, because "some arbitrary
row among equal timestamps" is not reproducible across runs or
engines.

Scale shape: implemented as ``max_by(struct(payload), struct(order))``
— a declarative aggregate with map-side partial combine, so each
mapper first collapses its own partition to one candidate per key and
the EXCHANGE carries ≤ one row per (key, partition), independent of
version count.  The equivalent window ``row_number() = 1`` plan
shuffles every version of every key through the exchange before its
sort.  (Struct-ordered max_by is planned as SortAggregate — a local
sort by group key on each side of the tiny exchange — which is the
price of the total order; the bandwidth shape is what matters at
100 TB.)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["latest_by_key", "latest_by_key_sql"]


def latest_by_key(df: DataFrame, keys: Sequence[str] | str, *,
                  order_col: str, tiebreak: str) -> DataFrame:
    """Keep each key's single latest row: the row maximizing
    ``(order_col, tiebreak)``.  `tiebreak` must make the order total
    (e.g. a unique event id); equal-timestamp ties are then resolved
    identically on every engine and every run.

    Output columns = input columns (original order).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    payload = [c for c in df.columns if c not in keys]
    if order_col in keys or tiebreak in keys:
        raise ValueError("order_col/tiebreak must not be key columns")
    picked = (
        df.groupBy(*keys)
        .agg(F.max_by(
            F.struct(*payload),
            F.struct(F.col(order_col), F.col(tiebreak))).alias("__v"))
    )
    return picked.select(
        *[F.col(c) if c in keys else F.col(f"__v.{c}").alias(c)
          for c in df.columns])


def latest_by_key_sql(table: str, cols: Sequence[str],
                      keys: Sequence[str] | str, *,
                      order_col: str, tiebreak: str) -> str:
    """DuckDB twin — the window formulation (`row_number() = 1` over
    the same total order), provably equal to the aggregate form because
    the order is total."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    sel = ", ".join(cols)
    return (
        f"SELECT {sel} FROM (SELECT {sel}, row_number() OVER ("
        f"PARTITION BY {', '.join(keys)} "
        f"ORDER BY {order_col} DESC, {tiebreak} DESC) AS __rn "
        f"FROM {table}) WHERE __rn = 1"
    )
