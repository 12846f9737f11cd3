"""Mergeable sketches: distinct-count (HLL) and quantile histograms.

At 100 TB, ``COUNT(DISTINCT key)`` and ``percentile(x, q)`` are the two
aggregations whose *exact* forms stop scaling: exact distinct shuffles
every distinct key, exact percentiles sort (or collect) every value.
The production answer is a **mergeable sketch** — a small, associative
summary combined map-side, so the shuffle carries O(sketch) per group
regardless of input size.  (The reference has no sketch surface; this
extends the engine for the profiling/cardinality passes a training-data
pipeline runs before every job.)

Both sketches here are **deterministic** — hash-based, not sampled — so
each has a bit-identical DuckDB SQL twin and is exactly oracle-checked,
unlike Spark's built-in `approx_count_distinct`/`percentile_approx`
whose internals are engine-private.

* :func:`hll_distinct` — HyperLogLog (Flajolet et al. 2007).  Hash =
  first 60 bits of md5 (the repo-wide engine-portable hash, cf.
  `operators/sampling.py`); bucket = top *b* bits; rho = leading-zero
  rank of the tail computed EXACTLY via binary-string length (no libm
  log2).  Registers are a `groupBy(bucket).max(rho)` — two map-side
  combined aggregates, shuffle rows ≤ groups × 2^b.  The harmonic sum
  Σ 2^-M[j] is kept EXACT by scaling to integers (Σ 2^(63-M[j]) as
  DECIMAL/HUGEINT) and folding the float constant α·m²·2^63 into one
  literal, so the raw estimate is one double division — bit-identical
  across engines.  The standard small-range correction (linear
  counting, est = m·ln(m/V) when raw ≤ 2.5m and empty buckets exist)
  IS applied: its branch condition is decided from bit-identical
  quantities, and the one libm `ln` (the only not-guaranteed-identical
  op; ≤1 ulp across glibc/JVM) is followed by a round to 6 dp on both
  engines — the repo's proven cross-engine float convention
  (cf. profile_events).

* :func:`histogram_quantiles` — fixed-width histogram quantile
  estimate.  Pass 1: per-group min/max/count (cheap column scan).
  Pass 2: integer bin = floor((x-min)/width), per-bin counts — again
  map-side combined, shuffle ≤ groups × nbins rows.  The quantile is
  linearly interpolated inside the covering bin from EXACT integer
  cumulative counts; every float op is written with the identical
  expression tree on both engines.  Error bound: (max-min)/nbins per
  estimate, vs an exact percentile's full sort at 100 TB.

Reference parity note: extends `python/metrics_collector.py`-style
profiling (reference repo) to cardinalities/quantiles that exact
aggregation cannot reach at scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hll_bucket_rho",
    "hll_distinct",
    "hll_distinct_sql",
    "hll_estimate_regs",
    "histogram_quantiles",
    "histogram_quantiles_sql",
    "count_min",
    "count_min_estimate",
    "count_min_sql",
]

_HASH_BITS = 60  # 15 hex chars of md5 → always positive in a BIGINT
_TWO63 = 1 << 63


def _alpha(m: int) -> float:
    """Standard HLL bias constant for m registers (Flajolet §4)."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hash60(key: Column) -> Column:
    """First 60 bits of md5(key) as a non-negative BIGINT (the
    engine-portable hash convention, cf. operators/sampling.py)."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10) \
        .cast("long")


def hll_bucket_rho(key: Column, bucket_bits: int) -> "tuple[Column, Column]":
    """(bucket, rho) register coordinates for one key."""
    b = int(bucket_bits)
    tail_bits = _HASH_BITS - b
    tail_mask = (1 << tail_bits) - 1
    rho_max = tail_bits + 1
    hv = _hash60(key)
    bucket = F.shiftright(hv, tail_bits)
    tail = hv.bitwiseAND(F.lit(tail_mask))
    rho = (F.when(tail == 0, F.lit(rho_max))
           .otherwise(F.lit(rho_max) - F.length(F.bin(tail))))
    return bucket, rho


def hll_distinct(df: DataFrame, key_col: str, *,
                 group_cols: Sequence[str] = (),
                 bucket_bits: int = 10) -> DataFrame:
    """Per-group approximate distinct count of ``key_col``.

    Returns one row per group: ``group_cols…, n_buckets_hit,
    hll_estimate`` (rounded to 6 dp).  Deterministic: same input ⇒
    same estimate, on any engine, any partitioning.

    Scale shape: two hash-aggregations, both map-side combined; the
    shuffle after the first carries at most groups × 2^bucket_bits
    register rows — independent of row count.  Sketch-merge across
    datasets is the same ``max`` per bucket.
    """
    b = int(bucket_bits)
    if not 4 <= b <= 16:
        raise ValueError("bucket_bits must be in [4, 16]")

    # exact leading-zero rank: length(bin(tail)) == floor(log2(tail))+1
    bucket, rho = hll_bucket_rho(F.col(key_col), b)

    gcols = [F.col(c) for c in group_cols]
    regs = (df.where(F.col(key_col).isNotNull())
            .select(*gcols, bucket.alias("__bucket"), rho.alias("__rho"))
            .groupBy(*group_cols, "__bucket")
            .agg(F.max("__rho").alias("__m")))
    return hll_estimate_regs(regs, group_cols, bucket_bits=b)


def hll_estimate_regs(regs: DataFrame, group_cols: Sequence[str], *,
                      bucket_bits: int) -> DataFrame:
    """(n_buckets_hit, hll_estimate) per group from a REGISTER frame —
    one row per (group, bucket) with the per-bucket max rho in
    ``__m``.  The finisher of :func:`hll_distinct`; all-exact
    integer/DECIMAL arithmetic, so the estimate is bit-identical to
    :func:`hll_distinct_sql`."""
    b = int(bucket_bits)
    m = 1 << b
    const = _alpha(m) * m * m * float(_TWO63)
    # Σ 2^(63-M[j]) exactly: 63-M ∈ [b+2, 62] fits a BIGINT shift, the
    # sum fits DECIMAL(38,0) (≤ m·2^63 = 2^{63+b} < 10^38 for b ≤ 16…
    # 2^79 ≈ 6e23 ✓).  Empty buckets contribute 2^63 each.
    pw = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(63 - __m AS INT))"
    ).cast("decimal(38,0)")
    agg = (regs.groupBy(*group_cols)
           .agg(F.sum(pw).alias("__sp"),
                F.count(F.lit(1)).alias("n_buckets_hit")))
    s_total = (F.col("__sp")
               + (F.lit(m) - F.col("n_buckets_hit")).cast("decimal(10,0)")
               * F.lit(str(_TWO63)).cast("decimal(20,0)"))
    raw = F.lit(const) / s_total.cast("double")
    empty = (F.lit(m) - F.col("n_buckets_hit")).cast("double")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / empty)
    est = F.when((raw <= F.lit(2.5 * m)) & (empty > 0), lc).otherwise(raw)
    return agg.select(
        *group_cols,
        F.col("n_buckets_hit"),
        F.round(est, 6).alias("hll_estimate"),
    )


def hll_distinct_sql(table: str, key_col: str, *,
                     group_cols: Sequence[str] = (),
                     bucket_bits: int = 10) -> str:
    """DuckDB twin of :func:`hll_distinct` — bit-identical estimate."""
    b = int(bucket_bits)
    m = 1 << b
    tail_bits = _HASH_BITS - b
    tail_mask = (1 << tail_bits) - 1
    rho_max = tail_bits + 1
    const = _alpha(m) * m * m * float(_TWO63)
    g = ", ".join(group_cols)
    gsel = f"{g}, " if g else ""
    gby = f"GROUP BY {g}" if g else ""
    gby_bucket = f"GROUP BY {gsel}__bucket" if g else "GROUP BY __bucket"
    return f"""
WITH __h AS (
  SELECT {gsel}('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM {table} WHERE {key_col} IS NOT NULL
), __b AS (
  SELECT {gsel}hv >> {tail_bits} AS __bucket, hv & {tail_mask} AS __tail
  FROM __h
), __r AS (
  SELECT {gsel}__bucket,
         max(CASE WHEN __tail = 0 THEN {rho_max}
                  ELSE {rho_max} - length(bin(__tail)) END) AS __m
  FROM __b {gby_bucket}
), __s AS (
  SELECT {gsel}sum((1::BIGINT << (63 - __m))::HUGEINT) AS __sp,
         count(*) AS n_buckets_hit
  FROM __r {gby}
)
SELECT {gsel}n_buckets_hit,
       round(CASE WHEN __raw <= {2.5 * m!r} AND __empty > 0
                  THEN {float(m)!r} * ln({float(m)!r} / __empty)
                  ELSE __raw END, 6) AS hll_estimate
FROM (
  SELECT {gsel}n_buckets_hit,
         {const!r} / CAST(__sp + ({m} - n_buckets_hit)::HUGEINT
                          * {_TWO63}::HUGEINT AS DOUBLE) AS __raw,
         CAST({m} - n_buckets_hit AS DOUBLE) AS __empty
  FROM __s
) __e
""".strip()


def histogram_quantiles(df: DataFrame, value_col: str, *,
                        group_cols: Sequence[str] = (),
                        quantiles: Sequence[float] = (0.5, 0.95, 0.99),
                        nbins: int = 4096) -> DataFrame:
    """Per-group quantile estimates from a fixed-width histogram.

    Returns ``group_cols…, n, q_<pct>…`` (one column per requested
    quantile, named ``q_50`` for 0.5 etc.).  Estimate error is bounded
    by one bin width, (max-min)/nbins.

    Scale shape: two scans (min/max/count, then binned counts), both
    map-side combined; the only shuffled set is groups × nbins count
    rows; the interpolation window runs on that tiny aggregate.  No
    global sort, no per-group collect — the shape exact percentiles
    cannot have at 100 TB.
    """
    qs = [float(q) for q in quantiles]
    if not qs or any(not 0.0 < q < 1.0 for q in qs):
        raise ValueError("quantiles must be in (0, 1)")
    grouped = bool(group_cols)
    gcols = list(group_cols) if grouped else ["__g"]
    # NaN excluded like NULL (a NaN would poison min/max into NaN bins
    # and the SQL twin cannot cast NaN to an integer bin at all)
    v = df.where(F.col(value_col).isNotNull()
                 & ~F.isnan(F.col(value_col).cast("double")))
    if not grouped:
        v = v.withColumn("__g", F.lit(0))
    v = v.select(*gcols, F.col(value_col).cast("double").alias("__x"))

    st = v.groupBy(*gcols).agg(
        F.min("__x").alias("__mn"), F.max("__x").alias("__mx"),
        F.count(F.lit(1)).alias("n"))
    w = (F.col("__mx") - F.col("__mn")) / F.lit(float(nbins))
    binc = F.when(F.col("__mx") == F.col("__mn"), F.lit(0).cast("long")) \
        .otherwise(F.least(F.lit(nbins - 1).cast("long"),
                           F.floor((F.col("__x") - F.col("__mn")) / w)))
    binned = (v.join(F.broadcast(st), on=gcols)
              .select(*gcols, "__mn", "__mx", "n", binc.alias("__bin")))
    counts = binned.groupBy(*gcols, "__mn", "__mx", "n", "__bin") \
        .agg(F.count(F.lit(1)).alias("__cnt"))
    cum_sql = ("sum(__cnt) OVER (PARTITION BY {} ORDER BY __bin "
               "ROWS UNBOUNDED PRECEDING)").format(", ".join(gcols))
    cc = counts.withColumn("__cum", F.expr(cum_sql))

    # est = mn + w·(bin + (q·n − (cum−cnt))/cnt): every float op below
    # mirrors the SQL twin's expression tree exactly.
    out_aggs = []
    cc2 = cc
    for q in qs:
        name = f"q_{int(round(q * 100))}"
        tgt = F.lit(q) * F.col("n").cast("double")
        est = (F.col("__mn") + w * (F.col("__bin").cast("double")
               + (tgt - (F.col("__cum") - F.col("__cnt")).cast("double"))
               / F.col("__cnt").cast("double")))
        cc2 = cc2.withColumn(f"__est_{name}", est) \
            .withColumn(f"__hit_{name}",
                        F.col("__cum").cast("double") >= tgt)
        out_aggs.append(F.expr(
            f"min_by(__est_{name}, __bin) FILTER (WHERE __hit_{name})"
        ).alias(name))
    out = cc2.groupBy(*gcols, "n").agg(*out_aggs)
    if not grouped:
        out = out.drop("__g")
    return out


def histogram_quantiles_sql(table: str, value_col: str, *,
                            group_cols: Sequence[str] = (),
                            quantiles: Sequence[float] = (0.5, 0.95, 0.99),
                            nbins: int = 4096) -> str:
    """DuckDB twin of :func:`histogram_quantiles` (bit-identical)."""
    qs = [float(q) for q in quantiles]
    grouped = bool(group_cols)
    gcols = list(group_cols) if grouped else ["__g"]
    g = ", ".join(gcols)
    gsrc = g if grouped else "0 AS __g"
    w = f"((__mx - __mn) / {float(nbins)!r})"
    sels = []
    for q in qs:
        name = f"q_{int(round(q * 100))}"
        tgt = f"({q!r} * CAST(n AS DOUBLE))"
        est = (f"(__mn + {w} * (CAST(__bin AS DOUBLE) + ({tgt} - "
               f"CAST(__cum - __cnt AS DOUBLE)) / CAST(__cnt AS DOUBLE)))")
        sels.append(f"min_by({est}, __bin) "
                    f"FILTER (WHERE CAST(__cum AS DOUBLE) >= {tgt}) AS {name}")
    outg = f"{g}, n" if grouped else "n"
    return f"""
WITH __v AS (
  SELECT {gsrc}, CAST({value_col} AS DOUBLE) AS __x
  FROM {table} WHERE {value_col} IS NOT NULL
    AND NOT isnan(CAST({value_col} AS DOUBLE))
), __st AS (
  SELECT {g}, min(__x) AS __mn, max(__x) AS __mx, count(*) AS n
  FROM __v GROUP BY {g}
), __bn AS (
  SELECT __v.{g.replace(', ', ', __v.')}, __mn, __mx, n,
         CASE WHEN __mx = __mn THEN 0
              ELSE least({nbins - 1}::BIGINT,
                         CAST(floor((__x - __mn) / {w}) AS BIGINT)) END AS __bin
  FROM __v JOIN __st USING ({g})
), __c AS (
  SELECT {g}, __mn, __mx, n, __bin, count(*) AS __cnt
  FROM __bn GROUP BY {g}, __mn, __mx, n, __bin
), __cc AS (
  SELECT *, sum(__cnt) OVER (PARTITION BY {g} ORDER BY __bin
                             ROWS UNBOUNDED PRECEDING) AS __cum
  FROM __c
)
SELECT {outg}, {", ".join(sels)}
FROM __cc GROUP BY {outg}
""".strip()


def _cm_bucket(item: Column, row: int, width: int) -> Column:
    """Row-r count-min bucket: md5-derived 60-bit hash of "r:item",
    reduced mod width — engine-portable (same convention as _hash60)."""
    return F.pmod(_hash60(F.concat(F.lit(f"{row}:"), item.cast("string"))),
                  F.lit(int(width)))


def count_min(df: DataFrame, item_col: str, *, depth: int = 4,
              width: int = 256) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of an item
    stream: ``(row, bucket, cnt)`` with ≤ depth·width rows — the
    mergeable frequency summary behind heavy-hitter monitoring at
    100 TB (exact per-item counts shuffle every distinct item; the
    sketch shuffles ≤ partitions · depth · width map-side-combined
    rows, independent of cardinality).

    Deterministic md5 row hashes (no RNG, no seed), so the sketch —
    and every estimate read off it — is bit-identical across engines,
    runs, and partitionings.  Standard guarantee: estimates
    OVER-count; est ≤ true + 2e/width · N with prob 1 − (1/2)^depth.
    """
    if depth < 1 or width < 2:
        raise ValueError("need depth >= 1, width >= 2")
    items = df.select(F.col(item_col).alias("__item")) \
        .filter(F.col("__item").isNotNull())
    coords = items.select(F.explode(F.array(*[
        F.struct(F.lit(r).cast("long").alias("row"),
                 _cm_bucket(F.col("__item"), r, width).alias("bucket"))
        for r in range(depth)
    ])).alias("__rb"))
    return coords.groupBy(F.col("__rb.row").alias("row"),
                          F.col("__rb.bucket").alias("bucket")) \
        .agg(F.count(F.lit(1)).alias("cnt"))


def count_min_estimate(sketch: DataFrame, candidates: DataFrame,
                       item_col: str, *, depth: int = 4,
                       width: int = 256) -> DataFrame:
    """Point-query the sketch for each candidate item: min over the
    depth rows (absent bucket ⇒ 0).  Adds ``cm_est`` to `candidates`.
    The sketch side is ≤ depth·width rows — broadcast by AQE; the
    candidate side never shuffles."""
    from pyspark.sql.functions import broadcast

    probes = candidates.select(
        "*", F.explode(F.array(*[
            F.struct(F.lit(r).cast("long").alias("row"),
                     _cm_bucket(F.col(item_col), r, width).alias("bucket"))
            for r in range(depth)
        ])).alias("__rb")
    ).select("*", F.col("__rb.row").alias("__row"),
             F.col("__rb.bucket").alias("__bucket")).drop("__rb")
    joined = probes.join(
        broadcast(sketch.withColumnRenamed("row", "__row")
                  .withColumnRenamed("bucket", "__bucket")),
        on=["__row", "__bucket"], how="left")
    keep = [c for c in candidates.columns]
    return (joined.groupBy(*keep)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
                 .alias("cm_est")))


def count_min_sql(items_sql: str, candidates_sql: str, *,
                  item_col: str = "item", depth: int = 4,
                  width: int = 256) -> str:
    """DuckDB twin: build the sketch from `items_sql` (one item per
    row, column `item_col`) and estimate each row of `candidates_sql`
    (same column name; all its columns are carried through)."""
    h = (f"(('0x' || substr(md5(CAST(r.row AS VARCHAR) || ':' || "
         f"CAST({{it}} AS VARCHAR)), 1, 15))::BIGINT % {int(width)})")
    return f"""
WITH __rows AS (SELECT unnest(range({int(depth)})) AS row),
__sk AS (
  SELECT r.row, {h.format(it=f"i.{item_col}")} AS bucket,
         count(*)::BIGINT AS cnt
  FROM ({items_sql}) i CROSS JOIN __rows r
  WHERE i.{item_col} IS NOT NULL
  GROUP BY 1, 2
),
__cand AS ({candidates_sql})
SELECT c.*, min(COALESCE(s.cnt, 0))::BIGINT AS cm_est
FROM __cand c
CROSS JOIN __rows r
LEFT JOIN __sk s ON s.row = r.row
   AND s.bucket = {h.format(it=f"c.{item_col}")}
GROUP BY ALL
""".strip()
