"""Seeded Spark-native synthetic point generators (S5).

Re-expresses the reference's Python/Faker generators
(`/root/reference/python/unified_producer.py:50-123`) as pure Column
expressions over `spark.range(n)` — distributed, seeded, no driver loop:

* uniform       — independent integer uniform per dim on [d_min, d_max];
* correlated    — one base value + per-dim noise in ±(1-ρ)·range, clamped
                  (ρ=0.9 default → tight diagonal, tiny skyline);
* anti_correlated — random direction vector scaled to a target row-sum
  drawn near dims·mid with dimension-dependent slack ε (0.0005 @2-D,
  0.05 @3-D, 0.9 @4-D, else dims·0.5) — the PDF §5.1 worst case.

`num_partitions` is fixed (default 8) so `rand(seed)` draws are
reproducible regardless of the session's default parallelism.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _clamp_int(col, d_min: float, d_max: float):
    # int() truncation toward zero == floor on the non-negative domain
    return _clamp_frac(F.floor(col), d_min, d_max)


def _clamp_frac(col, d_min: float, d_max: float):
    # domain clamp WITHOUT the reference's integer truncation: values
    # keep their fractional part.  NOTE (ADVICE r9): the clamp itself
    # still creates an atom at the domain boundary for values that
    # overshoot (anti-correlated scaling can exceed d_max), so PER-DIM
    # duplicates exist with positive probability — it is the full
    # VECTORS that are distinct in practice (a collision needs every
    # dim clamped simultaneously).  The fractional uniform path below
    # avoids the clamp entirely.
    return F.least(F.greatest(col, F.lit(float(d_min))),
                   F.lit(float(d_max))).cast("double")


def _epsilon(dims: int) -> float:
    if dims == 2:
        return 0.0005
    if dims == 3:
        return 0.05
    if dims == 4:
        return 0.9
    return dims * 0.005 * 100


def generate_points(spark: SparkSession, n: int, dims: int = 2, *,
                    dist: str = "uniform", d_min: float = 0.0,
                    d_max: float = 10000.0, seed: int = 42,
                    num_partitions: int = 8,
                    fractional: bool = False,
                    eps: "float | None" = None) -> DataFrame:
    """DataFrame (id bigint, d0..d{dims-1} double) with `dist` ∈
    {uniform, correlated, anti_correlated}.

    `fractional=True` skips the reference's integer truncation
    (unified_producer.py's int() casts): full VECTORS are then distinct
    in practice (uniform draws never clamp; anti-correlated rows keep a
    continuous target sum, and a vector collision would need every dim
    clamped at the boundary simultaneously — per-dim boundary atoms
    from the clamp DO occur, ADVICE r9).  This is the NON-degenerate
    high-dim regime — the integer grid makes the reference's 4-D
    anti-correlated skyline collapse to a handful of duplicated
    vectors (PDF §5.4), short-circuiting any dedup-based verify.

    `eps` overrides the dimension-derived anti-correlation slack
    (:func:`_epsilon`).  The reference's 4-D default (0.9) lets the
    target row-sum go NEGATIVE, clamping ~22 % of rows to the all-zero
    vector — which then dominates everything and is itself the whole
    skyline, a second duplicates-collapse that `fractional` alone
    cannot avoid.  A positive-band eps (e.g. 0.2: targets in
    [12000, 28000] on the default domain) keeps every generated vector
    distinct under `fractional` — the worst-case verify regime."""
    df = spark.range(0, n, 1, num_partitions)
    rng = d_max - d_min
    _clamp = _clamp_frac if fractional else _clamp_int

    if dist == "uniform":
        if fractional:
            # rand() < 1 ⇒ value ∈ [d_min, d_max) exactly — no clamp,
            # no boundary atom (ADVICE r9: rand*(rng+1) overshoots with
            # prob ~1/(rng+1) and the clamp collapsed those to d_max)
            cols = [
                (F.rand(seed * 1000 + i) * rng + F.lit(d_min))
                .cast("double").alias(f"d{i}")
                for i in range(dims)
            ]
        else:
            cols = [
                _clamp(
                    F.rand(seed * 1000 + i) * (rng + 1) + F.lit(d_min),
                    d_min, d_max
                ).alias(f"d{i}")
                for i in range(dims)
            ]
        return df.select("id", *cols)

    if dist == "correlated":
        rho = 0.9
        base = F.rand(seed * 1000 + 777) * rng + F.lit(d_min)
        df = df.withColumn("__base", base)
        cols = []
        for i in range(dims):
            noise = (F.rand(seed * 1000 + i) * 2 - 1) * ((1 - rho) * rng)
            cols.append(
                _clamp(F.col("__base") + noise, d_min, d_max).alias(f"d{i}")
            )
        return df.select("id", *cols)

    if dist == "anti_correlated":
        eps = _epsilon(dims) if eps is None else float(eps)
        mean = (d_min + d_max) / 2.0 * dims
        slack = eps * rng * dims
        raw = [F.rand(seed * 1000 + i) for i in range(dims)]
        df = df.select(
            "id", *[r.alias(f"__r{i}") for i, r in enumerate(raw)],
            (F.rand(seed * 1000 + 888) * (2 * slack) + F.lit(mean - slack))
            .alias("__target"),
        )
        total = reduce(add, [F.col(f"__r{i}") for i in range(dims)])
        scale = F.when(total != 0, F.col("__target") / total).otherwise(F.lit(1.0))
        cols = [
            _clamp(F.col(f"__r{i}") * scale, d_min, d_max).alias(f"d{i}")
            for i in range(dims)
        ]
        return df.select("id", *cols)

    raise ValueError(f"unknown distribution: {dist}")


# ---------------------------------------------------------------------------
# Deterministic (hash-seeded) generators — engine-portable.
#
# `rand(seed)` above is partition-layout-dependent and has no DuckDB twin.
# These variants derive every draw from md5(id:salt) — a pure function of
# the row id — so the same SQL reproduces them bit-for-bit in DuckDB and
# the generator queries go through the full value-hash oracle gate.
# u(id, salt) = int(md5(id || ':' || salt)[:8 hex]) / 2^32  ∈ [0, 1).
# ---------------------------------------------------------------------------

_TWO32 = float(1 << 32)


def _u01(salt: str):
    h = F.md5(F.concat(F.col("id").cast("string"), F.lit(f":{salt}")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") / F.lit(_TWO32)


def _u01_sql(salt: str) -> str:
    return (f"(('0x' || substr(md5(id::VARCHAR || ':{salt}'), 1, 8))::BIGINT"
            f" / {_TWO32:.1f})")


def _clamp_int_sql(expr: str, d_min: float, d_max: float) -> str:
    return (f"cast(least(greatest(floor({expr}), {float(d_min)!r}), "
            f"{float(d_max)!r}) as double)")


def _dist_exprs(dims: int, dist: str, d_min: float, d_max: float):
    """Shared recipe → list of (column-thunk, duckdb SQL) per dimension.

    The Spark side is a zero-arg thunk, NOT an eager Column: building a
    Column requires an active SparkContext, and `generate_points_sql`
    must stay callable from a Spark-less process (the driver may build
    the DuckDB oracle strings before — or without — starting Spark).
    """
    rng = d_max - d_min
    if dist == "uniform":
        return [
            ((lambda i=i: _clamp_int(
                _u01(f"u{i}") * (rng + 1) + F.lit(d_min), d_min, d_max)),
             _clamp_int_sql(f"{_u01_sql(f'u{i}')} * {rng + 1!r} + {d_min!r}",
                            d_min, d_max))
            for i in range(dims)
        ]
    if dist == "correlated":
        rho = 0.9
        base_sql = f"({_u01_sql('base')} * {rng!r} + {d_min!r})"

        def _corr_col(i):
            base = _u01("base") * rng + F.lit(d_min)
            noise = (_u01(f"u{i}") * 2 - 1) * ((1 - rho) * rng)
            return _clamp_int(base + noise, d_min, d_max)

        out = []
        for i in range(dims):
            noise_sql = (f"(({_u01_sql(f'u{i}')} * 2 - 1) * "
                         f"{(1 - rho) * rng!r})")
            out.append(((lambda i=i: _corr_col(i)),
                        _clamp_int_sql(f"{base_sql} + {noise_sql}",
                                       d_min, d_max)))
        return out
    if dist == "anti_correlated":
        eps = _epsilon(dims)
        mean = (d_min + d_max) / 2.0 * dims
        slack = eps * rng * dims
        total_sql = " + ".join(_u01_sql(f"u{i}") for i in range(dims))
        target_sql = f"({_u01_sql('t')} * {2 * slack!r} + {mean - slack!r})"
        scale_sql = (f"(CASE WHEN ({total_sql}) <> 0 THEN {target_sql} / "
                     f"({total_sql}) ELSE 1.0 END)")

        def _anti_col(i):
            total = reduce(add, [_u01(f"u{j}") for j in range(dims)])
            target = _u01("t") * (2 * slack) + F.lit(mean - slack)
            scale = F.when(total != 0, target / total).otherwise(F.lit(1.0))
            return _clamp_int(_u01(f"u{i}") * scale, d_min, d_max)

        return [
            ((lambda i=i: _anti_col(i)),
             _clamp_int_sql(f"{_u01_sql(f'u{i}')} * {scale_sql}",
                            d_min, d_max))
            for i in range(dims)
        ]
    raise ValueError(f"unknown distribution: {dist}")


def generate_points_hash(spark: SparkSession, n: int, dims: int = 2, *,
                         dist: str = "uniform", d_min: float = 0.0,
                         d_max: float = 10000.0,
                         num_partitions: int = 8) -> DataFrame:
    """Deterministic twin of :func:`generate_points` — every value a pure
    function of `id`, reproducible across engines and partitionings."""
    df = spark.range(0, n, 1, num_partitions)
    exprs = _dist_exprs(dims, dist, d_min, d_max)
    return df.select(
        "id", *[fn().alias(f"d{i}") for i, (fn, _) in enumerate(exprs)])


def generate_points_sql(n: int, dims: int = 2, *, dist: str = "uniform",
                        d_min: float = 0.0, d_max: float = 10000.0) -> str:
    """DuckDB oracle SQL producing the exact rows of
    :func:`generate_points_hash`.  Spark-free: safe to call before any
    SparkSession exists."""
    exprs = _dist_exprs(dims, dist, d_min, d_max)
    cols = ", ".join(f"{sql} AS d{i}" for i, (_, sql) in enumerate(exprs))
    return (f"SELECT id, {cols} FROM "
            f"(SELECT range AS id FROM range(0, {n}))")


# ---------------------------------------------------------------------------
# Synthetic DOCUMENT generator — deterministic text corpora with planted
# duplicates, for oracle-gating and scale-benching the dedup stack on
# inputs far larger than the shipped documents table.  Every token is a
# pure md5 function of (id, position), so Spark and DuckDB produce
# bit-identical corpora at any n.
#
# Duplicate planting: every 10th document copies its predecessor's
# token seed.  dup="exact" copies every position (an exact duplicate);
# dup="near" keeps position 0 keyed to the document's own id, so the
# pair shares doc_len−1 of doc_len tokens — a guaranteed-high-Jaccard
# near-duplicate with a known ground-truth pair set (id−1, id).
# ---------------------------------------------------------------------------


def _tok_bucket(seed_col, j):
    h = F.md5(F.concat(seed_col.cast("string"), F.lit(":t"),
                       j.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def generate_docs_hash(spark: SparkSession, n: int, *,
                       vocab_size: int = 2000, doc_len: int = 30,
                       dup: str = "near",
                       num_partitions: int = 8) -> DataFrame:
    """Deterministic synthetic corpus: (doc_id, text), text = `doc_len`
    space-joined tokens drawn from a `vocab_size` vocabulary by md5 of
    (seed, position); every 10th document is a planted duplicate of its
    predecessor (`dup="exact"`: identical text; `dup="near"`: all but
    the first token).  Engine-portable: :func:`generate_docs_sql` emits
    the same rows from DuckDB, so dedup queries over generated corpora
    go through the full value-hash oracle gate.  All JVM expressions —
    scales linearly to any n with zero driver state."""
    if dup not in ("exact", "near"):
        raise ValueError("dup must be 'exact' or 'near'")
    df = spark.range(0, n, 1, num_partitions)
    seed = (F.when((F.col("id") % 10 == 0) & (F.col("id") > 0),
                   F.col("id") - 1).otherwise(F.col("id")))
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(doc_len - 1)),
        lambda j: F.concat(
            F.lit("w"),
            (_tok_bucket(
                seed if dup == "exact"
                else F.when(j == 0, F.col("id")).otherwise(seed), j)
             % vocab_size).cast("string")))
    return df.select(F.col("id").alias("doc_id"),
                     F.concat_ws(" ", toks).alias("text"))


def generate_docs_sql(n: int, *, vocab_size: int = 2000,
                      doc_len: int = 30, dup: str = "near") -> str:
    """DuckDB twin of :func:`generate_docs_hash` (bit-identical text)."""
    if dup not in ("exact", "near"):
        raise ValueError("dup must be 'exact' or 'near'")
    seed = "CASE WHEN id % 10 = 0 AND id > 0 THEN id - 1 ELSE id END"
    tok_seed = (seed if dup == "exact"
                else f"CASE WHEN j = 0 THEN id ELSE {seed} END")
    bucket = (f"(('0x' || substr(md5(({tok_seed})::VARCHAR || ':t' || "
              f"j::VARCHAR), 1, 8))::BIGINT % {vocab_size})")
    return f"""
SELECT id AS doc_id,
       string_agg('w' || {bucket}::VARCHAR, ' ' ORDER BY j) AS text
FROM (SELECT range AS id FROM range(0, {n}))
CROSS JOIN (SELECT range AS j FROM range(0, {doc_len}))
GROUP BY id
""".strip()
