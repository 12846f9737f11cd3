"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side Column expressions (shingling via
`transform(sequence(...))`, hashing via `xxhash64`, min-hashing via
`array_min`/`transform`) — no Python in the row path except the
SimHash bit-fold, which is a vectorized pandas UDF over Arrow batches.

Scale notes (100 TB):
* exact dedup — hash-groupBy on a 128-bit digest; one shuffle on the
  digest, AQE handles skew (identical boilerplate docs are the skew case).
* MinHash LSH — per-doc signature is narrow (scan-only); the only wide
  op is the band-bucket self-join, whose fan-out is bounded by bucket
  size; near-duplicate clusters are the skew risk → cap bucket size
  with a count filter before the join.
* candidate verification — exact Jaccard only on LSH candidates, never
  all-pairs.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .caching import (pinned_local_checkpoint, release_checkpoints_on_gc,
                      release_on_gc)

__all__ = [
    "exact_dedup",
    "char_shingles",
    "word_shingles",
    "minhash_signature",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_cross",
    "minhash_lsh_pairs_cross_sql",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_near_dup_pairs",
    "winnow_fingerprints",
    "winnow_pairs",
    "winnow_pairs_sql",
    "winnow_contamination",
    "winnow_contamination_sql",
]

# 31-bit Mersenne prime: with h,a,b < 2³¹, a·h+b < 2⁶³ — no 64-bit overflow
# inside the JVM expression (the base hash is first reduced with pmod).
_MERSENNE = (1 << 31) - 1

# Per-WORKER scratch for the minhash fold (guide §4.5): reused Python
# workers (spark.python.worker.reuse, on by default) keep module state
# across tasks, so the ~128 MB permutation scratch is faulted in once
# per worker lifetime instead of once per task (measured ~1.1 s of
# page-fault stall per fresh allocation on the bench host — the
# dominant per-task cost at small inputs).  PID-guarded: a forked
# worker must not inherit a buffer another process is writing.
_FOLD_SCRATCH: "dict[tuple[int, int], np.ndarray]" = {}


def _fold_scratch(n_elems: int) -> np.ndarray:
    import os as _os

    key = (_os.getpid(), n_elems)
    buf = _FOLD_SCRATCH.get(key)
    if buf is None:
        _FOLD_SCRATCH.clear()  # stale PIDs / other shapes: drop
        buf = np.empty(n_elems, dtype=np.int64)
        _FOLD_SCRATCH[key] = buf
    return buf


def _md5_long(col: Column) -> Column:
    """60-bit integer hash from the md5 hex prefix — engine-portable.

    DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT`` — the same
    construction the deterministic generators use
    (`sources/generators.py`), giving every hash-keyed dedup operator an
    exact SQL oracle.  15 hex chars = 60 bits keeps the value positive
    in a signed int64 on both engines.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# the scale-out helper grew cross-module consumers (similarity,
# multimodal) and moved to a public home; alias kept for the many
# internal call sites
from .partitioners import scale_out as _scale_out  # noqa: E402


def exact_dedup(df: DataFrame, text_col: str = "text", *,
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact text value.

    md5 digest + groupBy — portable to the SQL oracle verbatim.
    """
    return (
        df.withColumn("__digest", F.md5(F.col(text_col)))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("__digest")
    )


def char_shingles(text: Column, k: int = 5, *, distinct: bool = True) -> Column:
    """Array of k-character shingles (JVM-side, no UDF).

    `distinct=False` skips the dedup pass — correct wherever the
    consumer is idempotent over duplicates (MinHash signatures).
    """
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1))),
        lambda i: text.substr(i, F.lit(k)),
    )
    return F.array_distinct(sh) if distinct else sh


def word_shingles(text: Column, k: int = 3, *, distinct: bool = True) -> Column:
    """Array of k-word shingles from whitespace tokenization."""
    toks = F.split(F.trim(text), r"\s+")
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.array_distinct(sh) if distinct else sh


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rs = np.random.RandomState(seed)
    # a odd/non-zero, b arbitrary, both < p
    a = rs.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64) | 1
    b = rs.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def shingle_hashes(shingles: Column) -> Column:
    """Base hash array: md5-derived 60-bit hash per shingle, reduced
    into [0, 2³¹-1).  md5 (not xxhash64) so the whole MinHash pipeline
    has an exact DuckDB twin; ~2× slower per shingle than xxhash64 but
    the signature fold, not the base hash, dominates the stage."""
    return F.transform(shingles, lambda s: F.pmod(_md5_long(s), F.lit(_MERSENNE)))


def minhash_signature(base_hashes: Column, num_hashes: int = 64, *,
                      seed: int = 42) -> Column:
    """Array<long> MinHash signature from a base-hash array.

    Single `aggregate` fold over the shingles: each step permutes the
    hash `num_hashes` ways ((a·h + b) mod 2³¹-1) and folds element-wise
    minima — the base array is traversed exactly once regardless of
    signature width (the 64-×-array_min formulation re-evaluates the
    input per permutation; Catalyst's ProjectCollapse would undo any
    two-step projection).
    """
    params = _hash_params(num_hashes, seed)

    def _perms(h: Column) -> Column:
        return F.array(*[
            ((h * F.lit(a) % _MERSENNE) + F.lit(b)) % _MERSENNE
            for a, b in params
        ])

    init = F.array_repeat(F.lit(_MERSENNE).cast("long"), num_hashes)
    return F.aggregate(
        base_hashes, init,
        lambda acc, h: F.zip_with(acc, _perms(h), lambda x, y: F.least(x, y)),
    )


def _minhash_fold_arrow(num_hashes: int, seed: int):
    """mapInArrow kernel: (id, base-hash array) → (id, signature array).

    Fully vectorized ACROSS rows with zero Python-loop row work: the
    list column's flat int64 value buffer and offsets are taken
    zero-copy from Arrow, all permutations evaluated as a
    (num_hashes × chunk_shingles) broadcast, and the per-row minima
    taken with one segmented ``np.minimum.reduceat``.  Same arithmetic
    as :func:`minhash_signature`'s JVM fold ((a·h + b) mod p,
    elementwise min); signatures are bit-identical between the paths.

    Optimization r14 (guide §4.2): the permutation matrix is a
    PREALLOCATED per-task scratch buffer written with ``out=`` /
    in-place ops, and the output rides Arrow buffers directly
    (``ListArray.from_arrays`` over the flat sig matrix) instead of
    ``tolist()`` + pandas.  The prior pandas kernel allocated fresh
    ~128 MB temporaries per sub-chunk — three per expression — whose
    mmap/page-fault cost dominated the stage ~8:1 over the actual
    int64 math (measured: 100M-element int64 multiply 0.16 s into a
    warm buffer vs 7 s freshly allocated on the bench host; the 1M-doc
    signature stage fell 54 → ~15 s end to end, fold overhead over the
    JVM hashing 42 → 4 s).  Rows are chunked so
    the scratch stays bounded (~128 MB) regardless of batch size.
    """
    params = _hash_params(num_hashes, seed)
    a = np.array([p[0] for p in params], dtype=np.int64)[:, None]
    b = np.array([p[1] for p in params], dtype=np.int64)[:, None]
    max_flat = max(2**24 // num_hashes, 1024)  # shingles per sub-chunk

    def _sigs_for(lens: np.ndarray, offs: np.ndarray, vals: np.ndarray,
                  scratch: np.ndarray) -> np.ndarray:
        n = len(lens)
        sigs = np.full((n, num_hashes), _MERSENNE, dtype=np.int64)
        cum = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=cum[1:])
        lo = 0
        while lo < n:
            # largest hi with ≤ max_flat shingles in rows [lo, hi)
            hi = int(np.searchsorted(cum, cum[lo] + max_flat,
                                     side="right")) - 1
            if hi <= lo:
                hi = lo + 1  # one oversize row forms its own chunk
            nz = np.flatnonzero(lens[lo:hi]) + lo
            if nz.size:
                flat = vals[offs[lo]:offs[hi]]
                m = flat.size
                # contiguous (num_hashes × m) view of the flat scratch
                t = (scratch[:num_hashes * m].reshape(num_hashes, m)
                     if num_hashes * m <= scratch.size
                     else np.empty((num_hashes, m), dtype=np.int64))
                # h < p < 2³¹ and a < p ⇒ a·h < 2⁶² — no overflow
                np.multiply(a, flat[None, :], out=t)
                t += b
                t %= _MERSENNE
                starts = offs[nz] - offs[lo]
                sigs[nz] = np.minimum.reduceat(t, starts, axis=1).T
            lo = hi
        return sigs

    def fn(batches):
        import pyarrow as pa

        scratch = _fold_scratch(num_hashes * max_flat)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            names = batch.schema.names
            ids = batch.column(names.index("id"))
            h = batch.column(names.index("__h"))
            if h.null_count == 0:
                # fast path: flat values + offsets, both zero-copy.
                # Offsets are absolute into the (unsliced) child, so
                # this is slice-safe.
                offs = h.offsets.to_numpy(zero_copy_only=False) \
                    .astype(np.int64, copy=False)
                vals = h.values.to_numpy(zero_copy_only=False)
                lens = offs[1:] - offs[:-1]
            else:
                # null rows get the empty signature, like the old
                # kernel; rebuild a compact (vals, offs) without them
                # (rare path — per-row as_py is fine here)
                arrs = [np.asarray(x.as_py() or (), dtype=np.int64)
                        for x in h]
                lens = np.array([len(x) for x in arrs], dtype=np.int64)
                offs = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(lens, out=offs[1:])
                vals = (np.concatenate(arrs) if offs[-1]
                        else np.empty(0, np.int64))
            sigs = _sigs_for(lens, offs, vals, scratch)
            sig_col = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * num_hashes),
                pa.array(sigs.reshape(-1)))
            yield pa.RecordBatch.from_arrays([ids, sig_col],
                                             ["id", "sig"])

    return fn


def _dropped_bucket_stats(sizes: DataFrame, max_bucket: int) -> DataFrame:
    """One-row lazy frame quantifying what a bucket-size cap discarded.

    `sizes` is a (..., n) per-bucket count frame.  Returns
    (dropped_buckets, dropped_rows, dropped_pairs) over the buckets with
    n > max_bucket — dropped_pairs = Σ n·(n−1)/2 is the number of
    candidate pairs the cap silently declined to emit (an upper bound on
    lost recall; cohabitation in another band can still recover a pair).
    """
    return sizes.filter(F.col("n") > max_bucket).agg(
        F.count("*").alias("dropped_buckets"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("dropped_rows"),
        F.coalesce(F.sum(F.col("n") * (F.col("n") - F.lit(1)) / F.lit(2)),
                   F.lit(0)).cast("long").alias("dropped_pairs"),
    )


def minhash_lsh_pairs(df: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 64,
                      bands: int = 16, shingle_k: int = 5,
                      shingle_unit: str = "char", seed: int = 42,
                      max_bucket: int = 1000,
                      threshold: float | None = None,
                      impl: str = "numpy") -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + banded LSH.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduped across
    bands.  `threshold` filters on the signature-estimated Jaccard.
    `max_bucket` drops degenerate buckets (cap against quadratic blowup
    on boilerplate-heavy corpora).  `impl="numpy"` (default) computes
    signatures in an Arrow-batched kernel; `impl="expr"` keeps the
    all-JVM expression fold (identical signatures, no Python workers).

    The cap is OBSERVABLE (VERDICT r3 #3 — silent truncation reads as
    full recall on boilerplate-heavy corpora): the returned frame
    carries a lazy companion ``result.lsh_dropped`` — one row
    ``(dropped_buckets, dropped_rows, dropped_pairs)`` aggregating the
    over-cap buckets — that costs nothing unless counted.

    PRECONDITION: `id_col` must be unique per row (ADVICE r13).  The
    skinny-banding join-back attaches signatures by joining the sig
    table on each pair id; a duplicated id would multiply pair rows at
    that join (the pre-r13 sig-carrying plan emitted exactly one row
    per deduped pair).  Every registered caller feeds doc_id/row_id
    keys that are unique by construction.  Applies equally to
    :func:`minhash_lsh_pairs_cross`.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # distinct=False: min() is idempotent, duplicates cannot change a
    # signature, and the distinct pass over ~10⁶ strings is pure cost.
    def sh_of(c: str):
        return (char_shingles(F.col(c), shingle_k, distinct=False)
                if shingle_unit == "char"
                else word_shingles(F.col(c), shingle_k, distinct=False))
    # scale-out BEFORE the JVM hashing projection: a few-split input
    # otherwise serializes the md5-per-shingle stage on one core (the
    # repartition exchange's child is the projection, so project-then-
    # repartition computes the hashes PRE-shuffle; measured 3.3 s vs
    # 0.65 s at sf0.1 — round-8 A/B in BENCHMARKS.md).  The shuffle
    # also moves less: raw text is smaller than its hash array.
    hashed = _scale_out(df.select(F.col(id_col).alias("id"),
                                  F.col(text_col).alias("__t")),
                        probe=df) \
        .select("id", shingle_hashes(sh_of("__t")).alias("__h"))
    if impl == "numpy":
        sig = hashed.mapInArrow(
            _minhash_fold_arrow(num_hashes, seed),
            schema="id long, sig array<long>")
    else:
        sig = hashed.select(
            "id",
            minhash_signature(F.col("__h"), num_hashes, seed=seed)
            .alias("sig"),
        )
    # Pin via localCheckpoint, not persist (optimization r14, guide
    # §5): the sig table is (id, array<64 long>) and the columnar
    # cache builder for array columns is brutal when its generated
    # code is cold — pin A/B at 1M docs: persist 75.2 s cold / 13.5 s
    # JIT-warm vs localCheckpoint 17.3 / 13.6 s, downstream triple-read
    # 3.0 vs 2.4 s.  Row-based blocks skip the columnar encode
    # entirely; eager, like the count() it replaces.  Non-replicated
    # (executor loss recomputes the query) — the documented
    # localCheckpoint trade the CC operator already makes.
    sig = pinned_local_checkpoint(sig)
    # Band bucket = md5-derived hash of "band:sig[..]:sig[..]" — a pure
    # equi-join key, md5-keyed (like the base hashes) for the SQL twin.
    band_cols = [
        _md5_long(F.concat_ws(":", F.lit(b).cast("string"),
                              *[F.element_at("sig", b * rows_per_band + r + 1)
                                .cast("string")
                                for r in range(rows_per_band)])).alias("bucket")
        for b in range(bands)
    ]
    # SKINNY banding (optimization r13, guide §2.3/§8: shuffle keys,
    # not payloads): the band frame carries (id, band, bucket) ONLY —
    # the 64-long signature array (~0.5 KB/row) previously rode the
    # band explode, the bucket-cap join AND both sides of the
    # candidate self-join (≈ bands× the corpus, twice), when every
    # placement decision needs just 20 B/row.  Signatures are attached
    # AFTER the candidate pairs are deduplicated, by joining the
    # pinned sig table back on each id — |pairs| rows instead of
    # bands×|corpus|.
    banded = sig.select(
        "id",
        F.posexplode(F.array(*[F.struct(F.lit(b).alias("band"), c)
                               for b, c in enumerate(band_cols)]))
        .alias("pos", "bb"),
    ).select("id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    # ONE shuffle for the whole banded subtree (optimization r14, guide
    # §2.1): hash-partition the skinny band frame by its join/group key
    # ONCE and pin it.  Its three consumers — the bucket-size
    # aggregation, and both sides of the candidate self-join — each
    # required their own full exchange of the bands×|corpus| frame
    # (ReusedExchange did not fire across the agg/join boundary:
    # 374 MB + 374 MB + 207 MB shuffle writes at 1M docs), where every
    # one of them clusters by exactly (band, bucket).  The persisted
    # partitioning satisfies all three downstream distribution
    # requirements, so they run exchange-free off the cache.
    pinned = banded.repartition("band", "bucket").persist()
    # cap pathological buckets before the self-join.  Filter via a
    # broadcast ANTI-join against the OVER-cap buckets: that set is
    # ~empty on healthy corpora, where the old keep-side broadcast
    # materialized every distinct (band, bucket) — bands×|corpus|
    # entries — on the driver and in every task's hash relation.
    # Identical semantics: every banded row's key occurs in `sizes` by
    # construction, so NOT-in-bad ⇔ in-ok.
    sizes = pinned.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    dropped = _dropped_bucket_stats(sizes, max_bucket)
    bad = sizes.filter(F.col("n") > max_bucket).select("band", "bucket")
    banded = pinned.join(F.broadcast(bad), ["band", "bucket"], "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v,
    ) / F.lit(float(num_hashes))
    out = (
        pairs
        .join(sig.select(F.col("id").alias("id_a"),
                         F.col("sig").alias("sig_a")), "id_a")
        .join(sig.select(F.col("id").alias("id_b"),
                         F.col("sig").alias("sig_b")), "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
    )
    if threshold is not None:
        out = out.filter(F.col("est_jaccard") >= threshold)
    out.lsh_dropped = dropped
    return release_checkpoints_on_gc(release_on_gc(out, pinned), sig)


def ngram_jaccard_pairs(df: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        unit: str = "word",
                        threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above `threshold`.

    Set-similarity join with exactness-preserving pruning (the
    MapReduce formulation of Vernica et al. 2010 / PPJoin's prefix
    principle), instead of the naive inverted-index self-join whose
    shuffle is O(Σ_g df(g)²):

    * **df=1 drop** — a gram in a single document can never witness a
      pair; both candidate generation and verification run on the
      df≥2 sub-sets (any common gram has df≥2, so |A∩B| is unchanged).
    * **Prefix filter** — grams are globally ordered by (df, g)
      ascending (rarest first).  If J(A,B) ≥ τ then |A∩B| ≥
      ⌈τ·max(|A|,|B|)⌉ ≥ α_X := ⌈τ·|X|⌉, and the first common gram in
      the global order sits within the first |X'| − α_X + 1 grams of
      BOTH reduced sets (it is followed by ≥ |A∩B|−1 common grams).
      Only those prefixes are exploded into the index — each doc's
      α−1 most frequent grams, precisely the df² head that makes the
      naive join quadratic, are never indexed.
    * **Length filter** — J ≥ τ ⇒ min(|A|,|B|) ≥ τ·max(|A|,|B|),
      applied inside the candidate join.

    Candidates are then verified exactly: per-doc sorted gram-hash
    arrays are joined back and |A∩B| computed with `array_intersect`
    (JVM, O(|A|+|B|) per pair) — no quadratic groupBy-count pass.

    Grams are compared via `xxhash64`: narrows shuffles to fixed 8 B
    keys; collision risk P ≈ n²/2⁶⁵ is immaterial next to shingle-level
    noise.  At 100 TB every stage is a hash shuffle on `g` or `id`
    with no driver-side state.
    """
    tau = float(threshold)
    sh = (char_shingles(F.col(text_col), k) if unit == "char"
          else word_shingles(F.col(text_col), k))
    ex = _scale_out(df).select(F.col(id_col).alias("id"), sh.alias("sh"))
    # ONE exchange for the exploded gram index (optimization r14,
    # guide §2.4): hash-partition by `g` at the pin, so BOTH consumers
    # — the gram-frequency aggregation and the flat⋈gram_df join — run
    # exchange-free off the cache (each previously exchanged the full
    # index by `g` itself).  Eager count first: a persisted frame
    # referenced on both sides of one action races its own cache
    # population (observed 5× run-to-run swings when the write loses
    # the race).
    flat = ex.select("id", F.explode("sh").alias("g")) \
        .select("id", F.xxhash64("g").alias("g")) \
        .repartition("g").persist()
    flat.count()
    # |shingle set| per doc — a map-only size() on the pre-explode
    # array (shingles are already distinct), taken BEFORE the df=1
    # drop so |A∪B| = n_a + n_b − |A∩B| stays exact.  Replaces a
    # second full pass over the exploded index (explode + exchange +
    # count-by-id = identical value, optimization r14): only ids with
    # ≥1 surviving df≥2 gram ever consume n_sh, and for those the
    # array size equals the exploded-row count.
    sizes = ex.select("id", F.size("sh").alias("n_sh"))
    # Regular (not broadcast) join with the gram-frequency table: it
    # scales with the corpus and co-partitions on `g`; AQE downgrades
    # to broadcast when it is actually small.
    gram_df = (flat.groupBy("g").agg(F.count("*").alias("gdf"))
               .filter(F.col("gdf") > 1))
    # per-doc gram arrays in global (df, g) order; persisted — read by
    # the prefix index and by both sides of the verification join.
    doc = (
        flat.join(gram_df, "g")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("gdf", "g"))).alias("og"))
        .join(sizes, "id")
        .select("id", "n_sh",
                F.transform("og", lambda x: x["g"]).alias("grams"))
    ).persist()
    doc.count()
    # doc is materialized and every later stage reads doc (or prefix
    # derived from it) — the exploded-gram index cache is dead weight.
    flat.unpersist(False)
    # α−1e-9: τ·n in float can land a hair above the exact product and
    # ceil() one too high → a too-short prefix would MISS pairs.  Erring
    # low only lengthens the prefix (more candidates, still exact).
    alpha = F.greatest(F.ceil(F.col("n_sh") * tau - 1e-9), F.lit(1))
    plen = F.size("grams") - alpha + 1
    prefix = (
        doc.withColumn("__plen", plen)
        # plen ≤ 0 ⇔ |A'| < α: even all-common falls short of τ — no
        # qualifying pair can involve this doc, skip it entirely.
        .filter(F.col("__plen") > 0)
        .select("id", "n_sh",
                F.explode(F.slice("grams", 1, F.col("__plen"))).alias("g"))
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.id") < F.col("b.id"))
               & (F.least(F.col("a.n_sh"), F.col("b.n_sh"))
                  >= F.greatest(F.col("a.n_sh"), F.col("b.n_sh")) * tau
                  - F.lit(1e-9)))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    doc_a = doc.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"),
                       F.col("grams").alias("grams_a"))
    doc_b = doc.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"),
                       F.col("grams").alias("grams_b"))
    n_inter = F.size(F.array_intersect("grams_a", "grams_b"))
    return release_on_gc(
        cand.join(doc_a, "id_a").join(doc_b, "id_b")
        .withColumn("n_inter", n_inter)
        .select(
            "id_a", "id_b",
            (F.col("n_inter")
             / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
             ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau),
        doc,
    )


def minhash_lsh_pairs_sql(table_sql: str, *, id_col: str = "doc_id",
                          text_col: str = "text", num_hashes: int = 64,
                          bands: int = 16, shingle_k: int = 5,
                          shingle_unit: str = "char", seed: int = 42,
                          max_bucket: int = 1000,
                          threshold: float | None = None) -> str:
    """DuckDB twin of :func:`minhash_lsh_pairs` — exact value parity.

    Possible because every hash in the pipeline is md5-derived
    (:func:`_md5_long`) and the permutation arithmetic is integer-exact
    on both engines (a·h+b < 2⁶² in signed int64).  The permutation
    coefficients are embedded as array literals from the same seeded
    RandomState the Spark side uses.  `shingle_unit="word"` mirrors
    :func:`word_shingles` (whitespace split of the trimmed text, k-token
    windows joined with a single space, short texts collapsing to one
    shingle) via `string_split_regex` + `list_slice`.
    """
    assert num_hashes % bands == 0
    rpb = num_hashes // bands
    params = _hash_params(num_hashes, seed)
    a_lit = "[" + ", ".join(str(a) for a, _ in params) + "]"
    b_lit = "[" + ", ".join(str(b) for _, b in params) + "]"
    band_concat = " || ':' || ".join(
        ["b::VARCHAR"] + [f"sig[{rpb} * b + {r + 1}]::VARCHAR"
                          for r in range(rpb)])
    est = (f"(list_sum(list_transform(range({num_hashes}), "
           f"j -> CASE WHEN sig_a[j + 1] = sig_b[j + 1] THEN 1 ELSE 0 END))"
           f" / {float(num_hashes)!r})")
    where = f"WHERE {est} >= {threshold!r}" if threshold is not None else ""
    if shingle_unit == "char":
        sh_cte = f"""
  SELECT {id_col} AS id,
         unnest(list_transform(
           range(1, greatest(length({text_col}) - {shingle_k - 1}, 1) + 1),
           i -> substr({text_col}, i, {shingle_k}))) AS s
  FROM {table_sql}"""
    else:
        # word_shingles twin: i ∈ [0, max(n−k, 0)], shingle = tokens
        # [i+1 .. i+k] joined by one space (list_slice clamps at the end
        # exactly like Spark's slice); scalar list range, not the table
        # function (which can't take lateral column args)
        sh_cte = f"""
  SELECT id, unnest(list_transform(
           range(0, greatest(len(toks) - {shingle_k}, 0) + 1),
           i -> array_to_string(list_slice(toks, i + 1, i + {shingle_k}), ' ')
         )) AS s
  FROM (SELECT {id_col} AS id,
               string_split_regex(trim({text_col}), '\\s+') AS toks
        FROM {table_sql}) t"""
    return f"""
WITH sh AS ({sh_cte}
),
base AS (
  SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MERSENNE} AS h
  FROM sh
),
perm AS (
  SELECT id, j,
         min(({a_lit}[j + 1] * h + {b_lit}[j + 1]) % {_MERSENNE}) AS m
  FROM base, range({num_hashes}) t(j)
  GROUP BY id, j
),
sig AS (SELECT id, list(m ORDER BY j) AS sig FROM perm GROUP BY id),
banded AS (
  SELECT id, sig, b,
         ('0x' || substr(md5({band_concat}), 1, 15))::BIGINT AS bucket
  FROM sig, range({bands}) t(b)
),
ok AS (
  SELECT b, bucket FROM banded GROUP BY b, bucket
  HAVING count(*) <= {max_bucket}
),
okb AS (SELECT banded.* FROM banded JOIN ok USING (b, bucket)),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b, x.sig AS sig_a, y.sig AS sig_b
  FROM okb x JOIN okb y
    ON x.b = y.b AND x.bucket = y.bucket AND x.id < y.id
)
SELECT id_a, id_b, {est} AS est_jaccard
FROM cand
{where}
""".strip()


def simhash_near_dup_pairs_sql(table_sql: str, *, id_col: str = "doc_id",
                               text_col: str = "text",
                               max_hamming: int = 3) -> str:
    """DuckDB twin of :func:`simhash_near_dup_pairs` (60-bit md5 tokens)."""
    return f"""
WITH toks AS (
  SELECT {id_col} AS id,
         unnest(list_filter(string_split_regex(trim({text_col}), '\\s+'),
                            x -> x <> '')) AS tok
  FROM {table_sql}
),
th AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
bits AS (
  SELECT id, j,
         CASE WHEN sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM th, range(60) t(j)
  GROUP BY id, j
),
sims AS (
  SELECT id, sum(bit * (1::BIGINT << j))::BIGINT AS sh FROM bits GROUP BY id
),
allsim AS (
  SELECT d.{id_col} AS id, coalesce(s.sh, 0) AS sh
  FROM {table_sql} d LEFT JOIN sims s ON s.id = d.{id_col}
),
quarters AS (
  SELECT id, sh, qq, (sh >> (16 * qq)) & 65535 AS key
  FROM allsim, range(4) t(qq)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS h_a, b.sh AS h_b
  FROM quarters a JOIN quarters b
    ON a.qq = b.qq AND a.key = b.key AND a.id < b.id
)
SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(h_a, h_b)) <= {max_hamming}
""".strip()


def _simhash_fold(num_bits: int = 64):
    """pandas-UDF kernel: fold per-token 64-bit hashes into a SimHash."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(num_bits, dtype=np.uint64)
        for pdf in batches:
            out = np.zeros(len(pdf), dtype=np.uint64)
            for row_i, hashes in enumerate(pdf["token_hashes"]):
                if hashes is None or len(hashes) == 0:
                    continue
                h = np.asarray(hashes, dtype=np.int64)[:, None].view(np.uint64)
                bits = (h >> shifts[None, :]) & np.uint64(1)
                votes = 2 * bits.astype(np.int32) - 1
                sim_bits = (votes.sum(axis=0) > 0).astype(np.uint64)
                out[row_i] = (sim_bits << shifts).sum(dtype=np.uint64)
            yield pd.DataFrame({"id": pdf["id"],
                                "simhash": out.view(np.int64)})

    return fn


def simhash(df: DataFrame, *, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """(id, simhash long): 60-bit SimHash over whitespace tokens.

    Token hashing stays JVM-side (md5-derived 60-bit hash per token, so
    the whole operator has an exact DuckDB twin); only the bit-majority
    fold runs in NumPy over Arrow batches.  60 bits (not 64) because the
    portable base hash is an md5 hex prefix that must stay positive in a
    signed int64 on both engines; the hamming semantics are unchanged.
    """
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda t: t != "")
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: _md5_long(t)).alias("token_hashes"),
    )
    return hashed.mapInPandas(_simhash_fold(num_bits=60),
                              schema="id long, simhash long")


def simhash_near_dup_pairs(df: DataFrame, *, id_col: str = "doc_id",
                           text_col: str = "text",
                           max_hamming: int = 3) -> DataFrame:
    """Pairs whose SimHashes differ in ≤ `max_hamming` bits.

    Blocked on 16-bit quarters (pigeonhole: ≤3 differing bits ⇒ at least
    one of 4 quarters identical) so the join is equi- not cross-.
    """
    sh = simhash(df, id_col=id_col, text_col=text_col)
    quarters = sh.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(q).alias("q"),
                     F.shiftrightunsigned("simhash", 16 * q)
                     .bitwiseAND(F.lit(0xFFFF)).alias("key"))
            for q in range(4)
        ])).alias("blk"),
    ).select("id", "simhash", "blk.q", "blk.key")
    a, b = quarters.alias("a"), quarters.alias("b")
    cand = (
        a.join(b, (F.col("a.q") == F.col("b.q"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("h_a"), F.col("b.simhash").alias("h_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")) \
        .filter(F.col("hamming") <= max_hamming)


def minhash_signatures(df: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 64,
                       shingle_k: int = 5, shingle_unit: str = "char",
                       seed: int = 42) -> DataFrame:
    """Materialize ``(id_col, sig)`` MinHash signatures — the
    precompute half of incremental dedup: write this once for the
    standing corpus, then pass it to
    :func:`minhash_lsh_pairs_cross` via ``old_signatures`` so each
    new batch never re-shingles 100 TB of admitted text.  Identical
    arithmetic to the signatures inside :func:`minhash_lsh_pairs`."""
    sh = (char_shingles(F.col("__t"), shingle_k, distinct=False)
          if shingle_unit == "char"
          else word_shingles(F.col("__t"), shingle_k, distinct=False))
    # raw text scaled out BEFORE the md5 projection (see
    # minhash_lsh_pairs — project-then-repartition hashes on one core)
    hashed = _scale_out(df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t"),
    ), probe=df).select("id", shingle_hashes(sh).alias("__h"))
    return hashed.mapInArrow(
        _minhash_fold_arrow(num_hashes, seed),
        schema="id long, sig array<long>") \
        .withColumnRenamed("id", id_col)


def minhash_lsh_pairs_cross(new_df: DataFrame = None,
                            old_df: DataFrame = None, *,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            num_hashes: int = 64, bands: int = 16,
                            shingle_k: int = 5,
                            shingle_unit: str = "char", seed: int = 42,
                            max_bucket: int = 1000,
                            threshold: float | None = None,
                            old_signatures: DataFrame | None = None,
                            new_signatures: DataFrame | None = None
                            ) -> DataFrame:
    """Incremental (cross-corpus) near-dup detection: candidate pairs
    BETWEEN a new batch and the existing corpus — ``(new_id, old_id,
    est_jaccard)`` — the daily-crawl admission check.

    The production shape the self-join cannot give: old×old pairs are
    never generated (the existing corpus was already deduped) and
    new×new pairs are left to a separate self-join over the (much
    smaller) batch — the banded join is new_banded ⋈ old_banded only.
    Signatures/bands/hashes are the exact arithmetic of
    :func:`minhash_lsh_pairs` (md5-derived, engine-portable), so the
    cross form has the same exact DuckDB twin; the bucket cap applies
    to the COMBINED (new+old) bucket population and is observable via
    ``result.lsh_dropped`` like the self-join form.  At 100 TB the old
    side's signatures are precomputed ONCE with
    :func:`minhash_signatures` and passed via ``old_signatures``
    (columns ``(id_col, sig)``): each batch then bands the standing
    corpus's compact signature table instead of re-shingling its text
    (`old_df` may be None in that case).  The NEW side accepts the same
    precomputed form via ``new_signatures`` — a caller that derives both
    sides from one standing :func:`minhash_signatures` table (e.g. the
    registered incremental-dedup query splitting one corpus scan into
    batch/corpus halves) then pays the shingle+fold pass exactly once.
    """
    assert num_hashes % bands == 0
    if old_df is None and old_signatures is None:
        raise ValueError("need old_df or old_signatures")
    if new_df is None and new_signatures is None:
        raise ValueError("need new_df or new_signatures")
    rows_per_band = num_hashes // bands

    def banded_side(df: DataFrame | None,
                    pre_sig: DataFrame | None = None
                    ) -> "tuple[DataFrame, DataFrame]":
        if pre_sig is not None:
            sig = pre_sig.select(F.col(id_col).alias("id"), "sig")
        else:
            sh = (char_shingles(F.col("__t"), shingle_k,
                                distinct=False)
                  if shingle_unit == "char"
                  else word_shingles(F.col("__t"), shingle_k,
                                     distinct=False))
            hashed = _scale_out(df.select(
                F.col(id_col).alias("id"),
                F.col(text_col).alias("__t"),
            ), probe=df).select("id", shingle_hashes(sh).alias("__h"))
            sig = hashed.mapInArrow(
                _minhash_fold_arrow(num_hashes, seed),
                schema="id long, sig array<long>")
        # localCheckpoint pin, not persist — the columnar cache
        # builder is pathological for array columns when its codegen
        # is cold (see minhash_lsh_pairs pin A/B: 75 s vs 17 s)
        sig = pinned_local_checkpoint(sig)
        band_cols = [
            _md5_long(F.concat_ws(
                ":", F.lit(b).cast("string"),
                *[F.element_at("sig", b * rows_per_band + r + 1)
                  .cast("string") for r in range(rows_per_band)]))
            .alias("bucket")
            for b in range(bands)
        ]
        # SKINNY banding (optimization r13, guide §2.3): band rows
        # carry (id, band, bucket) only — see minhash_lsh_pairs.
        banded = sig.select(
            "id",
            F.posexplode(F.array(*[F.struct(F.lit(b).alias("band"), c)
                                   for b, c in enumerate(band_cols)]))
            .alias("pos", "bb"),
        ).select("id", F.col("bb.band").alias("band"),
                 F.col("bb.bucket").alias("bucket"))
        # one exchange per side, reused by the size agg and the cross
        # join (optimization r14, guide §2.1 — see minhash_lsh_pairs)
        banded = banded.repartition("band", "bucket").persist()
        return sig, banded

    n_sig, n_banded = banded_side(new_df, pre_sig=new_signatures)
    o_sig, o_banded = banded_side(old_df, pre_sig=old_signatures)
    sizes = (n_banded.select("band", "bucket")
             .unionByName(o_banded.select("band", "bucket"))
             .groupBy("band", "bucket").agg(F.count("*").alias("n")))
    dropped = _dropped_bucket_stats(sizes, max_bucket)
    # broadcast anti-join against the (normally ~empty) over-cap
    # bucket set instead of a keep-side broadcast of every distinct
    # bucket — see minhash_lsh_pairs
    bad = sizes.filter(F.col("n") > max_bucket).select("band", "bucket")
    n_ok = n_banded.join(F.broadcast(bad), ["band", "bucket"], "left_anti")
    o_ok = o_banded.join(F.broadcast(bad), ["band", "bucket"], "left_anti")
    pairs = (
        n_ok.alias("x").join(
            o_ok.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket")))
        .select(F.col("x.id").alias("new_id"),
                F.col("y.id").alias("old_id"))
        .dropDuplicates(["new_id", "old_id"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v,
    ) / F.lit(float(num_hashes))
    out = (
        pairs
        .join(n_sig.select(F.col("id").alias("new_id"),
                           F.col("sig").alias("sig_a")), "new_id")
        .join(o_sig.select(F.col("id").alias("old_id"),
                           F.col("sig").alias("sig_b")), "old_id")
        .select("new_id", "old_id", est.alias("est_jaccard"))
    )
    if threshold is not None:
        out = out.filter(F.col("est_jaccard") >= threshold)
    out.lsh_dropped = dropped
    return release_checkpoints_on_gc(
        release_on_gc(out, n_banded, o_banded), n_sig, o_sig)


def minhash_lsh_pairs_cross_sql(new_sql: str, old_sql: str, *,
                                id_col: str = "doc_id",
                                text_col: str = "text",
                                num_hashes: int = 64, bands: int = 16,
                                shingle_k: int = 5,
                                shingle_unit: str = "char",
                                seed: int = 42, max_bucket: int = 1000,
                                threshold: float | None = None) -> str:
    """DuckDB twin of :func:`minhash_lsh_pairs_cross` — the self-join
    twin's CTE chain instantiated once per side with a name prefix,
    combined-bucket cap, cross-side candidate join."""
    assert num_hashes % bands == 0
    rpb = num_hashes // bands
    params = _hash_params(num_hashes, seed)
    a_lit = "[" + ", ".join(str(a) for a, _ in params) + "]"
    b_lit = "[" + ", ".join(str(b) for _, b in params) + "]"
    band_concat = " || ':' || ".join(
        ["b::VARCHAR"] + [f"sig[{rpb} * b + {r + 1}]::VARCHAR"
                          for r in range(rpb)])

    def side(table_sql: str, p: str) -> str:
        if shingle_unit == "char":
            sh = f"""
  SELECT {id_col} AS id,
         unnest(list_transform(
           range(1, greatest(length({text_col}) - {shingle_k - 1}, 1) + 1),
           i -> substr({text_col}, i, {shingle_k}))) AS s
  FROM {table_sql}"""
        else:
            sh = f"""
  SELECT id, unnest(list_transform(
           range(0, greatest(len(toks) - {shingle_k}, 0) + 1),
           i -> array_to_string(list_slice(toks, i + 1, i + {shingle_k}), ' ')
         )) AS s
  FROM (SELECT {id_col} AS id,
               string_split_regex(trim({text_col}), '\\s+') AS toks
        FROM {table_sql}) t"""
        return f"""{p}sh AS ({sh}
),
{p}base AS (
  SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MERSENNE} AS h
  FROM {p}sh
),
{p}perm AS (
  SELECT id, j,
         min(({a_lit}[j + 1] * h + {b_lit}[j + 1]) % {_MERSENNE}) AS m
  FROM {p}base, range({num_hashes}) t(j)
  GROUP BY id, j
),
{p}sig AS (SELECT id, list(m ORDER BY j) AS sig FROM {p}perm GROUP BY id),
{p}banded AS (
  SELECT id, sig, b,
         ('0x' || substr(md5({band_concat}), 1, 15))::BIGINT AS bucket
  FROM {p}sig, range({bands}) t(b)
)"""

    est = (f"(list_sum(list_transform(range({num_hashes}), "
           f"j -> CASE WHEN sig_a[j + 1] = sig_b[j + 1] THEN 1 ELSE 0 END))"
           f" / {float(num_hashes)!r})")
    where = f"WHERE {est} >= {threshold!r}" if threshold is not None else ""
    return f"""
WITH {side(new_sql, "n_")},
{side(old_sql, "o_")},
__sizes AS (
  SELECT b, bucket, count(*) AS n FROM (
    SELECT b, bucket FROM n_banded
    UNION ALL SELECT b, bucket FROM o_banded)
  GROUP BY b, bucket
),
__okb AS (SELECT b, bucket FROM __sizes WHERE n <= {max_bucket}),
nok AS (SELECT n_banded.* FROM n_banded JOIN __okb USING (b, bucket)),
ook AS (SELECT o_banded.* FROM o_banded JOIN __okb USING (b, bucket)),
cand AS (
  SELECT DISTINCT x.id AS new_id, y.id AS old_id,
         x.sig AS sig_a, y.sig AS sig_b
  FROM nok x JOIN ook y ON x.b = y.b AND x.bucket = y.bucket
)
SELECT new_id, old_id, {est} AS est_jaccard
FROM cand
{where}
""".strip()

def winnow_fingerprints(df: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 4,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-word shingle, slide
    a `window`-hash window over the sequence and select each window's
    minimum; the per-document set of selected hashes is a position-
    robust fingerprint with guaranteed detection of shared runs of
    length ≥ k + window − 1 words (the winnowing guarantee), at density
    ~2/(window+1) of the shingle count.

    Returns exploded (id, fp) rows — one per distinct selected hash per
    document.  Unlike :func:`exact_dedup`'s whole-document digest, a
    single shared passage is enough to produce a common fingerprint, so
    this catches partial-overlap pairs MinHash's global-similarity
    bands score too low.

    Scale shape: shingle hashes are exploded ONCE to (id, pos, h) rows
    and the sliding minimum is a window min over rows [pos, pos+w−1]
    partitioned by document — per-doc partitions are bounded by
    document length, so the sort is trivial at any corpus size.  NOT
    the tempting all-array form (``transform(sequence, i →
    array_min(slice(h, i+1, w)))``): Catalyst's ProjectCollapse inlines
    the full hash-array expression into every slice, re-hashing all
    shingles per window — O(shingles²) md5 calls per document (measured
    21 s for 500 docs; the exploded form is ~1 s).  Hashes are
    md5-derived (:func:`shingle_hashes`) so the DuckDB twin is exact.
    """
    from pyspark.sql.window import Window as W

    w = int(window)
    sh = word_shingles(F.col(text_col), int(k), distinct=False)
    h = shingle_hashes(sh)
    ex = _scale_out(df, probe=df).select(
        F.col(id_col).alias("id"), F.posexplode(h).alias("pos", "h"))
    sliding = W.partitionBy("id").orderBy("pos") \
        .rowsBetween(W.currentRow, w - 1)
    whole = W.partitionBy("id")
    mins = ex.select(
        "id", "pos",
        F.min("h").over(sliding).alias("fp"),
        F.count(F.lit(1)).over(whole).alias("__m"),
    )
    # window starts: pos 0 .. max(m-w, 0) — short docs keep one
    # (clamped) window, matching the SQL twin's generate_series bound.
    return (mins.filter(F.col("pos") <= F.greatest(F.col("__m") - w,
                                                   F.lit(0)))
            .select("id", "fp").distinct())


def winnow_pairs(df: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 4, window: int = 4,
                 max_df: int = 50, threshold: float = 0.5) -> DataFrame:
    """Candidate near-duplicate pairs from shared winnowing
    fingerprints: docs sharing ≥1 selected hash pair up, scored by
    containment ``n_shared / min(|fp_a|, |fp_b|)`` (the MOSS report
    metric — containment, not Jaccard, so a small doc fully embedded in
    a large one still scores 1.0) and kept at `threshold`+.

    Returns (id_a, id_b, n_shared, overlap), id_a < id_b.

    Scale shape: fingerprints with document frequency 1 cannot witness
    a pair and ones above `max_df` are corpus boilerplate (and the
    quadratic hot-bucket risk — same cap discipline as the LSH band
    join); both are dropped by a map-side-combined df aggregate before
    the self-join, bounding join fan-out at max_df² per fingerprint.
    Pair scoring is a hash aggregate on the (a, b) key; per-doc
    fingerprint sizes join back broadcast-eligible (|docs| rows).
    """
    tau = float(threshold)
    fp = winnow_fingerprints(df, id_col=id_col, text_col=text_col,
                             k=k, window=window).persist()
    fp.count()
    sizes = fp.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    ok = (fp.groupBy("fp").agg(F.count(F.lit(1)).alias("fdf"))
          .filter((F.col("fdf") >= 2) & (F.col("fdf") <= int(max_df)))
          .select("fp"))
    live = fp.join(ok, "fp")
    a = live.select(F.col("fp"), F.col("id").alias("id_a"))
    b = live.select(F.col("fp"), F.col("id").alias("id_b"))
    pairs = (a.join(b, ["fp"])
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_shared")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    overlap = F.round(
        F.col("n_shared") / F.least("n_a", "n_b").cast("double"), 6)
    return release_on_gc(
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", F.col("n_shared").cast("long").alias("n_shared"),
                overlap.alias("overlap"))
        .filter(F.col("overlap") >= tau),
        fp,
    )


def winnow_pairs_sql(table: str, *, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 4, window: int = 4,
                     max_df: int = 50, threshold: float = 0.5) -> str:
    """DuckDB twin of :func:`winnow_pairs` (same md5-derived shingle
    hashes, same window minima, same df gates).  The fingerprint CTE is
    shared with :func:`winnow_contamination_sql` via
    :func:`_winnow_fp_cte` so the two oracles can never diverge."""
    kk, w = int(k), int(window)
    return f"""
WITH fp AS (
{_winnow_fp_cte(table, id_col, text_col, kk, w)}
),
sizes AS (SELECT id, count(*) AS n FROM fp GROUP BY id),
ok AS (
  SELECT fp FROM fp GROUP BY fp
  HAVING count(*) >= 2 AND count(*) <= {int(max_df)}
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
  FROM fp a JOIN ok USING (fp) JOIN fp b ON b.fp = a.fp
  WHERE a.id < b.id
  GROUP BY a.id, b.id
)
SELECT p.id_a, p.id_b, p.n_shared::BIGINT AS n_shared,
       round(p.n_shared * 1.0 / least(sa.n, sb.n), 6) AS overlap
FROM pairs p
JOIN sizes sa ON sa.id = p.id_a
JOIN sizes sb ON sb.id = p.id_b
WHERE round(p.n_shared * 1.0 / least(sa.n, sb.n), 6) >= {float(threshold)!r}
""".strip()

def winnow_contamination(corpus: DataFrame, bench: DataFrame, *,
                         id_col: str = "doc_id", text_col: str = "text",
                         k: int = 4, window: int = 4) -> DataFrame:
    """Passage-level eval-set decontamination: the fraction of each
    corpus document's winnowing fingerprints that also occur in the
    benchmark set.  Complements :func:`~..functions.corpus.
    contamination_check`'s n-gram collision fraction — a long document
    embedding one verbatim benchmark passage dilutes a whole-document
    gram fraction toward zero, while the winnowing guarantee makes the
    shared passage (≥ k + window − 1 words) contribute fingerprints
    regardless of the surrounding document length.

    Returns one row per corpus document: (id, n_fp, n_hit,
    passage_overlap) with overlap = n_hit / n_fp rounded to 6 dp.

    Scale shape: both sides reduce to distinct (id, fp) rows; the
    benchmark side collapses to a DISTINCT fingerprint set — small by
    contract (eval suites, not corpora) and left un-hinted so AQE
    broadcasts it; the corpus side is touched by one groupBy(id) for
    sizes and one fingerprint equi-join for hits.
    """
    cf = winnow_fingerprints(corpus, id_col=id_col, text_col=text_col,
                             k=k, window=window)
    bf = (winnow_fingerprints(bench, id_col=id_col, text_col=text_col,
                              k=k, window=window)
          .select("fp").distinct())
    sizes = cf.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
    hits = cf.join(bf, "fp").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_hit"))
    base = corpus.select(F.col(id_col).alias("id"))
    return (base.join(sizes, "id", "left").join(hits, "id", "left")
            .select(
                F.col("id").alias(id_col),
                F.coalesce("n_fp", F.lit(0)).cast("long").alias("n_fp"),
                F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
                F.round(
                    F.when(F.coalesce("n_fp", F.lit(0)) == 0, F.lit(0.0))
                    .otherwise(F.coalesce("n_hit", F.lit(0))
                               / F.col("n_fp").cast("double")), 6)
                .alias("passage_overlap")))


def _winnow_fp_cte(table: str, id_col: str, text_col: str,
                   k: int, window: int) -> str:
    """DuckDB fragment: distinct (id, fp) winnowing fingerprints of
    `table` (same expressions as :func:`winnow_pairs_sql`)."""
    return f"""
  SELECT DISTINCT id, unnest(
           list_transform(
             generate_series(0, greatest(len(hs) - {window}, 0)),
             i -> list_min(hs[(i+1):(i+{window})]))) AS fp
  FROM (
    SELECT id,
           list_transform(
             list_transform(
               generate_series(0, greatest(len(toks) - {k}, 0)),
               i -> array_to_string(toks[(i+1):(i+{k})], ' ')),
             s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MERSENNE})
             AS hs
    FROM (SELECT {id_col} AS id,
                 string_split_regex(trim({text_col}), '\\s+') AS toks
          FROM {table})
  )""".strip()


def winnow_contamination_sql(corpus: str, bench: str, *,
                             id_col: str = "doc_id",
                             text_col: str = "text", k: int = 4,
                             window: int = 4) -> str:
    """DuckDB twin of :func:`winnow_contamination` (`bench` may be any
    table expression, e.g. a parenthesized SELECT)."""
    return f"""
WITH cf AS (
{_winnow_fp_cte(corpus, id_col, text_col, k, window)}
),
bf AS (SELECT DISTINCT fp FROM (
{_winnow_fp_cte(bench, id_col, text_col, k, window)}
)),
sizes AS (SELECT id, count(*) AS n_fp FROM cf GROUP BY id),
hits AS (
  SELECT id, count(*) AS n_hit FROM cf JOIN bf USING (fp) GROUP BY id
)
SELECT d.{id_col},
       coalesce(s.n_fp, 0)::BIGINT AS n_fp,
       coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       round(CASE WHEN coalesce(s.n_fp, 0) = 0 THEN 0.0
                  ELSE coalesce(h.n_hit, 0) * 1.0 / s.n_fp END, 6)
         AS passage_overlap
FROM {corpus} d
LEFT JOIN sizes s ON s.id = d.{id_col}
LEFT JOIN hits h ON h.id = d.{id_col}
""".strip()


def _positioned_shingles(df: DataFrame, id_col: str, text_col: str,
                         k: int, unit: str = "token") -> DataFrame:
    """(id, pos, h) rows: md5-derived 60-bit hash of the k-unit
    shingle at every position of every document with ≥ k units — the
    shared front end of the ExactSubstr operators.

    ``unit`` selects the shingle granularity (VERDICT r12 "What's
    missing" #3):

    * ``"token"`` (default) — whitespace tokens of the trimmed text;
      ``pos`` is a token index.  Lee et al.'s practical granularity
      for whitespace-segmented scripts.
    * ``"char"`` — raw characters of the UNTRIMMED text; ``pos`` is a
      character offset and the shingle at ``pos`` is
      ``substring(text, pos+1, k)``.  This is the byte/char
      granularity Lee et al. 2022 actually operate at: it detects
      verbatim runs in scripts without whitespace segmentation (CJK)
      and survives punctuation-only edits that break a token run
      ("foo." vs "foo").  Everything downstream (`_match_islands`,
      df caps, span arithmetic) is unit-agnostic — spans simply come
      back in characters.

    Deliberately NOT :func:`shingle_hashes` (ADVICE r11): that helper
    reduces into [0, 2³¹-1) for the MinHash permutation arithmetic,
    and a 31-bit space birthday-collides from ~50k distinct shingles —
    at corpus scale most fingerprints would blow past ``max_df`` on
    collisions alone and silently empty the match set.  The raw 60-bit
    prefix keeps collisions negligible to ~10⁹ distinct shingles."""
    if unit == "char":
        base = (df.select(F.col(id_col).alias("id"),
                          F.col(text_col).alias("__s"))
                .filter(F.length("__s") >= k))
        sh = F.transform(
            F.sequence(F.lit(0), F.length("__s") - k),
            lambda i: F.substring(F.col("__s"), i + 1, F.lit(k)),
        )
        return base.select(
            "id", F.posexplode(F.transform(sh, _md5_long))
            .alias("pos", "h"))
    if unit != "token":
        raise ValueError(f"unit must be 'token' or 'char', got {unit!r}")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (df.select(F.col(id_col).alias("id"), toks.alias("__t"))
            .filter(F.size("__t") >= k))
    sh = F.transform(
        F.sequence(F.lit(0), F.size("__t") - k),
        lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i + 1, k)),
    )
    return base.select("id", F.posexplode(F.transform(sh, _md5_long))
                       .alias("pos", "h"))


def _unit_tok_exprs(text_col: str, unit: str):
    """(unit-array expr, original-unit-count expr, join separator) for
    the ExactSubstr removal tails at either granularity.  Positions
    from the char split align 1:1 with :func:`_positioned_shingles`'
    ``substring``-based offsets (``split(s, '')`` yields exactly the
    characters, no empty sentinels)."""
    if unit == "char":
        return (F.split(F.col(text_col), ""),
                F.length(F.col(text_col)).cast("long"), "")
    if unit != "token":
        raise ValueError(f"unit must be 'token' or 'char', got {unit!r}")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = (F.when(F.trim(F.col(text_col)) == "", F.lit(0))
         .otherwise(F.size(toks)).cast("long"))
    return toks, n, " "


def _match_islands(m: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands maximal-run merge over aligned shingle matches
    `m` = (id_a, id_b, pa, off): one row per maximal constant-offset
    run — (id_a, id_b, off, a_start, span) where the run covers tokens
    [a_start, a_start+span) in doc a and [a_start-off, ...) in doc b.
    Shared middle of the ExactSubstr operators."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("id_a", "id_b", "off").orderBy("pa")
    runs = m.select("id_a", "id_b", "off", "pa",
                    (F.col("pa") - F.row_number().over(w)).alias("isl"))
    return (runs.groupBy("id_a", "id_b", "off", "isl")
            .agg(F.min("pa").alias("a_start"),
                 (F.count(F.lit(1)) + k - 1).cast("long").alias("span"))
            .drop("isl"))


def _max_span_per_pair(m: DataFrame, k: int, min_span: int,
                       out_a: str, out_b: str) -> DataFrame:
    """Max shared verbatim run per pair from the aligned matches `m`,
    kept at ≥ min_span tokens."""
    return (_match_islands(m, k).groupBy("id_a", "id_b")
            .agg(F.max("span").alias("span_tokens"))
            .filter(F.col("span_tokens") >= int(min_span))
            .select(F.col("id_a").alias(out_a),
                    F.col("id_b").alias(out_b), "span_tokens"))


def substring_dedup_pairs(df: DataFrame, *, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 8,
                          min_span: int = 20, max_df: int = 50,
                          unit: str = "token") -> DataFrame:
    """Exact substring (long verbatim match) deduplication — document
    pairs sharing a verbatim token run of ≥ `min_span` whitespace
    tokens, with the length of the longest shared run (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr semantics at bounded shingle size k).  This is the one
    standard training-data dedup modality the near-dup stack cannot
    express: MinHash/SimHash/Jaccard score GLOBAL similarity (a 50-token
    verbatim quote inside two otherwise-unrelated 5k-token documents
    scores ~0), and winnowing reports containment of sampled
    fingerprints, not the exact maximal run length.

    Construction (suffix-array-free, Spark-expressible):

    1. hash every k-token shingle with its position → (id, pos, h)
       rows, one explode over the corpus (docs shorter than k tokens
       cannot contain a ≥ min_span ≥ k run and are skipped);
    2. drop fingerprints occurring once (no witness) or more than
       `max_df` times (corpus boilerplate + the quadratic hot-bucket
       risk — same cap discipline as the LSH band join), then
       self-join on the hash: each match is an ALIGNED shingle
       (id_a, id_b, pa, pb) with id_a < id_b;
    3. a shared verbatim run of L tokens is exactly a maximal set of
       consecutive matches at constant alignment offset pa − pb:
       gaps-and-islands per (id_a, id_b, off) — island key
       pa − row_number() over pa — merges each run, length
       |island| + k − 1;
    4. report max run length per pair, kept at ≥ min_span.

    Returns (id_a, id_b, span_tokens), span_tokens = the longest
    shared verbatim run in whitespace tokens.

    Exactness bound: runs are detected iff every interior k-shingle
    survives the `max_df` cap — a boilerplate shingle INSIDE a long
    run splits it into two shorter reported islands (never a false
    positive, conservative on length).  Raise `max_df` for
    adversarial corpora; md5 shingle-hash collisions (true 60-bit —
    NOT the MinHash stack's 31-bit Mersenne-reduced space, which would
    birthday-collide from ~50k distinct shingles; ADVICE r11) are the
    only other false-match source and are engine-identical, so the
    DuckDB twin is exact.

    Scale shape: one explode (O(total tokens) rows, never a suffix
    array); the df-cap aggregate is map-side combined and bounds
    self-join fan-out at max_df² per fingerprint; the islands window
    partitions by (pair, offset) — bounded by document length, not
    corpus size; no all-pairs stage anywhere.  At 100 TB this is the
    shuffle-bounded shape: tokens → capped fingerprint buckets →
    per-pair windows.

    ``unit="char"`` shingles characters instead of whitespace tokens
    (VERDICT r12 "What's missing" #3 — Lee et al. operate on bytes):
    verbatim-run detection then works for whitespace-free scripts
    (CJK) and survives punctuation-only edits; `k`, `min_span` and the
    reported ``span_tokens`` are all measured in CHARACTERS of the
    untrimmed text.  The column name is kept for schema stability.
    """
    kk = int(k)
    ex = _positioned_shingles(_scale_out(df, probe=df), id_col,
                              text_col, kk, unit=unit)
    ok = (ex.groupBy("h").agg(F.count(F.lit(1)).alias("fdf"))
          .filter((F.col("fdf") >= 2) & (F.col("fdf") <= int(max_df)))
          .select("h"))
    live = ex.join(ok, "h")
    a = live.select("h", F.col("id").alias("id_a"),
                    F.col("pos").alias("pa"))
    b = live.select("h", F.col("id").alias("id_b"),
                    F.col("pos").alias("pb"))
    m = (a.join(b, "h")
         .filter(F.col("id_a") < F.col("id_b"))
         .select("id_a", "id_b", "pa",
                 (F.col("pa") - F.col("pb")).alias("off")))
    return _max_span_per_pair(m, kk, min_span, "id_a", "id_b")


def substring_dedup_pairs_sql(table: str, *, id_col: str = "doc_id",
                              text_col: str = "text", k: int = 8,
                              min_span: int = 20, max_df: int = 50,
                              unit: str = "token") -> str:
    """DuckDB twin of :func:`substring_dedup_pairs` — identical
    tokenization (`string_split_regex('\\s+')` on trimmed text, or
    per-character `substr` for ``unit="char"``), the same 60-bit
    md5-prefix shingle hash, the same df-cap gates and the same
    islands arithmetic, so the pair multiset and every span_tokens
    value match exactly."""
    kk = int(k)
    return f"""
WITH __ex AS (
{_substr_ex_cte(table, id_col, text_col, kk, unit=unit)}
),
__ok AS (
  SELECT h FROM __ex GROUP BY h
  HAVING count(*) >= 2 AND count(*) <= {int(max_df)}
),
__m AS (
  SELECT a.id AS id_a, b.id AS id_b, a.pos AS pa, a.pos - b.pos AS off
  FROM __ex a JOIN __ok USING (h) JOIN __ex b ON b.h = a.h
  WHERE a.id < b.id
),
__r AS (
  SELECT id_a, id_b, off,
         pa - row_number() OVER (
           PARTITION BY id_a, id_b, off ORDER BY pa) AS isl
  FROM __m
),
__s AS (
  SELECT id_a, id_b, count(*) + {kk} - 1 AS span
  FROM __r GROUP BY id_a, id_b, off, isl
)
SELECT id_a, id_b, CAST(max(span) AS BIGINT) AS span_tokens
FROM __s GROUP BY id_a, id_b
HAVING max(span) >= {int(min_span)}
""".strip()


def substring_remove(df: DataFrame, *, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 8,
                     min_span: int = 20, max_df: int = 50,
                     unit: str = "token") -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2022 production semantics,
    completing :func:`substring_dedup_pairs`): every cross-document
    verbatim token run of ≥ `min_span` whitespace tokens is CUT from
    all but its first occurrence corpus-wide, and the affected
    documents are reassembled from their surviving tokens in order —
    the same keep-first-by-(id, pos) rule :func:`~..functions.corpus.
    dedup_paragraphs` applies at fixed unit granularity, here at
    arbitrary token offsets.

    Keep-first realization: aligned maximal runs come from the pair
    construction with id_a < id_b, so within every detected run the
    id_a occurrence is the earlier one and only the id_b token range
    [a_start − off, a_start − off + span) is marked duplicate.  Chains
    (doc₁~doc₂~doc₃) cut doc₂ and doc₃ via their own pairs while doc₁
    — the corpus-wide first occurrence — survives; whenever a pair of
    the chain is dropped by the `max_df` cap the span simply survives
    in one extra document (conservative, never over-removes).
    Overlapping marked ranges from different pairs/offsets union at
    the token level.  Scope is CROSS-document: a run repeated twice
    inside one document only is kept (the pair stage requires
    id_a < id_b).

    Returns one row per input document:
    (id_col, clean_text, n_tokens, n_removed) — `clean_text` is the
    original text for untouched documents and the space-joined
    surviving tokens for cut ones (whitespace normalizes only where
    text was edited); `n_tokens` the original whitespace token count.

    Scale shape: the pair front end is :func:`substring_dedup_pairs`'s
    (one explode, df-capped fingerprint join, per-pair islands
    window); the removal tail explodes tokens ONLY for affected
    documents (semi-join first), marks duplicates with one
    (id, pos)-keyed left join, and reassembles with one groupBy(id) —
    cost proportional to contaminated text, not corpus size.

    ``unit="char"`` cuts at character granularity (k / min_span /
    n_tokens / n_removed all in characters of the untrimmed text;
    reassembly concatenates surviving characters with no separator, so
    clean_text is an exact substring-cut of the original) — verbatim
    runs in whitespace-free scripts (CJK) are detected and removed.
    """
    kk = int(k)
    ex = _positioned_shingles(_scale_out(df, probe=df), id_col,
                              text_col, kk, unit=unit)
    ok = (ex.groupBy("h").agg(F.count(F.lit(1)).alias("fdf"))
          .filter((F.col("fdf") >= 2) & (F.col("fdf") <= int(max_df)))
          .select("h"))
    live = ex.join(ok, "h")
    a = live.select("h", F.col("id").alias("id_a"),
                    F.col("pos").alias("pa"))
    b = live.select("h", F.col("id").alias("id_b"),
                    F.col("pos").alias("pb"))
    m = (a.join(b, "h")
         .filter(F.col("id_a") < F.col("id_b"))
         .select("id_a", "id_b", "pa",
                 (F.col("pa") - F.col("pb")).alias("off")))
    # Pin the (tiny — one row per detected island) run set: the removal
    # tail reads it TWICE (the affected-doc semi-join and the position
    # marks), and unpinned each read re-derived the ENTIRE pair front
    # end — explode, df-cap, fingerprint self-join, islands window —
    # doubling the operator (optimization r13; A/B in
    # OPTIMIZATION_r13.md).  Eager count follows the house persist
    # discipline (two lazy readers under one action race the cache
    # population); released when the result frame is dropped.
    iv = (_match_islands(m, kk)
          .filter(F.col("span") >= int(min_span))
          .select(F.col("id_b").alias("id"),
                  (F.col("a_start") - F.col("off")).alias("s"), "span")
          ).persist()
    iv.count()
    dup_pos = iv.select(
        "id", F.explode(F.sequence(
            F.col("s"), F.col("s") + F.col("span") - 1)).alias("pos")
    ).distinct()
    toks, n_tok, sep = _unit_tok_exprs(text_col, unit)
    affected = (df.join(iv.select("id").distinct(),
                        F.col(id_col) == F.col("id"), "left_semi")
                .select(F.col(id_col).alias("id"),
                        F.posexplode(toks).alias("pos", "tok")))
    marked = affected.join(
        dup_pos.withColumn("__dup", F.lit(True)), ["id", "pos"], "left")
    arr = F.array_sort(F.collect_list(F.struct("pos", "tok", "__dup")))
    rebuilt = marked.groupBy("id").agg(
        F.array_join(
            F.transform(F.filter(arr, lambda x: x["__dup"].isNull()),
                        lambda x: x["tok"]), sep).alias("__clean"),
        F.sum(F.col("__dup").isNotNull().cast("long"))
        .alias("__removed"))
    return release_on_gc(
        df.join(rebuilt, F.col(id_col) == rebuilt["id"], "left")
        .select(id_col,
                F.coalesce("__clean", F.col(text_col))
                .alias("clean_text"),
                n_tok.alias("n_tokens"),
                F.coalesce("__removed", F.lit(0)).cast("long")
                .alias("n_removed")),
        iv)


def _substr_tp_cte(table: str, id_col: str, text_col: str,
                   unit: str) -> str:
    """DuckDB fragment: (id, pos, tok) unit rows of the documents of
    `table` that appear in ``__dp`` — the reassembly input of the
    removal twins, at either unit."""
    if unit == "char":
        return f"""
  SELECT t.id, t.i - 1 AS pos, substr(t.s, t.i, 1) AS tok
  FROM (SELECT {id_col} AS id, {text_col} AS s,
               unnest(generate_series(1, length({text_col}))) AS i
        FROM {table}
        WHERE {id_col} IN (SELECT DISTINCT id FROM __dp)) t""".strip()
    return f"""
  SELECT t.id, t.i - 1 AS pos, t.toks[t.i] AS tok
  FROM (SELECT {id_col} AS id,
               string_split_regex(trim({text_col}), '\\s+') AS toks,
               unnest(generate_series(1, len(string_split_regex(
                 trim({text_col}), '\\s+')))) AS i
        FROM {table}
        WHERE {id_col} IN (SELECT DISTINCT id FROM __dp)) t""".strip()


def _substr_ntok_sql(text_col: str, unit: str) -> str:
    """DuckDB expression: original unit count of ``x.{text_col}`` —
    the n_tokens column of the removal twins."""
    if unit == "char":
        return f"length(x.{text_col})::BIGINT"
    return (f"(CASE WHEN trim(x.{text_col}) = '' THEN 0 "
            f"ELSE len(string_split_regex(trim(x.{text_col}), "
            f"'\\s+')) END)::BIGINT")


def substring_remove_sql(table: str, *, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 8,
                         min_span: int = 20, max_df: int = 50,
                         unit: str = "token") -> str:
    """DuckDB twin of :func:`substring_remove` — same 60-bit shingle
    hash, df-cap, islands arithmetic, keep-first marking and
    unit-level reassembly, so every clean_text matches byte-for-byte."""
    kk = int(k)
    sep = "''" if unit == "char" else "' '"
    return f"""
WITH __ex AS (
{_substr_ex_cte(table, id_col, text_col, kk, unit=unit)}
),
__ok AS (
  SELECT h FROM __ex GROUP BY h
  HAVING count(*) >= 2 AND count(*) <= {int(max_df)}
),
__m AS (
  SELECT a.id AS id_a, b.id AS id_b, a.pos AS pa, a.pos - b.pos AS off
  FROM __ex a JOIN __ok USING (h) JOIN __ex b ON b.h = a.h
  WHERE a.id < b.id
),
__r AS (
  SELECT id_a, id_b, off, pa,
         pa - row_number() OVER (
           PARTITION BY id_a, id_b, off ORDER BY pa) AS isl
  FROM __m
),
__iv AS (
  SELECT id_b AS id, min(pa) - off AS s,
         count(*) + {kk} - 1 AS span
  FROM __r GROUP BY id_a, id_b, off, isl
  HAVING count(*) + {kk} - 1 >= {int(min_span)}
),
__dp AS (
  SELECT DISTINCT id, pos FROM (
    SELECT id, unnest(generate_series(s, s + span - 1)) AS pos
    FROM __iv)
),
__tp AS (
{_substr_tp_cte(table, id_col, text_col, unit)}
),
__rb AS (
  SELECT t.id,
         coalesce(string_agg(t.tok, {sep} ORDER BY t.pos)
                  FILTER (WHERE d.pos IS NULL), '') AS clean_text,
         count(d.pos)::BIGINT AS n_removed
  FROM __tp t
  LEFT JOIN __dp d ON d.id = t.id AND d.pos = t.pos
  GROUP BY t.id
)
SELECT x.{id_col},
       CASE WHEN r.id IS NULL THEN x.{text_col}
            ELSE r.clean_text END AS clean_text,
       {_substr_ntok_sql(text_col, unit)} AS n_tokens,
       coalesce(r.n_removed, 0)::BIGINT AS n_removed
FROM {table} x LEFT JOIN __rb r ON r.id = x.{id_col}
""".strip()



def substring_contamination(corpus: DataFrame, bench: DataFrame, *,
                            id_col: str = "doc_id",
                            text_col: str = "text", k: int = 8,
                            min_span: int = 20,
                            max_df: int = 50,
                            corpus_max_df: "int | None" = None,
                            unit: str = "token") -> DataFrame:
    """ExactSubstr eval-set decontamination: corpus documents sharing a
    ≥ `min_span`-token VERBATIM run with a benchmark document, with the
    exact maximal run length per (corpus, bench) pair — the
    long-quote leakage evidence the fraction-based checks dilute
    (:func:`~..functions.corpus.contamination_check` reports gram
    collision fractions; :func:`winnow_contamination` reports sampled
    fingerprint containment; neither returns the span itself).

    Returns (doc_id, bench_id, span_tokens), span_tokens = longest
    shared verbatim run in whitespace tokens, kept at ≥ min_span.

    Scale shape: same as :func:`substring_dedup_pairs` but the join is
    corpus×bench on the shingle hash — the bench side is an eval
    suite, small by contract, and its per-hash occurrence cap
    (`max_df`, boilerplate guard) bounds fan-out at |corpus hits| ×
    max_df per fingerprint; left un-hinted so AQE broadcasts the
    bench side.  No corpus self-join anywhere.

    Corpus-side fan-out is UNBOUNDED BY DESIGN by default (ADVICE
    r11): capping corpus-side fingerprint frequency would drop real
    leaked spans whose interior shingles happen to be corpus-frequent
    — decontamination must not trade recall for throughput silently.
    The cost is linear in corpus occurrences of bench shingles (one
    shuffle row each), never quadratic — the bench side of every hot
    hash is still ≤ `max_df`.  For corpora where boilerplate overlaps
    the bench set pathologically, set `corpus_max_df` to also cap the
    corpus side (same conservative-shortening semantics as the dedup
    twin's two-sided cap: a capped interior shingle can only split or
    shorten a reported span, never fabricate one).
    """
    kk = int(k)
    ce = _positioned_shingles(_scale_out(corpus, probe=corpus), id_col,
                              text_col, kk, unit=unit)
    be = _positioned_shingles(bench, id_col, text_col, kk, unit=unit)
    ok = (be.groupBy("h").agg(F.count(F.lit(1)).alias("fdf"))
          .filter(F.col("fdf") <= int(max_df)).select("h"))
    if corpus_max_df is not None:
        cok = (ce.groupBy("h").agg(F.count(F.lit(1)).alias("cdf"))
               .filter(F.col("cdf") <= int(corpus_max_df)).select("h"))
        ce = ce.join(cok, "h")
    a = ce.select("h", F.col("id").alias("id_a"),
                  F.col("pos").alias("pa"))
    b = be.join(ok, "h").select("h", F.col("id").alias("id_b"),
                                F.col("pos").alias("pb"))
    m = (a.join(b, "h")
         .select("id_a", "id_b", "pa",
                 (F.col("pa") - F.col("pb")).alias("off")))
    return _max_span_per_pair(m, kk, min_span, "doc_id", "bench_id")


def _substr_ex_cte(table: str, id_col: str, text_col: str,
                   k: int, unit: str = "token") -> str:
    """DuckDB fragment: the positioned-shingle-hash rows of `table` —
    the twin of :func:`_positioned_shingles` at either unit."""
    if unit == "char":
        return f"""
  SELECT id, unnest(generate_series(0, length(s) - {k})) AS pos,
         unnest(list_transform(
           generate_series(0, length(s) - {k}),
           i -> ('0x' || substr(md5(substr(s, i+1, {k})),
                  1, 15))::BIGINT)) AS h
  FROM (SELECT {id_col} AS id, {text_col} AS s FROM {table})
  WHERE length(s) >= {k}""".strip()
    if unit != "token":
        raise ValueError(f"unit must be 'token' or 'char', got {unit!r}")
    return f"""
  SELECT id, unnest(generate_series(0, len(toks) - {k})) AS pos,
         unnest(list_transform(
           generate_series(0, len(toks) - {k}),
           i -> ('0x' || substr(md5(array_to_string(
                  toks[(i+1):(i+{k})], ' ')), 1, 15))::BIGINT)) AS h
  FROM (SELECT {id_col} AS id,
               string_split_regex(trim({text_col}), '\\s+') AS toks
        FROM {table})
  WHERE len(toks) >= {k}""".strip()


def substring_contamination_sql(corpus: str, bench: str, *,
                                id_col: str = "doc_id",
                                text_col: str = "text", k: int = 8,
                                min_span: int = 20,
                                max_df: int = 50,
                                corpus_max_df: "int | None" = None,
                                unit: str = "token") -> str:
    """DuckDB twin of :func:`substring_contamination` (`corpus` /
    `bench` may be any table expression)."""
    kk = int(k)
    ccap = ("" if corpus_max_df is None else f"""
__cok AS (
  SELECT h FROM __ce GROUP BY h
  HAVING count(*) <= {int(corpus_max_df)}
),""")
    cjoin = "" if corpus_max_df is None else " JOIN __cok ON __cok.h = c.h"
    return f"""
WITH __ce AS (
{_substr_ex_cte(corpus, id_col, text_col, kk, unit=unit)}
),
__be AS (
{_substr_ex_cte(bench, id_col, text_col, kk, unit=unit)}
),{ccap}
__ok AS (
  SELECT h FROM __be GROUP BY h HAVING count(*) <= {int(max_df)}
),
__m AS (
  SELECT c.id AS id_a, b.id AS id_b, c.pos AS pa, c.pos - b.pos AS off
  FROM __ce c JOIN __ok USING (h) JOIN __be b ON b.h = c.h{cjoin}
),
__r AS (
  SELECT id_a, id_b, off,
         pa - row_number() OVER (
           PARTITION BY id_a, id_b, off ORDER BY pa) AS isl
  FROM __m
),
__s AS (
  SELECT id_a, id_b, count(*) + {kk} - 1 AS span
  FROM __r GROUP BY id_a, id_b, off, isl
)
SELECT id_a AS doc_id, id_b AS bench_id,
       CAST(max(span) AS BIGINT) AS span_tokens
FROM __s GROUP BY id_a, id_b
HAVING max(span) >= {int(min_span)}
""".strip()


def substring_scrub(corpus: DataFrame, bench: DataFrame, *,
                    id_col: str = "doc_id", text_col: str = "text",
                    k: int = 8, min_span: int = 20,
                    max_df: int = 50, unit: str = "token") -> DataFrame:
    """ExactSubstr benchmark-span SCRUBBING: every corpus occurrence of
    a ≥ `min_span`-token verbatim run shared with a benchmark document
    is CUT and the affected corpus documents are reassembled — the
    acting form of :func:`substring_contamination` (which only reports
    the leakage).  Unlike :func:`substring_remove`'s keep-first rule,
    decontamination removes ALL occurrences: evaluation text must not
    survive anywhere in the training corpus, including its first
    appearance.

    Returns one row per CORPUS document:
    (id_col, clean_text, n_tokens, n_removed) — original text for
    untouched documents, space-joined surviving tokens for scrubbed
    ones, `n_tokens` the original whitespace token count.

    Scale shape: the match front end is
    :func:`substring_contamination`'s (corpus×bench hash join, bench
    side df-capped and AQE-broadcast, corpus side deliberately
    uncapped — recall over throughput, see the contamination
    docstring); the removal tail explodes tokens ONLY for affected
    documents (semi-join first) and reassembles with one groupBy —
    cost proportional to contaminated text, not corpus size.
    """
    kk = int(k)
    ce = _positioned_shingles(_scale_out(corpus, probe=corpus), id_col,
                              text_col, kk, unit=unit)
    be = _positioned_shingles(bench, id_col, text_col, kk, unit=unit)
    ok = (be.groupBy("h").agg(F.count(F.lit(1)).alias("fdf"))
          .filter(F.col("fdf") <= int(max_df)).select("h"))
    a = ce.select("h", F.col("id").alias("id_a"),
                  F.col("pos").alias("pa"))
    b = be.join(ok, "h").select("h", F.col("id").alias("id_b"),
                                F.col("pos").alias("pb"))
    m = (a.join(b, "h")
         .select("id_a", "id_b", "pa",
                 (F.col("pa") - F.col("pb")).alias("off")))
    # Pin the tiny islands frame — its two downstream readers otherwise
    # each re-derive the full corpus×bench match front end (see
    # substring_remove; optimization r13).
    iv = (_match_islands(m, kk)
          .filter(F.col("span") >= int(min_span))
          .select(F.col("id_a").alias("id"),
                  F.col("a_start").alias("s"), "span")).persist()
    iv.count()
    dup_pos = iv.select(
        "id", F.explode(F.sequence(
            F.col("s"), F.col("s") + F.col("span") - 1)).alias("pos")
    ).distinct()
    toks, n_tok, sep = _unit_tok_exprs(text_col, unit)
    affected = (corpus.join(iv.select("id").distinct(),
                            F.col(id_col) == F.col("id"), "left_semi")
                .select(F.col(id_col).alias("id"),
                        F.posexplode(toks).alias("pos", "tok")))
    marked = affected.join(
        dup_pos.withColumn("__dup", F.lit(True)), ["id", "pos"], "left")
    arr = F.array_sort(F.collect_list(F.struct("pos", "tok", "__dup")))
    rebuilt = marked.groupBy("id").agg(
        F.array_join(
            F.transform(F.filter(arr, lambda x: x["__dup"].isNull()),
                        lambda x: x["tok"]), sep).alias("__clean"),
        F.sum(F.col("__dup").isNotNull().cast("long"))
        .alias("__removed"))
    return release_on_gc(
        corpus.join(rebuilt, F.col(id_col) == rebuilt["id"], "left")
        .select(id_col,
                F.coalesce("__clean", F.col(text_col))
                .alias("clean_text"),
                n_tok.alias("n_tokens"),
                F.coalesce("__removed", F.lit(0)).cast("long")
                .alias("n_removed")),
        iv)


def substring_scrub_sql(corpus: str, bench: str, *,
                        id_col: str = "doc_id", text_col: str = "text",
                        k: int = 8, min_span: int = 20,
                        max_df: int = 50, unit: str = "token") -> str:
    """DuckDB twin of :func:`substring_scrub` (`corpus` / `bench` may
    be any table expression)."""
    kk = int(k)
    sep = "''" if unit == "char" else "' '"
    return f"""
WITH __ce AS (
{_substr_ex_cte(corpus, id_col, text_col, kk, unit=unit)}
),
__be AS (
{_substr_ex_cte(bench, id_col, text_col, kk, unit=unit)}
),
__ok AS (
  SELECT h FROM __be GROUP BY h HAVING count(*) <= {int(max_df)}
),
__m AS (
  SELECT c.id AS id_a, b.id AS id_b, c.pos AS pa, c.pos - b.pos AS off
  FROM __ce c JOIN __ok USING (h) JOIN __be b ON b.h = c.h
),
__r AS (
  SELECT id_a, id_b, off, pa,
         pa - row_number() OVER (
           PARTITION BY id_a, id_b, off ORDER BY pa) AS isl
  FROM __m
),
__iv AS (
  SELECT id_a AS id, min(pa) AS s, count(*) + {kk} - 1 AS span
  FROM __r GROUP BY id_a, id_b, off, isl
  HAVING count(*) + {kk} - 1 >= {int(min_span)}
),
__dp AS (
  SELECT DISTINCT id, pos FROM (
    SELECT id, unnest(generate_series(s, s + span - 1)) AS pos
    FROM __iv)
),
__tp AS (
{_substr_tp_cte(corpus, id_col, text_col, unit)}
),
__rb AS (
  SELECT t.id,
         coalesce(string_agg(t.tok, {sep} ORDER BY t.pos)
                  FILTER (WHERE d.pos IS NULL), '') AS clean_text,
         count(d.pos)::BIGINT AS n_removed
  FROM __tp t
  LEFT JOIN __dp d ON d.id = t.id AND d.pos = t.pos
  GROUP BY t.id
)
SELECT x.{id_col},
       CASE WHEN r.id IS NULL THEN x.{text_col}
            ELSE r.clean_text END AS clean_text,
       {_substr_ntok_sql(text_col, unit)} AS n_tokens,
       coalesce(r.n_removed, 0)::BIGINT AS n_removed
FROM {corpus} x LEFT JOIN __rb r ON r.id = x.{id_col}
""".strip()


def substring_dedup_pairs_cross(new_df: DataFrame = None,
                                old_df: DataFrame = None, *,
                                id_col: str = "doc_id",
                                text_col: str = "text", k: int = 8,
                                min_span: int = 20, max_df: int = 50,
                                new_shingles: DataFrame = None,
                                old_shingles: DataFrame = None,
                                unit: str = "token") -> DataFrame:
    """Incremental (cross-corpus) ExactSubstr detection: document pairs
    BETWEEN a new batch and the existing corpus sharing a ≥ `min_span`-
    token verbatim run — ``(new_id, old_id, span_tokens)`` — the
    daily-crawl admission check for the long-verbatim-quote modality,
    completing the ExactSubstr family the way
    :func:`minhash_lsh_pairs_cross` completes MinHash.

    The production shape the self-join cannot give: old×old matches
    are never generated (the standing corpus was already substring-
    deduped) and new×new is left to a separate (much smaller)
    self-join; the fingerprint join here is new ⋈ old only.  The df
    cap applies to the COMBINED (new+old) occurrence count of each
    shingle hash — same conservative-shortening semantics as the
    self-join form (a capped interior shingle splits a run, never
    fabricates one) — and a hash must occur on BOTH sides to witness
    a cross pair, so fan-out per fingerprint is bounded by
    df_new × df_old < max_df².

    At 100 TB the old side's positioned shingles are computed ONCE
    (:func:`_positioned_shingles` is the public contract via this
    parameter) and passed as ``old_shingles`` (columns (id, pos, h));
    each batch then joins the standing fingerprint store instead of
    re-tokenizing the corpus.  ``new_shingles`` accepts the same
    precomputed form.
    """
    kk = int(k)
    if new_df is None and new_shingles is None:
        raise ValueError("need new_df or new_shingles")
    if old_df is None and old_shingles is None:
        raise ValueError("need old_df or old_shingles")
    ne = (new_shingles if new_shingles is not None
          else _positioned_shingles(new_df, id_col, text_col, kk,
                                    unit=unit))
    oe = (old_shingles if old_shingles is not None
          else _positioned_shingles(_scale_out(old_df, probe=old_df),
                                    id_col, text_col, kk, unit=unit))
    u = (ne.select("h", F.lit(0).alias("__old"))
         .unionByName(oe.select("h", F.lit(1).alias("__old"))))
    ok = (u.groupBy("h")
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum("__old").alias("n_old"))
          .filter((F.col("n") <= int(max_df))
                  & (F.col("n_old") >= 1)
                  & (F.col("n") - F.col("n_old") >= 1))
          .select("h"))
    a = ne.join(ok, "h").select("h", F.col("id").alias("id_a"),
                                F.col("pos").alias("pa"))
    b = oe.select("h", F.col("id").alias("id_b"),
                  F.col("pos").alias("pb"))
    m = (a.join(b, "h")
         .select("id_a", "id_b", "pa",
                 (F.col("pa") - F.col("pb")).alias("off")))
    return _max_span_per_pair(m, kk, min_span, "new_id", "old_id")


def substring_dedup_pairs_cross_sql(new_sql: str, old_sql: str, *,
                                    id_col: str = "doc_id",
                                    text_col: str = "text",
                                    k: int = 8, min_span: int = 20,
                                    max_df: int = 50,
                                    unit: str = "token") -> str:
    """DuckDB twin of :func:`substring_dedup_pairs_cross` (`new_sql` /
    `old_sql` may be any table expressions)."""
    kk = int(k)
    return f"""
WITH __ne AS (
{_substr_ex_cte(new_sql, id_col, text_col, kk, unit=unit)}
),
__oe AS (
{_substr_ex_cte(old_sql, id_col, text_col, kk, unit=unit)}
),
__ok AS (
  SELECT h FROM (
    SELECT h, 0 AS o FROM __ne UNION ALL SELECT h, 1 AS o FROM __oe)
  GROUP BY h
  HAVING count(*) <= {int(max_df)}
     AND sum(o) >= 1 AND count(*) - sum(o) >= 1
),
__m AS (
  SELECT n.id AS id_a, o.id AS id_b, n.pos AS pa, n.pos - o.pos AS off
  FROM __ne n JOIN __ok USING (h) JOIN __oe o ON o.h = n.h
),
__r AS (
  SELECT id_a, id_b, off,
         pa - row_number() OVER (
           PARTITION BY id_a, id_b, off ORDER BY pa) AS isl
  FROM __m
),
__s AS (
  SELECT id_a, id_b, count(*) + {kk} - 1 AS span
  FROM __r GROUP BY id_a, id_b, off, isl
)
SELECT id_a AS new_id, id_b AS old_id,
       CAST(max(span) AS BIGINT) AS span_tokens
FROM __s GROUP BY id_a, id_b
HAVING max(span) >= {int(min_span)}
""".strip()
