"""Operator-internal persists must not outlive the returned frame.

VERDICT r3 #5 / ADVICE r3: operators pin candidate/signature frames
(`persist()` + eager count) because the consuming action happens outside
the operator — but CacheManager keys caches by plan, so without an
explicit release a composed pipeline accumulates pinned blocks.  The
release is tied to the result frame's lifetime (weakref finalize —
`operators/caching.py`); these tests assert the pins actually drain
once the caller drops the result.
"""

import gc

import pytest
from pyspark.sql import functions as F


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _settle(spark, expect: "int | None" = None,
            timeout: float = 8.0) -> int:
    """Pin count after letting async releases drain.  unpersist(False)
    is NON-BLOCKING, so a just-fired release-on-gc finalizer may not be
    reflected immediately; poll until the count reaches `expect` or
    stops changing."""
    import time as _time

    deadline = _time.time() + timeout
    prev = _n_persistent(spark)
    while _time.time() < deadline:
        if expect is not None and prev <= expect:
            return prev
        _time.sleep(0.2)
        cur = _n_persistent(spark)
        if expect is None and cur == prev:
            return cur
        prev = cur
    return prev


def _baseline(spark) -> int:
    """Drain release-on-gc finalizers left by EARLIER tests before
    capturing the baseline — a stale pin collected by this test's own
    gc.collect() would otherwise push the count below the baseline.
    CHAINED finalizers (a released frame whose own finalizer frees the
    next pin) fire one level per collection pass, so iterate until the
    settled count stops falling."""
    prev = None
    cur = _n_persistent(spark)
    for _ in range(6):
        gc.collect()
        cur = _settle(spark)
        if cur == prev:
            break
        prev = cur
    return cur


def _drain(spark, *frames) -> None:
    for f in frames:
        del f
    gc.collect()


@pytest.fixture()
def docs(spark):
    rows = [(i, f"document body {i % 7} with shared text phrase {i % 3}")
            for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_broadcast_verify_releases_cache(spark):
    from flink_skyline_qos_spark.operators.skyline import (
        skyline_broadcast_verify,
    )
    from flink_skyline_qos_spark.sources.generators import (
        generate_points_hash,
    )

    pts = generate_points_hash(spark, 5_000, 3, dist="anti_correlated")
    base = _baseline(spark)
    out = skyline_broadcast_verify(pts, ["d0", "d1", "d2"],
                                   pre_merge_partitions=4)
    out.count()
    assert _n_persistent(spark) > base  # pinned while the result is alive
    del out
    gc.collect()
    # <=, not ==: a STALE pin from an earlier test draining
    # during this test legitimately lands below the baseline
    assert _settle(spark, base) <= base


def test_skyline_auto_releases_caches_both_branches(spark):
    from flink_skyline_qos_spark.operators.skyline import skyline_auto
    from flink_skyline_qos_spark.sources.generators import (
        generate_points_hash,
    )

    pts = generate_points_hash(spark, 3_000, 3, dist="anti_correlated")
    base = _baseline(spark)
    # huge-survivor branch (threshold 0): first-stage pin must be released
    # EAGERLY once the re-prune materializes, the rest on GC
    out = skyline_auto(pts, ["d0", "d1", "d2"], broadcast_threshold=0)
    out.count()
    assert _n_persistent(spark) <= base + 1  # only re_pruned still pinned
    del out
    gc.collect()
    # <=, not ==: a STALE pin from an earlier test draining
    # during this test legitimately lands below the baseline
    assert _settle(spark, base) <= base
    # small-survivor branch
    out = skyline_auto(pts, ["d0", "d1", "d2"],
                       broadcast_threshold=10_000_000)
    out.count()
    del out
    gc.collect()
    # <=, not ==: a STALE pin from an earlier test draining
    # during this test legitimately lands below the baseline
    assert _settle(spark, base) <= base


def test_minhash_releases_signature_cache(spark, docs):
    from flink_skyline_qos_spark.operators.dedup import minhash_lsh_pairs

    base = _baseline(spark)
    out = minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_k=3,
                            shingle_unit="char")
    out.count()
    del out
    gc.collect()
    # <=, not ==: a STALE pin from an earlier test draining
    # during this test legitimately lands below the baseline
    assert _settle(spark, base) <= base


def test_ngram_releases_index_caches(spark, docs):
    from flink_skyline_qos_spark.operators.dedup import ngram_jaccard_pairs

    base = _baseline(spark)
    out = ngram_jaccard_pairs(docs, k=3, unit="word", threshold=0.5)
    n = out.count()
    # the exploded-gram index is released eagerly (doc materialized
    # inside the operator), so at most the doc-array pin is live here
    assert _n_persistent(spark) <= base + 1
    del out
    gc.collect()
    # <=, not ==: a STALE pin from an earlier test draining
    # during this test legitimately lands below the baseline
    assert _settle(spark, base) <= base
    assert n > 0  # the corpus above genuinely contains near-dups


def test_capstone_composition_releases_all_caches(spark):
    """VERDICT r4 #8: the embedding capstone (LSH pairs → components →
    canonical corpus) composes several pinning operators in one query —
    after its action completes and the result is dropped, ZERO cached
    RDDs may remain (the r3 cache-lifetime fix must hold under
    composition, not just per-operator)."""
    import __spark_entry__ as entrymod

    base = _baseline(spark)
    out = entrymod.queries()["embedding_dedup_corpus"](
        spark, "/root/testdata/sf0.001")
    n = out.count()
    assert n > 0
    del out
    gc.collect()
    # <=, not ==: a STALE pin from an earlier test draining
    # during this test legitimately lands below the baseline
    assert _settle(spark, base) <= base


def test_release_checkpoints_accumulates_pins(spark):
    """Composed helpers each pin sources on the same frame — earlier
    pins must survive (ADVICE r12), including the bare-DataFrame form
    connected_components uses for its cc slice (round 13: the naive
    tuple-concat fix crashed every dedup_clusters caller)."""
    from flink_skyline_qos_spark.operators.caching import (
        release_checkpoints_on_gc,
    )

    a = spark.range(3)
    b = spark.range(4)
    out = spark.range(5)
    out._pin_parent = a                     # bare frame (clustering.py)
    out = release_checkpoints_on_gc(out, b)
    assert out._pin_parent == (a, b)
    c = spark.range(6)
    out = release_checkpoints_on_gc(out, c)
    assert out._pin_parent == (a, b, c)
