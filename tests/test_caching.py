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


def test_skyline_auto_releases_caches_both_branches(spark, monkeypatch):
    """Neither branch of skyline_auto persists anything: the driver
    branch collects once, the executor branch is a lazy plan."""
    from flink_skyline_qos_spark.operators import skyline as sky
    from flink_skyline_qos_spark.sources.generators import (
        generate_points_hash,
    )

    pts = generate_points_hash(spark, 3_000, 3, dist="anti_correlated")
    base = _baseline(spark)
    driver = sky.skyline_auto(pts, ["d0", "d1", "d2"])
    assert driver.count() > 0
    assert _n_persistent(spark) <= base
    monkeypatch.setattr(sky, "_DRIVER_SHARE", 0.0)
    executor = sky.skyline_auto(pts, ["d0", "d1", "d2"])
    assert executor.count() == driver.count()
    assert _n_persistent(spark) <= base


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


def test_release_checkpoints_accumulates_pins(spark):
    """Composed helpers each pin sources on the same frame — earlier
    pins must survive, including a pre-existing bare-DataFrame pin
    (a naive tuple concat crashes on it)."""
    from flink_skyline_qos_spark.operators.caching import (
        release_checkpoints_on_gc,
    )

    a = spark.range(3)
    b = spark.range(4)
    out = spark.range(5)
    out._pin_parent = a                     # bare frame
    out = release_checkpoints_on_gc(out, b)
    assert out._pin_parent == (a, b)
    c = spark.range(6)
    out = release_checkpoints_on_gc(out, c)
    assert out._pin_parent == (a, b, c)
