"""Generator suite (S5): distribution golden properties.

The reference's de-facto golden numbers (PDF §5.1, 200k points in
[0,10000]²): anti-correlated ⇒ thousands of skyline points on the
anti-diagonal; correlated ⇒ skyline collapses to near-duplicates of the
minimum; uniform ⇒ a handful near the origin.  Our deterministic
hash-seeded generators must reproduce those *shapes* (exact counts
differ — different RNG — but the ordering and orders of magnitude hold).
"""

from pyspark.sql import functions as F

from flink_skyline_qos_spark.operators.skyline import skyline
from flink_skyline_qos_spark.sources.generators import (
    generate_points,
    generate_points_hash,
)

N = 20_000


def _sky_size(spark, dist):
    df = generate_points_hash(spark, N, 2, dist=dist)
    return skyline(df, ["d0", "d1"]).count()


def test_distribution_skyline_shapes(spark):
    anti = _sky_size(spark, "anti_correlated")
    uni = _sky_size(spark, "uniform")
    corr = _sky_size(spark, "correlated")
    # anti-correlated: a large fraction survives (reference: 2961/200k)
    assert anti > 1000
    # uniform 2-D: E[skyline] ~ H_n ≈ ln(20000) ≈ 10
    assert uni < 60
    # correlated ρ=0.9: skyline crushed vs anti-correlated
    assert corr < anti / 10
    assert anti < N  # sanity: not everything survives


def test_hash_generator_in_domain_and_deterministic(spark):
    df = generate_points_hash(spark, 1000, 3, dist="uniform",
                              d_min=100.0, d_max=200.0)
    agg = df.agg(
        F.min("d0"), F.max("d0"), F.min("d2"), F.max("d2"),
        F.count("*")).first()
    assert agg[4] == 1000
    assert 100.0 <= agg[0] and agg[1] <= 200.0
    assert 100.0 <= agg[2] and agg[3] <= 200.0
    # pure function of id → repartitioning doesn't change values
    a = sorted(df.collect())
    b = sorted(generate_points_hash(spark, 1000, 3, dist="uniform",
                                    d_min=100.0, d_max=200.0,
                                    num_partitions=3).collect())
    assert a == b


def test_rand_generator_seeded_stable(spark):
    """The rand(seed) variant is reproducible for a fixed partitioning."""
    a = sorted(generate_points(spark, 5000, 2, dist="anti_correlated",
                               seed=7).collect())
    b = sorted(generate_points(spark, 5000, 2, dist="anti_correlated",
                               seed=7).collect())
    assert a == b
    row_sums = [r["d0"] + r["d1"] for r in a]
    mean = sum(row_sums) / len(row_sums)
    # constant-row-sum construction: tight concentration around dims·mid
    assert abs(mean - 10000.0) < 300.0


def test_generate_docs_planted_duplicates(spark):
    """Every 10th generated document duplicates its predecessor —
    exactly (near mode differs in token 0 only), and the minhash
    pipeline recovers the full planted pair set."""
    from flink_skyline_qos_spark.sources.generators import (
        generate_docs_hash)
    from flink_skyline_qos_spark.operators.dedup import minhash_lsh_pairs

    docs = generate_docs_hash(spark, 300, doc_len=20, dup="near")
    by_id = {r.doc_id: r.text for r in docs.collect()}
    assert len(by_id) == 300
    for i in range(10, 300, 10):
        a, b = by_id[i - 1].split(" "), by_id[i].split(" ")
        assert a[1:] == b[1:] and a[0] != b[0]  # near-dup: token 0 only
    exact = generate_docs_hash(spark, 100, doc_len=20, dup="exact")
    by_id = {r.doc_id: r.text for r in exact.collect()}
    for i in range(10, 100, 10):
        assert by_id[i - 1] == by_id[i]
    # recall: LSH candidate pairs over the near corpus contain every
    # planted (i-1, i) pair — 19/20 shared tokens is far above the
    # 0.5 Jaccard threshold in every band
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, shingle_k=3,
        shingle_unit="word", threshold=0.5).collect()}
    planted = {(i - 1, i) for i in range(10, 300, 10)}
    assert planted <= pairs


def test_fractional_anticorr_unique_vectors_in_domain(spark):
    """`fractional=True` + a positive-band eps produces pairwise-unique
    in-domain vectors — the non-degenerate verify regime (VERDICT r8
    #2).  The default 4-D eps (0.9) lets the target sum go negative and
    collapses ~22% of rows to the all-zero vector; eps=0.2 must not."""
    from flink_skyline_qos_spark.sources.generators import generate_points

    df = generate_points(spark, 20_000, 4, dist="anti_correlated",
                         num_partitions=8, fractional=True, eps=0.2)
    dims = ["d0", "d1", "d2", "d3"]
    assert df.select(*dims).distinct().count() == 20_000
    import pyspark.sql.functions as F
    lo, hi = df.select(
        F.min(F.least(*dims)).alias("lo"),
        F.max(F.greatest(*dims)).alias("hi")).first()
    assert lo >= 0.0 and hi <= 10000.0
    # degenerate default band, for contrast: duplicates appear
    deg = generate_points(spark, 20_000, 4, dist="anti_correlated",
                          num_partitions=8, fractional=True)
    assert deg.select(*dims).distinct().count() < 20_000
