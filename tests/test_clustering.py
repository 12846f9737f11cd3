"""Integer-exact link rank and its DuckDB twin."""

from pyspark.sql import functions as F


def test_link_rank_star_graph_hub_wins(spark):
    from flink_skyline_qos_spark.operators.clustering import link_rank
    # spokes 1..5 all point at hub 0; hub points back at spoke 1
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    ranks = {r.node: r.rank for r in link_rank(df).collect()}
    assert ranks[0] == max(ranks.values())       # hub dominates
    assert ranks[1] > ranks[2] == ranks[5]       # hub's target beats others
    assert all(v > 0 for v in ranks.values())


def test_link_rank_deterministic_across_partitioning(spark):
    from flink_skyline_qos_spark.operators.clustering import link_rank
    edges = [(i, (i * 7) % 23) for i in range(200)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    a = sorted(tuple(r) for r in link_rank(df).collect())
    b = sorted(tuple(r) for r in link_rank(df.repartition(13)).collect())
    assert a == b  # bit-for-bit, integer grid


def test_link_rank_matches_oracle(spark, sf_dir):
    import duckdb

    from flink_skyline_qos_spark.operators.clustering import (
        link_rank, link_rank_sql)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1)
    ).select(F.col("a.l_suppkey").alias("src"),
             F.col("b.l_suppkey").alias("dst"))
    got = sorted(tuple(r) for r in link_rank(edges).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    want = sorted(tuple(r) for r in con.sql(link_rank_sql(
        "SELECT a.l_suppkey AS src, b.l_suppkey AS dst "
        "FROM lineitem a JOIN lineitem b "
        "ON a.l_orderkey = b.l_orderkey "
        "AND b.l_linenumber = a.l_linenumber + 1")).fetchall())
    assert got == want and len(got) > 0


def test_link_rank_empty_and_bad_args(spark):
    import pytest as _pt

    from flink_skyline_qos_spark.operators.clustering import link_rank
    empty = spark.createDataFrame([], "src bigint, dst bigint")
    assert link_rank(empty).count() == 0
    df = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    with _pt.raises(ValueError):
        link_rank(df, iterations=0)
    with _pt.raises(ValueError):
        link_rank(df, damping=(100, 100))


def test_link_rank_releases_intermediate_iterations(spark):
    """Only the final ranks frame (plus e/nodes/e_od) may stay pinned
    while the result lives — earlier iterations are consumed the moment
    the next one materializes and must be unpersisted eagerly."""
    from flink_skyline_qos_spark.operators.clustering import link_rank

    def n_pinned():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    import gc
    import time
    gc.collect()
    time.sleep(0.3)
    before = n_pinned()
    edges = spark.createDataFrame([(i, (i * 7) % 23) for i in range(200)],
                                  "src bigint, dst bigint")
    out = link_rank(edges, iterations=5)
    out.count()
    grown = n_pinned() - before
    assert grown <= 4, f"{grown} pins: intermediate iterations leaked"
    del out
    for _ in range(20):
        gc.collect()
        if n_pinned() <= before:
            break
        time.sleep(0.25)
    assert n_pinned() <= before
