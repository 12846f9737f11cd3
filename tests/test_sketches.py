"""Mergeable sketches: cross-engine parity, accuracy, determinism."""

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_skyline_qos_spark.operators.sketches import (
    histogram_quantiles,
    histogram_quantiles_sql,
    hll_distinct,
    hll_distinct_sql,
)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in ("events", "lineitem"):
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return c


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_hll_matches_oracle_bit_exact(spark, events, con):
    res = _rows(hll_distinct(events, "user_id",
                             group_cols=["event_type"]))
    ora = sorted(tuple(r) for r in con.sql(
        hll_distinct_sql("events", "user_id",
                         group_cols=["event_type"])).fetchall())
    assert res == ora  # exact float equality, no rounding slack


def test_hll_global_and_small_m(spark, events, con):
    for b in (4, 8, 12):
        res = _rows(hll_distinct(events, "event_id", bucket_bits=b))
        ora = sorted(tuple(r) for r in con.sql(
            hll_distinct_sql("events", "event_id",
                            bucket_bits=b)).fetchall())
        assert res == ora, f"bucket_bits={b}"


def test_hll_accuracy_both_regimes(spark, lineitem, con):
    # linear-counting regime (distinct ≪ m) and raw regime (≫ m)
    for key, b in (("l_partkey", 12), ("l_orderkey", 6)):
        est = hll_distinct(lineitem, key, bucket_bits=b) \
            .collect()[0]["hll_estimate"]
        exact = con.sql(
            f"SELECT count(DISTINCT {key}) FROM lineitem").fetchone()[0]
        assert abs(est - exact) / exact < 0.35, (key, b, est, exact)


def test_hll_partitioning_invariant(spark, events):
    a = _rows(hll_distinct(events, "user_id"))
    b = _rows(hll_distinct(events.repartition(13), "user_id"))
    assert a == b


def test_hll_rejects_bad_bits(events):
    with pytest.raises(ValueError):
        hll_distinct(events, "user_id", bucket_bits=2)


def test_histogram_matches_oracle_bit_exact(spark, events, con):
    res = _rows(histogram_quantiles(events, "value",
                                    group_cols=["event_type"]))
    ora = sorted(tuple(r) for r in con.sql(
        histogram_quantiles_sql("events", "value",
                                group_cols=["event_type"])).fetchall())
    assert res == ora


def test_histogram_global_error_bound(spark, events, con):
    nbins = 512
    row = histogram_quantiles(events, "value", nbins=nbins,
                              quantiles=(0.5, 0.95)).collect()[0]
    lo, hi, p50, p95 = con.sql(
        "SELECT min(value), max(value), quantile_cont(value, 0.5), "
        "quantile_cont(value, 0.95) FROM events").fetchone()
    width = (hi - lo) / nbins
    assert abs(row["q_50"] - p50) <= width
    assert abs(row["q_95"] - p95) <= width


def test_histogram_degenerate_single_value(spark):
    from pyspark.sql import functions as F
    df = spark.range(100).select(F.lit(7.5).alias("v"))
    row = histogram_quantiles(df, "v", quantiles=(0.5,)).collect()[0]
    assert row["n"] == 100 and row["q_50"] == 7.5


def test_histogram_rejects_bad_quantile(events):
    with pytest.raises(ValueError):
        histogram_quantiles(events, "value", quantiles=(1.5,))


def test_sketches_stay_jvm_side(events):
    # the whole sketch is Column expressions — no Python workers
    for df in (hll_distinct(events, "user_id"),
               histogram_quantiles(events, "value")):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "FlatMapGroupsInPandas" not in plan


def test_count_min_overcounts_never_undercounts(spark):
    from flink_skyline_qos_spark.operators.sketches import (
        count_min,
        count_min_estimate,
    )

    rows = [(f"item{i % 37}",) for i in range(1000)] + [(None,)]
    df = spark.createDataFrame(rows, "item string")
    # width 16 << 37 distinct items: collisions guaranteed
    sk = count_min(df, "item", depth=3, width=16)
    exact = df.where(F.col("item").isNotNull()) \
        .groupBy("item").agg(F.count(F.lit(1)).alias("tf"))
    est = count_min_estimate(sk, exact, "item", depth=3, width=16)
    out = est.collect()
    assert len(out) == 37
    assert all(r.cm_est >= r.tf for r in out)
    # sketch is capped at depth*width rows
    assert sk.count() <= 3 * 16


def test_count_min_exact_when_wide(spark):
    from flink_skyline_qos_spark.operators.sketches import (
        count_min,
        count_min_estimate,
    )

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "item string")
    # 2^14 buckets for 3 items: collision probability ~ 0 for this
    # fixed md5 hash set (deterministic, so this is a stable fact,
    # not a flaky probabilistic assertion)
    sk = count_min(df, "item", depth=4, width=16384)
    cand = df.distinct()
    got = {r.item: r.cm_est for r in
           count_min_estimate(sk, cand, "item",
                              depth=4, width=16384).collect()}
    assert got == {"a": 5, "b": 3, "c": 1}


def test_count_min_matches_oracle_and_partitioning(spark, sf_dir):
    import duckdb

    import __spark_entry__ as entrymod

    fn = entrymod.queries()["count_min_tokens_documents"]
    got = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * "
            f"FROM '{sf_dir}/documents.parquet'")
    want_rel = con.sql(entrymod.oracle_sql()["count_min_tokens_documents"])
    cols = want_rel.columns
    # align column order to Spark's before comparing
    idx = [cols.index(c) for c in ["token", "term_freq", "rank", "cm_est"]]
    want = sorted(tuple(row[i] for i in idx) for row in want_rel.fetchall())
    assert got == want
    assert all(r[3] >= r[1] for r in got)  # cm_est >= term_freq
    # partitioning invariance: the md5 sketch is a pure function of
    # the multiset of items, whatever the physical layout
    from flink_skyline_qos_spark.operators.sketches import (
        count_min,
        count_min_estimate,
    )
    from flink_skyline_qos_spark.sources.tables import load_table

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    cand = spark.createDataFrame(
        [(t,) for t, *_ in got], "token string")
    a = sorted(tuple(r) for r in count_min_estimate(
        count_min(toks, "token", depth=4, width=512), cand, "token",
        depth=4, width=512).collect())
    b = sorted(tuple(r) for r in count_min_estimate(
        count_min(toks.repartition(7), "token", depth=4, width=512),
        cand, "token", depth=4, width=512).collect())
    assert a == b


def test_count_min_bad_args(spark):
    from flink_skyline_qos_spark.operators.sketches import count_min

    df = spark.createDataFrame([("a",)], "item string")
    with pytest.raises(ValueError):
        count_min(df, "item", depth=0)
    with pytest.raises(ValueError):
        count_min(df, "item", width=1)


def test_histogram_nan_values_excluded_both_engines(spark):
    import duckdb as _dd
    import pandas as pd

    from flink_skyline_qos_spark.operators.sketches import (
        histogram_quantiles, histogram_quantiles_sql)
    rows = [(1.0,), (2.0,), (float("nan"),), (3.0,)]
    df = spark.createDataFrame(rows, "v double")
    got = [tuple(r) for r in histogram_quantiles(
        df, "v", quantiles=(0.5,)).collect()]
    con = _dd.connect()
    con.register("t", pd.DataFrame(rows, columns=["v"]))
    want = [tuple(r) for r in con.sql(histogram_quantiles_sql(
        "t", "v", quantiles=(0.5,))).fetchall()]
    assert got == want
    assert got[0][0] == 3 and got[0][1] == got[0][1]  # n=3, not NaN
