"""Compaction (latest-by-key) and deterministic correlation matrix."""

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_skyline_qos_spark.operators.compaction import (
    latest_by_key,
    latest_by_key_sql,
)
from flink_skyline_qos_spark.operators.stats import (
    corr_matrix,
    corr_matrix_sql,
)


def test_latest_by_key_matches_oracle(spark, events, sf_dir):
    got = sorted(tuple(r) for r in latest_by_key(
        events, "user_id", order_col="ts", tiebreak="event_id")
        .collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * "
            f"FROM '{sf_dir}/events.parquet'")
    want = sorted(tuple(r) for r in con.sql(latest_by_key_sql(
        "events",
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
        "user_id", order_col="ts", tiebreak="event_id")).fetchall())
    assert got == want
    keys = [g[2] for g in got]
    assert len(keys) == len(set(keys))  # one row per key


def test_latest_by_key_tiebreak_is_decisive(spark):
    rows = [(1, 100, 10.0), (2, 100, 20.0), (3, 99, 30.0)]
    df = spark.createDataFrame(rows, "id bigint, ts bigint, v double")
    df = df.withColumn("k", F.lit("a"))
    out = latest_by_key(df, "k", order_col="ts", tiebreak="id").collect()
    assert len(out) == 1 and out[0].id == 2  # max (ts, id)


def test_latest_by_key_plan_combines_map_side(spark, events):
    # the exchange must sit ABOVE a partial max_by: each mapper
    # collapses to one candidate per key before shuffling (the window
    # row_number form would shuffle every version)
    df = latest_by_key(events, "user_id", order_col="ts",
                       tiebreak="event_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert plan.find("Exchange") < plan.find("partial_max_by")


def test_corr_matrix_matches_oracle_bit_exact(spark, lineitem, sf_dir):
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    got = sorted(tuple(r) for r in corr_matrix(lineitem, cols).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * "
            f"FROM '{sf_dir}/lineitem.parquet'")
    want = sorted(tuple(r) for r in
                  con.sql(corr_matrix_sql("lineitem", cols)).fetchall())
    assert got == want  # exact float equality


def test_corr_matrix_close_to_native_and_invariant(spark, lineitem):
    cols = ["l_quantity", "l_extendedprice"]
    ours = corr_matrix(lineitem, cols).collect()[0]["corr"]
    native = lineitem.stat.corr(*cols)
    assert abs(ours - native) < 1e-6  # quantization error only
    again = corr_matrix(lineitem.repartition(13), cols) \
        .collect()[0]["corr"]
    assert ours == again  # partitioning-invariant, bit-for-bit


def test_corr_matrix_perfect_and_anti_correlation(spark):
    df = spark.range(100).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2.0 + 1.0).alias("y"),
        (-F.col("id").cast("double")).alias("z"))
    out = {(r.col_x, r.col_y): r.corr
           for r in corr_matrix(df, ["x", "y", "z"]).collect()}
    assert out[("x", "y")] == pytest.approx(1.0, abs=1e-12)
    assert out[("x", "z")] == pytest.approx(-1.0, abs=1e-12)


def test_corr_matrix_rejects_single_column(spark, lineitem):
    with pytest.raises(ValueError):
        corr_matrix(lineitem, ["l_quantity"])


def test_corr_matrix_nan_rows_excluded_both_engines(spark):
    import duckdb as _dd
    import pandas as pd
    rows = [(1.0, 2.0), (2.0, 4.0), (float("nan"), 6.0), (3.0, 7.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = [tuple(r) for r in corr_matrix(df, ["x", "y"]).collect()]
    con = _dd.connect()
    con.register("t", pd.DataFrame(rows, columns=["x", "y"]))
    want = [tuple(r) for r in con.sql(
        corr_matrix_sql("t", ["x", "y"])).fetchall()]
    assert got == want
    assert got[0][2] == 3  # the NaN row is complete-case-dropped


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


def test_quantile_bins_matches_oracle_and_depth(spark, events, sf_dir):
    from flink_skyline_qos_spark.operators.stats import (
        quantile_bins,
        quantile_bins_sql,
    )

    got = sorted(tuple(r) for r in
                 quantile_bins(events, "value", nbins=10).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * "
            f"FROM '{sf_dir}/events.parquet'")
    want = sorted(tuple(r) for r in con.sql(quantile_bins_sql(
        "SELECT value FROM events", "value", nbins=10)).fetchall())
    assert got == want
    assert [b for b, *_ in got] == list(range(10))
    ns = [n for _, n, *_ in got]
    # equi-depth: buckets within 25% of each other (ties can skew)
    assert max(ns) <= 1.25 * min(ns)
    # buckets tile the value range in order without overlap
    for (_, _, _, hi_prev), (_, _, lo_next, _) in zip(got, got[1:]):
        assert hi_prev <= lo_next + 1e-9


def test_quantile_bins_boundary_and_nan(spark):
    from flink_skyline_qos_spark.operators.stats import quantile_bins

    rows = [(float(v),) for v in range(1, 9)] + [(None,), (float("nan"),)]
    df = spark.createDataFrame(rows, "value double")
    out = {r.bin: (r.n, r.lo, r.hi) for r in
           quantile_bins(df, "value", nbins=2).collect()}
    # 8 clean values, median cut 4.5: 1-4 below, 5-8 above; NULL/NaN gone
    assert out == {0: (4, 1.0, 4.0), 1: (4, 5.0, 8.0)}


def test_quantile_bins_bad_args(spark, events):
    from flink_skyline_qos_spark.operators.stats import (
        quantile_bins,
        quantile_bins_sql,
    )

    with pytest.raises(ValueError):
        quantile_bins(events, "value", nbins=1)
    with pytest.raises(ValueError):
        quantile_bins_sql("events", "value", nbins=10000)


def test_mad_outliers_crafted_and_degenerate(spark):
    from flink_skyline_qos_spark.operators.stats import mad_outliers

    rows = [("a", float(v)) for v in [10, 11, 12, 13, 14, 1000]] + \
           [("b", 5.0)] * 6 + [("b", 9.0)] + \
           [("a", None), ("a", float("nan"))]
    df = spark.createDataFrame(rows, "g string, value double")
    out = mad_outliers(df, "value", group_cols=["g"]).collect()
    a = {r.value: r.is_outlier for r in out if r.g == "a"}
    # med(a)=12.5, MAD=1.5: 1000 flagged, the band not
    assert a[1000.0] is True
    assert all(not a[v] for v in (10.0, 11.0, 12.0, 13.0, 14.0))
    # group b: median 5, MAD 0 (majority identical) -> nothing flagged
    b = [r.is_outlier for r in out if r.g == "b"]
    assert len(b) == 7 and not any(b)
    # NULL/NaN rows dropped
    assert len(out) == 13


def test_mad_outliers_matches_oracle(spark, events, sf_dir):
    from flink_skyline_qos_spark.operators.stats import (
        mad_outliers,
        mad_outliers_sql,
    )

    sdf = mad_outliers(
        events.select("event_id", "event_type", "value"),
        "value", group_cols=["event_type"])
    s_idx = sorted(range(len(sdf.columns)),
                   key=lambda i: sdf.columns[i])
    got = sorted(tuple(tuple(r)[i] for i in s_idx)
                 for r in sdf.collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * "
            f"FROM '{sf_dir}/events.parquet'")
    rel = con.sql(mad_outliers_sql(
        "SELECT event_id, event_type, value FROM events",
        "value", group_cols=["event_type"]))
    d_idx = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    want = sorted(tuple(row[i] for i in d_idx) for row in rel.fetchall())
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert got == want


def test_mad_outliers_ungrouped_and_bad_threshold(spark):
    from flink_skyline_qos_spark.operators.stats import (
        mad_outliers,
        mad_outliers_sql,
    )

    df = spark.createDataFrame(
        [(float(v),) for v in [1, 2, 3, 4, 5, 100]], "value double")
    out = {r.value: r.is_outlier for r in
           mad_outliers(df, "value").collect()}
    assert out[100.0] is True and not out[3.0]
    with pytest.raises(ValueError):
        mad_outliers(df, "value", threshold=0)
    with pytest.raises(ValueError):
        mad_outliers_sql("t", "value", threshold=-1)
