"""Skyline DataFrame operators vs the DuckDB NOT-EXISTS oracle on real testdata."""

import functools

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from flink_skyline_qos_spark import (
    grouped_skyline,
    skyline,
    skyline_anti_join,
    skyline_not_exists_sql,
    skyline_two_phase,
)

DIMS2 = ["l_extendedprice", "l_discount"]
DIMS3 = ["l_extendedprice", "l_discount", "l_quantity"]


def duck_skyline(sf_dir, table, cols, extra=""):
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'"
    )
    return con.sql(skyline_not_exists_sql(table, cols, extra)).fetchall()


def as_sorted(rows):
    return sorted(tuple(r) for r in rows)


@pytest.fixture(scope="module")
def oracle_2d(sf_dir):
    return as_sorted(duck_skyline(sf_dir, "lineitem", DIMS2))


def spark_rows(df, cols):
    return as_sorted([tuple(r) for r in df.select(*cols).collect()])


def all_cols(df):
    return df.columns


def test_skyline_narrow(lineitem, oracle_2d):
    got = skyline(lineitem, DIMS2)
    assert spark_rows(got, all_cols(lineitem)) == oracle_2d


def test_skyline_anti_join(lineitem, oracle_2d):
    got = skyline_anti_join(lineitem, DIMS2)
    assert spark_rows(got, all_cols(lineitem)) == oracle_2d


@pytest.mark.parametrize("algo", ["mr-dim", "mr-grid", "mr-angle"])
def test_skyline_two_phase_partition_invariance(lineitem, oracle_2d, algo):
    got = skyline_two_phase(lineitem, DIMS2, algo=algo, num_partitions=8)
    assert got.schema == lineitem.schema
    assert spark_rows(got, all_cols(lineitem)) == oracle_2d


@pytest.mark.parametrize("algo", ["mr-dim", "mr-grid", "mr-angle"])
def test_skyline_two_phase_partition_col(lineitem, algo):
    """`partition_col` keeps each row's pid: the rows are skyline()'s,
    the schema is the input's plus the tag, and every tag is the
    partitioner evaluated on its row."""
    from flink_skyline_qos_spark.operators.partitioners import (
        partitioner_expr,
    )

    got = skyline_two_phase(lineitem, DIMS3, algo=algo, num_partitions=8,
                            domain_max=120000.0, partition_col="pid")
    assert got.schema.names == [*lineitem.columns, "pid"]
    assert got.schema.fields[:-1] == lineitem.schema.fields
    assert got.schema["pid"].dataType == IntegerType()
    assert spark_rows(got, lineitem.columns) == spark_rows(
        skyline(lineitem, DIMS3), lineitem.columns)
    want = partitioner_expr(algo, [F.col(c) for c in DIMS3], 8, 120000.0)
    tags = got.select("pid", want.alias("want")).collect()
    assert tags and all(r.pid == r.want for r in tags)


@pytest.mark.parametrize("algo", ["mr-dim", "mr-grid", "mr-angle", "mr-z"])
def test_skyline_two_phase_infinite_coordinates(spark, algo):
    """+inf in any dim is a valid coordinate: the JVM tag clamps it into
    range (mr-dim's floor(inf / w) used to overflow the int cast) and
    the answer equals skyline()'s, the +inf survivors included."""
    import numpy as np

    inf = float("inf")
    rng = np.random.default_rng(7)
    rows = [(i, *map(float, rng.integers(1, 100, 3))) for i in range(300)]
    rows += [(300, inf, 0.0, 0.0), (301, 0.0, inf, 0.0),
             (302, 0.0, 0.0, inf), (303, inf, inf, inf), (304, inf, 5.0, 5.0)]
    df = spark.createDataFrame(rows, "id long, d0 double, d1 double,"
                                     " d2 double")
    cols = ["d0", "d1", "d2"]
    got = spark_rows(skyline_two_phase(df, cols, algo=algo, num_partitions=4,
                                       domain_max=100.0), df.columns)
    assert got == spark_rows(skyline(df, cols), df.columns)
    assert {300, 301, 302} <= {r[0] for r in got}


def test_skyline_3d(lineitem, sf_dir):
    oracle = as_sorted(duck_skyline(sf_dir, "lineitem", DIMS3))
    got = skyline(lineitem, DIMS3)
    assert spark_rows(got, all_cols(lineitem)) == oracle


def test_skyline_tree_merge(lineitem, oracle_2d):
    got = skyline(lineitem, DIMS2, merge_partitions=4)
    assert spark_rows(got, all_cols(lineitem)) == oracle_2d


def test_grouped_skyline(events, sf_dir):
    from pyspark.sql import functions as F

    got = grouped_skyline(
        events.withColumn("unix_ms", F.unix_millis(F.col("ts").cast("timestamp")).cast("double")),
        ["value", "unix_ms"], by="event_type",
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    oracle = con.sql(
        """
        WITH e AS (SELECT *, cast(epoch_ms(ts) as double) unix_ms FROM events)
        SELECT t.event_id, t.value FROM e t
        WHERE NOT EXISTS (
          SELECT 1 FROM e u
          WHERE u.event_type = t.event_type
            AND u.value <= t.value AND u.unix_ms <= t.unix_ms
            AND (u.value < t.value OR u.unix_ms < t.unix_ms)
        )
        """
    ).fetchall()
    got_rows = as_sorted(
        [tuple(r) for r in got.select("event_id", "value").collect()]
    )
    assert got_rows == as_sorted(oracle)


def test_duplicates_survive(spark):
    df = spark.createDataFrame(
        [(i, 1.0, 2.0) for i in range(5)] + [(9, 0.5, 3.0)],
        "id long, d0 double, d1 double",
    )
    assert skyline(df, ["d0", "d1"]).count() == 6


def test_empty_input(spark):
    df = spark.createDataFrame([], "id long, d0 double, d1 double")
    assert skyline(df, ["d0", "d1"]).count() == 0
    assert skyline_two_phase(df, ["d0", "d1"], num_partitions=4).count() == 0


def test_two_phase_with_prefilter(lineitem, oracle_2d):
    got = skyline_two_phase(lineitem, DIMS2, algo="mr-grid",
                            num_partitions=8, prefilter=True)
    assert spark_rows(got, all_cols(lineitem)) == oracle_2d


def test_grouped_skyline_strategies_agree(events):
    """window plan ≡ pandas kernel ≡ salted pandas kernel (2-D)."""
    from pyspark.sql import functions as F

    ev = events.select(
        "event_id", "event_type", "value",
        F.unix_millis(F.col("ts").cast("timestamp")).cast("double").alias("unix_ms"))
    window = {tuple(r) for r in
              grouped_skyline(ev, ["value", "unix_ms"], by="event_type",
                              strategy="window").collect()}
    kernel = {tuple(r) for r in
              grouped_skyline(ev, ["value", "unix_ms"], by="event_type",
                              strategy="kernel").collect()}
    salted = {tuple(r) for r in
              grouped_skyline(ev, ["value", "unix_ms"], by="event_type",
                              strategy="kernel", salt=8).collect()}
    assert window == kernel == salted
    assert window  # non-vacuous


def test_grouped_skyline_window_duplicates_and_ties(spark):
    """Exact duplicates survive; same-d0 strictly-smaller-d1 dominates."""
    df = spark.createDataFrame(
        [
            ("g", 1, 1.0, 5.0), ("g", 2, 1.0, 5.0),   # duplicate minima
            ("g", 3, 1.0, 7.0),                        # same d0, worse d1
            ("g", 4, 2.0, 5.0),                        # dominated via d0
            ("g", 5, 2.0, 4.0),                        # incomparable
            ("h", 6, 9.0, 9.0),                        # other group
        ],
        "grp string, id long, d0 double, d1 double",
    )
    got = grouped_skyline(df, ["d0", "d1"], by="grp", strategy="window")
    assert {r.id for r in got.collect()} == {1, 2, 5, 6}


def test_grouped_skyline_null_group_keys(spark):
    """NULL group keys form a regular group in every strategy (the window
    plan joins back null-safely — a plain equi-join would drop them)."""
    df = spark.createDataFrame(
        [
            (None, 1, 1.0, 5.0), (None, 2, 2.0, 4.0),  # incomparable pair
            (None, 3, 3.0, 6.0),                        # dominated by id=1
            ("g", 4, 9.0, 9.0),
        ],
        "grp string, id long, d0 double, d1 double",
    )
    for strategy in ("window", "kernel"):
        got = grouped_skyline(df, ["d0", "d1"], by="grp", strategy=strategy)
        assert {r.id for r in got.collect()} == {1, 2, 4}, strategy


def test_skyline_auto_both_branches(lineitem, oracle_2d, monkeypatch):
    """Both branches answer the oracle.  lineitem's fixed-width columns
    fit the driver budget and run the driver two-phase plan; with the
    budget at 0, or with lineitem's string columns, the executor plan
    runs.  Only the executor plan's local prune is a MapInArrow node."""
    from pyspark.sql.types import StringType

    from flink_skyline_qos_spark.operators import skyline as sky

    fixed = lineitem.select(*[f.name for f in lineitem.schema.fields
                              if not isinstance(f.dataType, StringType)])
    keep = [lineitem.columns.index(c) for c in fixed.columns]
    oracle_fixed = as_sorted([tuple(r[i] for i in keep) for r in oracle_2d])

    def on_driver(df):
        out = sky.skyline_auto(df, DIMS2)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return out, "MapInArrow" not in plan

    got, driver = on_driver(fixed)
    assert driver
    assert spark_rows(got, fixed.columns) == oracle_fixed
    got, driver = on_driver(lineitem)
    assert not driver
    assert spark_rows(got, all_cols(lineitem)) == oracle_2d
    monkeypatch.setattr(sky, "_DRIVER_SHARE", 0.0)
    got, driver = on_driver(fixed)
    assert not driver
    assert spark_rows(got, fixed.columns) == oracle_fixed


def _count_jobs(spark, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"count-jobs-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_two_phase_mr_angle_infers_no_domain_max(spark):
    """MR-Angle never reads domain_max, so with domain_max=None the
    toArrow() collect is the only Spark job: no max() job runs."""
    df = spark.range(2000).select(
        "id", (F.col("id") * 7919 % 997).cast("double").alias("d0"),
        (F.col("id") * 6131 % 991).cast("double").alias("d1"))
    out, jobs = _count_jobs(spark, lambda: skyline_two_phase(
        df, ["d0", "d1"], algo="mr-angle", num_partitions=8))
    assert jobs == 1
    assert spark_rows(out, df.columns) == spark_rows(
        skyline(df, ["d0", "d1"]), df.columns)


def _auto_on_driver(monkeypatch, df, cols):
    """skyline_auto with its driver branch forced: a frame built by
    createDataFrame from a Python list has an unknown size estimate and
    would otherwise run the executor branch."""
    from flink_skyline_qos_spark.operators import skyline as sky

    with monkeypatch.context() as m:
        m.setattr(sky, "_fits_driver", lambda df: True)
        out = sky.skyline_auto(df, cols)
    assert "MapInArrow" not in \
        out._jdf.queryExecution().optimizedPlan().toString()
    return out


def test_null_dims_one_semantics_across_strategies(spark, monkeypatch):
    """Rows with a NULL dominance dimension are excluded by EVERY
    strategy and by the SQL twin — without the explicit filter, SQL
    three-valued logic keeps an all-NULL row the NumPy kernel drops."""
    import duckdb

    from flink_skyline_qos_spark.functions.dominance import (
        skyline_not_exists_sql,
    )
    from flink_skyline_qos_spark.operators.skyline import (
        skyline,
        skyline_anti_join,
        skyline_auto,
        skyline_two_phase,
    )
    from flink_skyline_qos_spark.plans.metrics import skyline_query_metrics

    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, None, 0.5), (3, 2.0, 2.0), (4, None, None)],
        "id long, x double, y double",
    )
    for fn in (
        lambda: skyline(pts, ["x", "y"]),
        lambda: skyline_anti_join(pts, ["x", "y"]),
        lambda: skyline_two_phase(pts, ["x", "y"], domain_max=10.0),
        lambda: skyline_auto(pts, ["x", "y"]),
        lambda: _auto_on_driver(monkeypatch, pts, ["x", "y"]),
    ):
        assert sorted(r.id for r in fn().collect()) == [1]
    # the metrics row counts every record but only complete rows compete
    m = skyline_query_metrics(pts, ["x", "y"], domain_max=10.0).first()
    assert (m.record_count, m.skyline_size) == (4, 1)
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT * FROM (VALUES (1, 1.0, 1.0), "
            "(2, NULL, 0.5), (3, 2.0, 2.0), (4, NULL, NULL)) v(id, x, y)")
    got = sorted(r[0] for r in con.sql(
        f"SELECT id FROM ({skyline_not_exists_sql('t', ['x', 'y'])})"
    ).fetchall())
    assert got == [1]


def test_nan_dims_one_semantics_across_strategies(spark, monkeypatch):
    """NaN dims are excluded like NULLs: IEEE comparisons keep a NaN
    row alive in the kernel while Spark SQL's NaN-greatest ordering
    dominates it away — complete-vectors semantics unifies both."""
    import duckdb

    from flink_skyline_qos_spark.functions.dominance import (
        skyline_not_exists_sql,
    )
    from flink_skyline_qos_spark.operators.skyline import (
        skyline,
        skyline_anti_join,
        skyline_auto,
    )

    nan = float("nan")
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, nan, 0.5), (3, 0.5, nan), (4, 2.0, 2.0)],
        "id long, x double, y double",
    )
    for fn in (skyline, skyline_anti_join, skyline_auto,
               functools.partial(_auto_on_driver, monkeypatch)):
        assert sorted(r.id for r in fn(pts, ["x", "y"]).collect()) == [1]
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT * FROM (VALUES (1, 1.0, 1.0), "
            "(2, 'nan'::DOUBLE, 0.5), (3, 0.5, 'nan'::DOUBLE), "
            "(4, 2.0, 2.0)) v(id, x, y)")
    got = sorted(r[0] for r in con.sql(
        f"SELECT id FROM ({skyline_not_exists_sql('t', ['x', 'y'])})"
    ).fetchall())
    assert got == [1]


# --- incremental maintenance + onion layers --------------------------

def test_skyline_delta_equals_full_recompute(spark, lineitem):
    from flink_skyline_qos_spark.operators.skyline import (
        skyline, skyline_delta)
    dims = ["l_extendedprice", "l_discount"]
    sel = ["l_orderkey"] + dims
    base = lineitem.where("l_orderkey % 3 != 0").select(*sel)
    ins = lineitem.where("l_orderkey % 3 = 0").select(*sel)
    got = sorted(tuple(r) for r in skyline_delta(
        skyline(base, dims), ins, dims).collect())
    want = sorted(tuple(r) for r in skyline(
        lineitem.select(*sel), dims).collect())
    assert got == want


def test_skyline_delta_delete_equals_full_recompute(spark, lineitem):
    from flink_skyline_qos_spark.operators.skyline import (
        skyline, skyline_delta_delete)
    dims = ["l_extendedprice", "l_discount"]
    sel = ["l_orderkey", "l_linenumber"] + dims
    base = lineitem.select(*sel)
    # deletes include the min-price row — a guaranteed skyline member —
    # so the exposure re-peel path actually runs
    dels = base.where("l_extendedprice < 2000")
    got = sorted(tuple(r) for r in skyline_delta_delete(
        base, skyline(base, dims), dels, dims,
        keys=["l_orderkey", "l_linenumber"]).collect())
    want = sorted(tuple(r) for r in skyline(
        base.where("l_extendedprice >= 2000"), dims).collect())
    assert got == want
    assert got  # non-degenerate: the shrunken view is non-empty


def test_skyline_delta_delete_nonmember_is_noop(spark):
    """Deleting only dominated rows must leave the view unchanged, and
    the dead set is empty so no exposure candidates are generated."""
    from flink_skyline_qos_spark.operators.skyline import (
        skyline, skyline_delta_delete)
    rows = [(1, 1.0, 5.0), (2, 5.0, 1.0), (3, 4.0, 6.0), (4, 6.0, 6.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    view = skyline(df, ["x", "y"])
    dels = df.where("id = 4")
    got = sorted(r["id"] for r in skyline_delta_delete(
        df, view, dels, ["x", "y"], keys=["id"]).collect())
    assert got == [1, 2]


def test_skyline_delta_delete_exposes_hidden_region(spark):
    """Deleting a skyline member promotes exactly the rows only IT was
    dominating — including ties with the surviving frontier."""
    from flink_skyline_qos_spark.operators.skyline import (
        skyline, skyline_delta_delete)
    rows = [(1, 1.0, 5.0), (2, 5.0, 1.0),       # frontier
            (3, 2.0, 6.0), (4, 1.5, 5.5),        # hidden only by 1
            (5, 6.0, 6.0)]                       # hidden by everyone
    df = spark.createDataFrame(rows, "id long, x double, y double")
    view = skyline(df, ["x", "y"])
    got = sorted(r["id"] for r in skyline_delta_delete(
        df, view, df.where("id = 1"), ["x", "y"], keys=["id"]).collect())
    # 4 dominates 3; 5 still dominated by 2? no — (6,6) vs (5,1): 2
    # dominates 5.  New frontier: {2, 4}
    assert got == [2, 4]


def test_skyline_delta_delete_mass_delete_anticorr_3d(spark):
    """A big delete batch (every 3rd id of a 3-D anti-correlated set —
    kills a third of the skyline, exposing a large hidden region) must
    still equal the full recompute; exercises the AQE-decided delete
    join and a non-trivial re-peel."""
    from flink_skyline_qos_spark.operators.skyline import (
        skyline, skyline_delta_delete)
    from flink_skyline_qos_spark.sources.generators import (
        generate_points_hash)

    pts = generate_points_hash(spark, 20_000, 3, dist="anti_correlated")
    dims = ["d0", "d1", "d2"]
    dels = pts.where("id % 3 = 0")
    got = sorted(tuple(r) for r in skyline_delta_delete(
        pts, skyline(pts, dims), dels, dims, keys=["id"]).collect())
    want = sorted(tuple(r) for r in skyline(
        pts.where("id % 3 != 0"), dims).collect())
    assert got == want
    assert len(got) > 100  # non-degenerate frontier


def test_skyline_layers_structure(spark):
    from flink_skyline_qos_spark.operators.skyline import skyline_layers
    # diagonal chain + a tie on layer 1
    rows = [(1, 1.0, 1.0), (2, 1.0, 1.0), (3, 2.0, 2.0), (4, 3.0, 3.0),
            (5, 4.0, 4.0)]
    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    got = sorted((r.id, r.layer) for r in skyline_layers(
        df, ["x", "y"], max_layers=3).collect())
    # ties share layer 1; deeper than max_layers omitted
    assert got == [(1, 1), (2, 1), (3, 2), (4, 3)]


def test_skyline_layers_every_deep_point_has_shallower_dominator(
        spark, lineitem):
    from flink_skyline_qos_spark.operators.skyline import skyline_layers
    dims = ["l_extendedprice", "l_discount"]
    out = skyline_layers(lineitem.select(*dims), dims,
                         max_layers=2).collect()
    l1 = [(r.l_extendedprice, r.l_discount) for r in out if r.layer == 1]
    l2 = [(r.l_extendedprice, r.l_discount) for r in out if r.layer == 2]
    assert l1 and l2
    for p in l2:
        assert any(q[0] <= p[0] and q[1] <= p[1]
                   and (q[0] < p[0] or q[1] < p[1]) for q in l1)


def test_mr_z_is_linear_extension_of_dominance(spark):
    """The MR-Z property that makes bucket 0's local skyline final: if
    p dominates q then zbucket(p) <= zbucket(q) — checked exhaustively
    on a random grid via a self-join."""
    from flink_skyline_qos_spark.operators.partitioners import (
        partitioner_expr,
    )

    df = spark.range(500).select(
        (F.col("id") * 7919 % 97).cast("double").alias("d0"),
        (F.col("id") * 6131 % 89).cast("double").alias("d1"))
    pid = partitioner_expr("mr-z", [F.col("d0"), F.col("d1")], 8, 100.0)
    t = df.withColumn("b", pid)
    a, b = t.alias("a"), t.alias("b")
    violations = a.join(
        b,
        (F.col("a.d0") <= F.col("b.d0")) & (F.col("a.d1") <= F.col("b.d1"))
        & ((F.col("a.d0") < F.col("b.d0")) | (F.col("a.d1") < F.col("b.d1")))
        & (F.col("a.b") > F.col("b.b")),
    ).count()
    assert violations == 0


def test_mr_z_two_phase_matches_plain_skyline(spark, lineitem):
    from flink_skyline_qos_spark.operators.skyline import (
        skyline,
        skyline_two_phase,
    )

    cols = ["l_extendedprice", "l_discount"]
    plain = sorted(
        tuple(r) for r in skyline(
            lineitem.select("l_orderkey", *cols), cols).collect())
    mrz = sorted(
        tuple(r) for r in skyline_two_phase(
            lineitem.select("l_orderkey", *cols), cols, algo="mr-z",
            num_partitions=8, domain_max=120000.0).collect())
    assert plain == mrz


def test_mr_z_bucket_zero_local_skyline_is_final(spark):
    """Consequence of the linear-extension property: bucket 0's local
    skyline appears unchanged in the global skyline."""
    from flink_skyline_qos_spark.operators.kernels import skyline_mask
    from flink_skyline_qos_spark.operators.partitioners import (
        partitioner_expr,
    )
    from flink_skyline_qos_spark.operators.skyline import skyline

    import numpy as np

    df = spark.range(2000).select(
        (F.col("id") * 7919 % 9973).cast("double").alias("d0"),
        (F.col("id") * 6131 % 9941).cast("double").alias("d1"))
    pid = partitioner_expr("mr-z", [F.col("d0"), F.col("d1")], 8, 10000.0)
    tagged = df.withColumn("b", pid)
    b0 = tagged.filter(F.col("b") == 0).select("d0", "d1")
    rows = np.array([[r.d0, r.d1] for r in b0.collect()])
    assert rows.size  # bucket 0 non-empty on this grid
    local0 = {tuple(t) for t in rows[skyline_mask(rows)]}
    global_sky = {(r.d0, r.d1) for r in
                  skyline(df, ["d0", "d1"]).collect()}
    assert local0 <= global_sky


def test_width_safe_rewrite_heuristic_and_equivalence(lineitem, oracle_2d):
    """The wide-row rewrite (VERDICT r8 #1): LI_COLS-wide lineitem
    trips the width heuristic, dims-only frames do not, and both paths
    return identical rows in the INPUT column order."""
    from flink_skyline_qos_spark.operators.skyline import _narrow_rewrite

    assert _narrow_rewrite(lineitem, DIMS2)
    assert not _narrow_rewrite(lineitem.select(*DIMS2), DIMS2)
    # synthetic (id, d0, d1) bench shape: 8 extra bytes -> direct path
    assert not _narrow_rewrite(
        lineitem.selectExpr("l_orderkey as id",
                            "l_extendedprice as d0", "l_discount as d1"),
        ["d0", "d1"])

    wide = skyline(lineitem, DIMS2, width_safe=True)
    direct = skyline(lineitem, DIMS2, width_safe=False)
    assert wide.columns == lineitem.columns
    assert direct.columns == lineitem.columns
    assert spark_rows(wide, all_cols(lineitem)) == oracle_2d
    assert spark_rows(direct, all_cols(lineitem)) == oracle_2d


def test_width_safe_keeps_tied_rows_with_distinct_payloads(spark,
                                                          monkeypatch):
    """Join-back semantics: every copy of a skyline dim vector survives
    — including copies whose PAYLOAD columns differ (the semi-join keys
    are the dims alone, never the payload)."""
    rows = [
        (1, "a" * 500, 1.0, 2.0),   # skyline vector, payload A
        (2, "b" * 500, 1.0, 2.0),   # same vector, different payload
        (3, "c" * 500, 2.0, 1.0),   # incomparable skyline vector
        (4, "d" * 500, 3.0, 3.0),   # dominated
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, d0 double, d1 double")
    from flink_skyline_qos_spark.operators.skyline import (
        _narrow_rewrite, skyline, skyline_auto)

    assert _narrow_rewrite(df, ["d0", "d1"])  # text payload -> rewrite
    for fn in (skyline, skyline_auto,
               functools.partial(_auto_on_driver, monkeypatch)):
        got = sorted((r.doc_id, r.d0, r.d1)
                     for r in fn(df, ["d0", "d1"]).collect())
        assert got == [(1, 1.0, 2.0), (2, 1.0, 2.0), (3, 2.0, 1.0)], fn


def test_skyline_2d_window_matches_kernel_and_keeps_ties(spark, lineitem,
                                                         oracle_2d):
    """Global 2-D window plan ≡ the kernel path, including duplicate
    skyline vectors (ties survive) and dominated-duplicate removal."""
    from flink_skyline_qos_spark.operators.skyline import skyline_2d_window

    got = skyline_2d_window(lineitem.select(*DIMS2), DIMS2)
    want = skyline(lineitem.select(*DIMS2), DIMS2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))

    rows = [(1.0, 2.0)] * 3 + [(2.0, 1.0)] * 2 + [(2.0, 2.0)] * 4
    df = spark.createDataFrame(rows, "d0 double, d1 double")
    out = sorted(map(tuple, skyline_2d_window(df, ["d0", "d1"]).collect()))
    assert out == sorted([(1.0, 2.0)] * 3 + [(2.0, 1.0)] * 2)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        skyline_2d_window(df, ["d0"])


def test_grouped_skyline_kernel_width_safe_rewrite(spark):
    """Grouped kernel path on wide rows: only (group, dims) cross the
    Arrow boundary, ties with distinct payloads survive, NULL group
    keys stay a regular group (null-safe join-back)."""
    rows = [
        ("g1", "p" * 300, 1.0, 2.0),
        ("g1", "q" * 300, 1.0, 2.0),    # tied vector, other payload
        ("g1", "r" * 300, 3.0, 3.0),    # dominated within g1
        ("g2", "s" * 300, 3.0, 3.0),    # g2's own skyline
        (None, "t" * 300, 5.0, 5.0),    # NULL group — kept as a group
        (None, "u" * 300, 6.0, 6.0),    # dominated within NULL group
    ]
    df = spark.createDataFrame(
        rows, "grp string, text string, d0 double, d1 double")
    key = lambda t: (t[0] or "", t[1])
    got = sorted(((r.grp, r.text[:1], r.d0, r.d1)
                  for r in grouped_skyline(
                      df, ["d0", "d1"], "grp",
                      strategy="kernel").collect()), key=key)
    assert got == [(None, "t", 5.0, 5.0), ("g1", "p", 1.0, 2.0),
                   ("g1", "q", 1.0, 2.0), ("g2", "s", 3.0, 3.0)]
    # both forced paths agree
    direct = sorted(((r.grp, r.text[:1], r.d0, r.d1)
                     for r in grouped_skyline(
                         df, ["d0", "d1"], "grp", strategy="kernel",
                         width_safe=False).collect()), key=key)
    assert direct == got


def test_two_phase_envelope_lossless(spark):
    """skyline_two_phase(envelope_cells=True) (round 11) must equal the
    plain two-phase result exactly — the envelope prefilter is lossless
    under the same witness argument the verify strategies rely on."""
    from flink_skyline_qos_spark.operators.skyline import skyline_two_phase
    from flink_skyline_qos_spark.sources.generators import generate_points

    pts = generate_points(spark, 30_000, 2, dist="anti_correlated",
                          num_partitions=8)
    kw = dict(algo="mr-angle", num_partitions=8, domain_max=10000.0)
    plain = sorted(map(tuple, skyline_two_phase(
        pts, ["d0", "d1"], **kw).collect()))
    env = sorted(map(tuple, skyline_two_phase(
        pts, ["d0", "d1"], envelope_cells=True, **kw).collect()))
    assert plain == env and len(plain) > 0


def _brute_skyline_ids(ids, vals):
    """Ids of the rows no other row dominates (O(n²), chunked)."""
    keep = np.ones(len(vals), dtype=bool)
    for lo in range(0, len(vals), 512):
        b = vals[lo:lo + 512]
        le = (vals[None, :, :] <= b[:, None, :]).all(axis=2)
        lt = (vals[None, :, :] < b[:, None, :]).any(axis=2)
        keep[lo:lo + 512] = ~(le & lt).any(axis=1)
    return set(ids[keep].tolist())


def test_skyline_auto_counts_rows_the_estimate_misses(spark, monkeypatch):
    """An exploded frame's size estimate is its generator child's (12
    rows), far below its 12,000 real rows.  skyline_auto counts the
    rows before it collects: over a 64 KiB budget (2,730 rows of 24
    bytes) the frame runs the executor plan, and under a 1 MiB one the
    driver plan.  Both answer the brute-force skyline."""
    from flink_skyline_qos_spark.operators import skyline as sky

    r = F.col("id") * 1000 + F.col("k")
    df = spark.range(12).select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(999))).alias("k")
    ).select(r.alias("id"), (r * 7919 % 997).cast("double").alias("d0"),
             (r * 6131 % 991).cast("double").alias("d1"))
    cols = ["d0", "d1"]
    rows = df.collect()
    assert len(rows) == 12_000
    expect = _brute_skyline_ids(
        np.array([x["id"] for x in rows]),
        np.array([[x[c] for c in cols] for x in rows], dtype=np.float64))
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    for budget, on_driver in ((1 << 16, False), (1 << 20, True)):
        assert est <= budget
        monkeypatch.setattr(sky, "_driver_budget", lambda spark: budget)
        out = sky.skyline_auto(df, cols)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert ("MapInArrow" not in plan) == on_driver, budget
        got = out.collect()
        assert sorted(x["id"] for x in got) == sorted(expect), budget


@pytest.mark.parametrize("dims,n", [(3, 3000), (4, 8000)])
def test_udt_passthrough_column_survives_every_host(spark, dims, n):
    """A user-defined-type passthrough column (`pyspark.ml` VectorUDT)
    rides through the Arrow kernel host untouched: the local prune of
    `skyline`, and `skyline_auto`, which sends such a frame to it.
    Answers match a brute-force skyline and every surviving row keeps
    its own vector.  `skyline_two_phase` cannot rebuild the column from
    Arrow, so it refuses the frame before running any Spark job."""
    from pyspark.ml.functions import array_to_vector

    from flink_skyline_qos_spark.operators.skyline import skyline_auto
    from flink_skyline_qos_spark.sources.generators import generate_points

    cols = [f"d{i}" for i in range(dims)]
    pts = generate_points(spark, n, dims, dist="anti_correlated",
                          num_partitions=4, fractional=True, eps=0.02)
    pts = pts.withColumn("vec", array_to_vector(
        F.array(F.col("id").cast("double"), F.col("d0") * 0.5)))
    assert type(pts.schema["vec"].dataType).__name__ == "VectorUDT"
    rows = pts.select("id", *cols).collect()
    expect = _brute_skyline_ids(
        np.array([r["id"] for r in rows]),
        np.array([[r[c] for c in cols] for r in rows], dtype=np.float64))

    outs = {
        "skyline": skyline(pts, cols, width_safe=False),
        "skyline_auto": skyline_auto(pts, cols),
    }
    for name, out in outs.items():
        assert out.schema == pts.schema, name
        got = out.select("id", "d0", "vec").collect()
        assert {r["id"] for r in got} == expect, name
        assert len(got) == len(expect), name
        for r in got:
            assert list(r["vec"]) == [float(r["id"]), r["d0"] * 0.5], name

    def two_phase():
        with pytest.raises(ValueError, match="use skyline"):
            skyline_two_phase(pts, cols, algo="mr-angle")

    assert _count_jobs(spark, two_phase)[1] == 0
