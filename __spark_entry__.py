"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Every operator from SURVEY.md §2 implemented so far is registered here
with a DuckDB-oracle twin; column names are aliased identically on both
sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_skyline_qos_spark import (  # noqa: E402
    grouped_skyline,
    partitioner_expr,
    partitioner_sql,
    skyline,
    skyline_not_exists_sql,
    skyline_two_phase,
)
from flink_skyline_qos_spark.operators.caching import (  # noqa: E402
    pinned_local_checkpoint,
    release_checkpoints_on_gc,
    release_on_gc,
)
from flink_skyline_qos_spark.operators.skyline import (  # noqa: E402
    skyline_2d_window,
    skyline_auto,
    skyline_delta,
    skyline_delta_delete,
    skyline_layers,
    skyline_layers_sql,
)
from flink_skyline_qos_spark.functions.text import (  # noqa: E402
    langid_confusion,
    langid_confusion_sql,
    quality_score,
    quality_score_sql,
    redact_text,
    redact_text_sql,
    repetition_stats,
    repetition_stats_sql,
    text_stats,
    text_stats_sql,
    token_count,
    token_count_sql,
    vocab,
    vocab_sql,
)
from flink_skyline_qos_spark.functions.corpus import (  # noqa: E402
    c4_rules,
    c4_rules_sql,
    chunk_documents,
    chunk_documents_sql,
    dedup_paragraphs,
    dedup_paragraphs_sql,
    contamination_check,
    contamination_check_sql,
    pack_sequences,
    pack_sequences_sql,
    shard_manifest,
    shard_manifest_sql,
    quality_floor,
    quality_floor_sql,
    rarity_score,
    rarity_score_sql,
    bigram_rarity_score,
    bigram_rarity_score_sql,
    hashed_classifier_score,
    hashed_classifier_score_sql,
    remove_boilerplate_lines,
    remove_boilerplate_lines_sql,
    bm25_topk,
    bm25_topk_sql,
    tfidf_top_terms,
    tfidf_top_terms_sql,
)
from flink_skyline_qos_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_lsh_pairs_cross,
    minhash_lsh_pairs_cross_sql,
    minhash_lsh_pairs,
    minhash_lsh_pairs_sql,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    simhash_near_dup_pairs_sql,
    substring_contamination,
    substring_contamination_sql,
    substring_dedup_pairs,
    substring_dedup_pairs_sql,
    substring_remove,
    substring_remove_sql,
    substring_dedup_pairs_cross,
    substring_dedup_pairs_cross_sql,
    substring_scrub,
    substring_scrub_sql,
    winnow_contamination,
    winnow_contamination_sql,
    winnow_pairs,
    winnow_pairs_sql,
)
from flink_skyline_qos_spark.operators.variants import (  # noqa: E402
    grid_envelope_prefilter,
    grid_envelope_prefilter_sql,
    grid_prefilter,
    grid_prefilter_sql,
    k_dominant_skyline,
    k_dominant_skyline_sql,
    dynamic_skyline,
    dynamic_skyline_sql,
    epsilon_skyline,
    epsilon_skyline_sql,
    thick_skyline,
    thick_skyline_sql,
    k_skyband,
    k_skyband_sql,
    skycube,
    skycube_sql,
    reverse_skyline,
    reverse_skyline_sql,
    representative_skyline,
    representative_skyline_sql,
    top_k_dominating,
    top_k_dominating_sql,
)
from flink_skyline_qos_spark.operators.sketches import (  # noqa: E402
    count_min,
    count_min_estimate,
    count_min_sql,
    histogram_quantiles,
    histogram_quantiles_sql,
    hll_distinct,
    hll_distinct_sql,
)
from flink_skyline_qos_spark.operators.sampling import (  # noqa: E402
    budget_mix,
    budget_mix_sql,
    deterministic_sample,
    deterministic_sample_sql,
    group_cap,
    group_cap_sql,
    hash_split,
    hash_split_sql,
    stratified_sample,
    stratified_sample_sql,
    temperature_sample,
    temperature_sample_sql,
    weighted_sample,
    weighted_sample_sql,
)
from flink_skyline_qos_spark.plans.metrics import (  # noqa: E402
    metrics_oracle_sql,
    skyline_query_metrics,
)
from flink_skyline_qos_spark.plans.queries import (  # noqa: E402
    prefix_queries_oracle_sql,
    run_prefix_queries,
)
from flink_skyline_qos_spark.sources.generators import (  # noqa: E402
    generate_docs_hash,
    generate_docs_sql,
    generate_points_hash,
    generate_points_sql,
)
from flink_skyline_qos_spark.sources.tables import load_table  # noqa: E402
from flink_skyline_qos_spark.streaming.engine import (  # noqa: E402
    SkylinePipeline,
)
from flink_skyline_qos_spark.streaming.wire import (  # noqa: E402
    serialize_service_tuples,
)

# Fixed domain constants shared verbatim by Spark exprs and oracle SQL —
# the reference takes --domain from the CLI (FlinkSkyline.java:71).
LI_DOMAIN = 120000.0
LI_DIMS2 = ["l_extendedprice", "l_discount"]
LI_DIMS3 = ["l_extendedprice", "l_discount", "l_quantity"]
LI_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
]
NUM_PARTS = 8
GEN_N = 20_000

#: Queries that exercise Structured Streaming.  The oracle gate warms
#: the streaming engine before timing a spot check of any of these
#: (ADVICE r9: warmup was a name-substring heuristic; this registry is
#: the metadata, and tests/test_entry.py's drift guard asserts
#: it matches the queries whose source actually touches the streaming
#: APIs).
STREAM_QUERIES = frozenset({
    "streaming_late_data_events",
    "streaming_pipeline_skyline",
})

# Prefix triggers on events (FIXTURES.md F2): mid-prefix, K=0 immediate,
# K beyond max(id) (pending-barrier → whole input at end-of-batch).
EVENT_TRIGGERS = [(1, 300), (2, 0), (3, 10_000_000_000)]


def _li(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(*LI_COLS)


def _events_ms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", "user_id", "event_type", "value",
        F.unix_millis(F.col("ts").cast("timestamp")).cast("double").alias("unix_ms"),
    )


_EV_SQL = (
    "(SELECT event_id, user_id, event_type, value, "
    "cast(epoch_ms(ts) as double) AS unix_ms FROM events)"
)

def _batch_fixture_files(df: DataFrame, conds, data_dir: str) -> None:
    """Write the mtime-staggered parquet batch files a streaming
    fixture replays — in ONE Spark job (a per-batch
    ``coalesce(1).write`` costs one full job + tmp-move per batch,
    ~0.5 s each at gate scale).

    `conds` is one boolean Column per batch, in replay order; rows are
    routed to the FIRST matching batch (rows matching none are
    dropped, matching the old per-side filters).  A batch with no rows
    still gets an (empty, schema-bearing) file — empty micro-batches
    are part of the replay contract.  File ``part-{i}.parquet`` gets
    mtime ``now - 10*(n-i)`` so the file-source replays ascending.
    """
    import glob as _glob
    import shutil as _shutil
    import time as _time

    n = len(conds)
    work = os.path.dirname(data_dir)
    tmpd = os.path.join(work, "__batches")
    idx = F.when(conds[0], 0)
    for i, c in enumerate(conds[1:], start=1):
        idx = idx.when(c, i)
    (df.withColumn("__b", idx.cast("int"))
       .filter(F.col("__b").isNotNull())
       .repartition(n, "__b")
       .write.mode("overwrite").partitionBy("__b").parquet(tmpd))
    now = _time.time()
    empty = None
    for i in range(n):
        srcs = _glob.glob(os.path.join(tmpd, f"__b={i}",
                                       "part-*.parquet"))
        dst = os.path.join(data_dir, f"part-{i}.parquet")
        if srcs:
            # repartition(n, "__b") routes each batch to exactly one
            # task; a multi-file partition means rows would silently
            # vanish from the replay — fail loudly instead (ADVICE r12)
            assert len(srcs) == 1, (
                f"batch __b={i} wrote {len(srcs)} part files; "
                "fixture replay would drop rows")
            _shutil.move(srcs[0], dst)
        else:
            if empty is None:  # lazily build ONE empty file, copy it
                etmp = os.path.join(work, "__empty")
                (df.sparkSession.createDataFrame([], df.schema)
                 .coalesce(1).write.mode("overwrite").parquet(etmp))
                empty = _glob.glob(os.path.join(etmp,
                                                "part-*.parquet"))[0]
            _shutil.copy(empty, dst)
        os.utime(dst, (now - 10 * (n - i),) * 2)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: two-phase MR-Angle skyline of lineitem (minimize price+discount)."""
    df = _li(spark, "/root/testdata/sf0.001")
    return skyline_two_phase(
        df, LI_DIMS2, algo="mr-angle", num_partitions=NUM_PARTS,
        domain_max=LI_DOMAIN,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- core skyline (A1+A2 composed), three physical strategies ---
    q["skyline_2d_lineitem"] = lambda s, d: skyline(_li(s, d), LI_DIMS2)
    # the all-JVM 2-D window plan (zero Python — the 1B-row bench plan)
    q["skyline_2d_window_lineitem"] = lambda s, d: skyline_2d_window(
        _li(s, d), LI_DIMS2)
    q["skyline_3d_lineitem"] = lambda s, d: skyline(_li(s, d), LI_DIMS3)
    # 4-D on the real table (the reference's hardest regime, PDF §5.4)
    q["skyline_4d_lineitem"] = lambda s, d: skyline(
        _li(s, d), [*LI_DIMS3, "l_tax"])
    # two-phase WITH the witness-guarded dominated-region prune (P4,
    # the filter the reference ships disabled) in the JVM; result is
    # value-identical to the plain 3-D skyline.
    q["skyline_3d_prefilter_lineitem"] = lambda s, d: skyline_two_phase(
        _li(s, d), LI_DIMS3, algo="mr-grid", num_partitions=8,
        prefilter=True)
    # two-phase WITH the lossless grid-envelope JVM pre-filter (round
    # 10: per-cell witness field, the strongest pre-Arrow reduction);
    # result is value-identical to the plain 3-D skyline.
    q["skyline_3d_envelope_lineitem"] = lambda s, d: skyline_two_phase(
        _li(s, d), LI_DIMS3, algo="mr-angle", num_partitions=8,
        envelope_cells=True)
    # two-phase WITH the envelope prefilter (round 11: the knob reached
    # the reference-parity plan — it cuts both shuffle #1 and the
    # grouped Python transport); value-identical to the plain 2-D
    # skyline.
    q["skyline_2d_envelope_lineitem"] = lambda s, d: skyline_two_phase(
        _li(s, d), LI_DIMS2, algo="mr-angle", num_partitions=8,
        envelope_cells=True)
    q["skyline_part"] = lambda s, d: skyline(
        load_table(s, d, "part").select("p_partkey", "p_size", "p_retailprice"),
        ["p_retailprice", "p_size"],
    )

    # --- two-phase with each reference partitioner (K1/K2/K3 + A1 + A2) ---
    for algo in ("mr-dim", "mr-grid", "mr-angle", "mr-z"):
        q[f"skyline_2d_{algo.replace('-', '_')}"] = (
            lambda s, d, a=algo: skyline_two_phase(
                _li(s, d), LI_DIMS2, algo=a, num_partitions=NUM_PARTS,
                domain_max=LI_DOMAIN,
            )
        )

    # --- partitioner routing as data (K1/K2/K3 observable output) ---
    for algo in ("mr-dim", "mr-grid", "mr-angle", "mr-z"):
        def _counts(s: SparkSession, d: str, a: str = algo) -> DataFrame:
            df = _li(s, d)
            pid = partitioner_expr(
                a, [F.col(c) for c in LI_DIMS2], NUM_PARTS, LI_DOMAIN
            )
            return (
                df.withColumn("pid", pid)
                .groupBy("pid").agg(F.count("*").alias("n_rows"))
            )
        q[f"{algo.replace('-', '_')}_partition_counts"] = _counts

    # --- SQL surface: the engine-portable ANSI NOT-EXISTS skyline runs
    # VERBATIM as Spark SQL — the oracle entry is the same string, so
    # this checks literal cross-engine SQL parity of the declarative form.
    def _sql_surface(s: SparkSession, d: str) -> DataFrame:
        _li(s, d).createOrReplaceTempView("lineitem_v")
        return s.sql(skyline_not_exists_sql(
            "(SELECT l_orderkey, l_extendedprice, l_discount "
            "FROM lineitem_v)", LI_DIMS2))

    q["skyline_sql_surface_lineitem"] = _sql_surface

    # --- incremental skyline maintenance: skyline(A∪B) ==
    # skyline(skyline(A)∪B), so a materialized skyline absorbs an
    # insert batch at |skyline(A)|+|B| cost — never a base rescan.
    # The oracle states the full-recompute answer; the query takes the
    # delta path (base = pre-1997 shipments, inserts = the rest).
    def _delta(s: SparkSession, d: str) -> DataFrame:
        li = load_table(s, d, "lineitem")
        sel = ["l_orderkey", *LI_DIMS2]
        base = li.where("l_shipdate < timestamp '1997-01-01'").select(*sel)
        ins = li.where("l_shipdate >= timestamp '1997-01-01'").select(*sel)
        return skyline_delta(skyline(base, LI_DIMS2), ins, LI_DIMS2)
    q["skyline_delta_lineitem"] = _delta

    # delete absorption: drop the cheap tail (l_extendedprice < 2000 —
    # includes the min-price row, a guaranteed skyline member at every
    # SF) from the materialized view; the delta path re-peels only the
    # deleted members' dominated region.  Oracle = full recompute over
    # the remaining rows.
    def _delta_del(s: SparkSession, d: str) -> DataFrame:
        li = load_table(s, d, "lineitem")
        base = li.select("l_orderkey", "l_linenumber", *LI_DIMS2)
        dels = base.where("l_extendedprice < 2000")
        return skyline_delta_delete(
            base, skyline(base, LI_DIMS2), dels, LI_DIMS2,
            keys=["l_orderkey", "l_linenumber"])
    q["skyline_delta_delete_lineitem"] = _delta_del

    # --- onion peeling: first three skyline layers (frontier ranking) ---
    q["skyline_layers_lineitem"] = lambda s, d: skyline_layers(
        load_table(s, d, "lineitem")
        .select("l_orderkey", *LI_DIMS2), LI_DIMS2, max_layers=3)

    # --- P4 grid pre-filter (reference had it disabled; we guard it) ---
    q["grid_prefilter_lineitem"] = lambda s, d: grid_prefilter(
        _li(s, d), LI_DIMS2, domain_max=LI_DOMAIN)
    # --- P4 generalized (round 10): per-cell witness-envelope filter;
    # the operator's own filtered multiset is value-gated directly
    q["grid_envelope_lineitem"] = lambda s, d: grid_envelope_prefilter(
        load_table(s, d, "lineitem").select(*LI_DIMS3), LI_DIMS3)

    # --- skyline variants: ranked + high-dim relaxation ---
    PART_COLS = ["p_partkey", "p_size", "p_retailprice"]
    q["topk_dominating_part"] = lambda s, d: top_k_dominating(
        load_table(s, d, "part").select(*PART_COLS),
        ["p_retailprice", "p_size"], k=20, id_cols=["p_partkey"],
    )
    # k-dominance is cyclic — points can mutually eliminate (Chan et al.
    # §3) and many configs answer empty.  This (table, dims, k) is chosen
    # to have a NON-EMPTY answer at every shipped scale factor (1 row at
    # sf0.001/0.01/0.1) so the oracle row proves the semantics; the
    # constructed-fixture test in tests/test_variants.py pins edge cases.
    q["k_dominant_skyline_part"] = lambda s, d: k_dominant_skyline(
        load_table(s, d, "part").select(*PART_COLS),
        ["p_size", "p_retailprice", "p_partkey"], k=2)
    # k-skyband: points with < k dominators, exact counts attached
    q["k_skyband_part"] = lambda s, d: k_skyband(
        load_table(s, d, "part").select(*PART_COLS),
        ["p_retailprice", "p_size"], k=3)
    # dynamic skyline: Pareto frontier of |dims - query point| — the
    # personalized "closest to my QoS target" variant
    q["dynamic_skyline_part"] = lambda s, d: dynamic_skyline(
        load_table(s, d, "part").select(*PART_COLS),
        ["p_size", "p_retailprice"], [25.0, 1200.0])
    # reverse skyline: the seller-side dual — which points would deem
    # the query offer Pareto-relevant (Dellis & Seeger); small answers
    # are intrinsic to the monochromatic form (cf. the 1-row k-dominant
    # precedent); crafted cases live in tests/test_variants.py
    q["reverse_skyline_part"] = lambda s, d: reverse_skyline(
        load_table(s, d, "part").select(*PART_COLS),
        ["p_retailprice", "p_size"], [1000.0, 25.0],
        id_col="p_partkey")
    # distance-based representative skyline (Tao et al. ICDE'09,
    # greedy 2-approx k-center): k points standing in for the whole
    # frontier + the attained squared cover radius; deterministic
    # tie-breaks make the unrolled-CTE twin exact
    q["representative_skyline_part"] = lambda s, d: representative_skyline(
        load_table(s, d, "part").select(*PART_COLS),
        ["p_retailprice", "p_size"], 3, id_col="p_partkey")
    # epsilon-skyline: drop points beaten within tolerance eps — thins
    # the dense frontier (3156 -> 581 points on this set; mutual
    # eps-elimination CAN empty a dense frontier, so the registered
    # query runs on the SF-independent generated set with a calibrated
    # eps rather than the ~2-point lineitem frontier)
    q["epsilon_skyline_gen_2d"] = lambda s, d: epsilon_skyline(
        generate_points_hash(s, GEN_N, 2, dist="anti_correlated"),
        ["d0", "d1"], eps=[2.0, 2.0])
    # thick skyline: the dual relaxation — everything within eps of
    # Pareto-optimal survives (superset of the skyline, never empty)
    q["thick_skyline_lineitem"] = lambda s, d: thick_skyline(
        load_table(s, d, "lineitem").select(*LI_DIMS2),
        LI_DIMS2, eps=[500.0, 0.005])
    # skycube: every subspace skyline of the 3-D lineitem space, one
    # DAG of independent two-phase skylines (2^3 - 1 cuboids)
    q["skycube_lineitem"] = lambda s, d: skycube(
        load_table(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", *LI_DIMS3),
        LI_DIMS3)

    # --- grouped skyline (keyed-state analogue) ---
    q["grouped_skyline_events"] = lambda s, d: grouped_skyline(
        _events_ms(s, d), ["value", "unix_ms"], by="event_type"
    )

    # --- tumbling-window skyline ("skyline of each hour") — the natural
    # Spark event-time extension of the prefix-query model (SURVEY §7.7)
    def _windowed(s: SparkSession, d: str) -> DataFrame:
        ev = load_table(s, d, "events").select(
            "event_id", "event_type", "value",
            F.unix_millis(F.col("ts").cast("timestamp")).cast("double").alias("unix_ms"),
            F.unix_timestamp(F.window("ts", "1 hour").start)
            .alias("win_start"))
        return grouped_skyline(ev, ["value", "unix_ms"], by="win_start")

    q["windowed_skyline_events"] = _windowed

    # --- session-window skyline: per-user Pareto set within activity
    # sessions (gap > 30 min starts a new session).  Sessionization is
    # the classic gaps-and-islands window plan — lag + running sum, all
    # JVM — composed with the 2-D all-JVM grouped-skyline strategy, so
    # the whole query stays in whole-stage codegen.
    def _session(s: SparkSession, d: str) -> DataFrame:
        from pyspark.sql.window import Window

        ev = load_table(s, d, "events").select(
            "event_id", "user_id", "event_type", "value",
            F.unix_millis(F.col("ts").cast("timestamp")).cast("double")
            .alias("unix_ms"))
        w = Window.partitionBy("user_id").orderBy("unix_ms", "event_id")
        new_sess = F.when(
            (F.col("unix_ms") - F.lag("unix_ms").over(w))
            > 30 * 60 * 1000, 1).otherwise(0)
        ev = ev.withColumn("__sess", F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        return grouped_skyline(ev, ["value", "unix_ms"],
                               by=["user_id", "__sess"])
    q["session_skyline_events"] = _session

    # --- data profiling: per-type distribution summary (count/min/max/
    # mean/p50/p95) — the pipeline-health check run before any training
    # job; one map-side-combined aggregate, percentile exact (matches
    # DuckDB quantile_cont bit-for-bit at 6 dp, verified).
    q["profile_events"] = lambda s, d: (
        load_table(s, d, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.min("value"), 6).alias("min_v"),
             F.round(F.max("value"), 6).alias("max_v"),
             F.round(F.avg("value"), 6).alias("mean_v"),
             F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
             F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"))
    )

    # JSON schema-on-read (P1's companion wire format): extract the
    # typed payload field from the props JSON column scan-side and
    # aggregate -- get_json_object stays inside codegen, no Python
    def _json_props(s: SparkSession, d: str) -> DataFrame:
        ev = load_table(s, d, "events")
        k = F.get_json_object(F.col("props"), "$.k").cast("long")
        return (ev.select("event_type", k.alias("__k"))
                .where(F.col("__k").isNotNull())
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("__k").alias("sum_k"),
                     F.round(F.avg("__k"), 6).alias("mean_k")))
    q["json_props_events"] = _json_props

    # --- mergeable sketches: the 100 TB replacements for exact
    # COUNT(DISTINCT) and exact percentiles.  Both deterministic
    # (md5-hash HLL / fixed-width histogram), so each has an exact
    # DuckDB twin — unlike approx_count_distinct/percentile_approx,
    # whose internals are engine-private.  Shuffle after the map-side
    # combine is ≤ groups × 2^b register rows / groups × nbins bins,
    # independent of input size.
    q["hll_users_events"] = lambda s, d: hll_distinct(
        load_table(s, d, "events"), "user_id",
        group_cols=["event_type"], bucket_bits=10)
    q["quantile_sketch_events"] = lambda s, d: histogram_quantiles(
        load_table(s, d, "events"), "value",
        group_cols=["event_type"], nbins=4096)

    # sliding windows (1 h window, 30 min slide → every event in exactly
    # two windows).  2-D ⇒ the all-JVM window plan (skew-immune: each
    # group is collapsed to its distinct-d0 rows before the sorted
    # scan); the salted pandas kernel stays pinned in
    # tests/test_skyline_operator.py.
    def _sliding(s: SparkSession, d: str) -> DataFrame:
        ev = load_table(s, d, "events").select(
            "event_id", "event_type", "value",
            F.unix_millis(F.col("ts").cast("timestamp")).cast("double").alias("unix_ms"),
            F.unix_timestamp(F.window("ts", "1 hour", "30 minutes").start)
            .alias("win_start"))
        return grouped_skyline(ev, ["value", "unix_ms"], by="win_start")

    q["sliding_skyline_events"] = _sliding

    # --- prefix/trigger queries (ST2 barrier semantics) ---
    q["prefix_query_skyline_events"] = lambda s, d: run_prefix_queries(
        _events_ms(s, d), EVENT_TRIGGERS, ["value", "unix_ms"],
        id_col="event_id",
    )

    # --- result metrics (A4 optimality + A7 record assembly), one per
    # partitioner — optimality is partitioner-dependent (PDF §5.4) ---
    for algo in ("mr-dim", "mr-grid", "mr-angle", "mr-z"):
        q[f"skyline_metrics_{algo.replace('-', '_')}"] = (
            lambda s, d, a=algo: skyline_query_metrics(
                _li(s, d), LI_DIMS2, query_id="q1", algo=a,
                num_partitions=NUM_PARTS, domain_max=LI_DOMAIN,
            )
        )

    # --- dedup suite over documents ---
    q["exact_dedup_documents"] = lambda s, d: exact_dedup(
        load_table(s, d, "documents")
    )
    # dedup over GENERATED corpora (md5-deterministic text with planted
    # duplicates — every 10th doc copies its predecessor): the dedup
    # stack oracle-gated on input sizes decoupled from the shipped
    # table, and the same generator scales the bench rows to millions
    q["gen_docs_exact_dedup"] = lambda s, d: exact_dedup(
        generate_docs_hash(s, 2000, dup="exact"))
    q["gen_docs_minhash_dedup"] = lambda s, d: minhash_lsh_pairs(
        generate_docs_hash(s, 800, dup="near"), num_hashes=64, bands=16,
        shingle_k=3, shingle_unit="word", threshold=0.5)
    q["ngram_jaccard_documents"] = lambda s, d: ngram_jaccard_pairs(
        load_table(s, d, "documents"), k=3, unit="word", threshold=0.05,
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    q["minhash_dedup_documents"] = lambda s, d: minhash_lsh_pairs(
        load_table(s, d, "documents"), num_hashes=64, bands=16,
        shingle_k=5, threshold=0.5,
    )
    # incremental (cross-corpus) dedup: new batch vs existing corpus
    # only -- old x old pairs are never generated (the production
    # daily-crawl admission shape; at 100 TB the old side's signatures
    # are precomputed once and reused per batch)
    def _incremental_dedup(s: SparkSession, d: str) -> DataFrame:
        docs = load_table(s, d, "documents")
        # derive BOTH sides from one standing signature table — the
        # production shape (the corpus's signatures are precomputed
        # once; VERDICT r6 #2): the shingle+minhash-fold pass runs
        # exactly once over the union instead of once per side
        sigs = minhash_signatures(docs, num_hashes=64,
                                  shingle_k=5).persist()
        new_sig = sigs.filter(F.col("doc_id") % 3 == 0)
        old_sig = sigs.filter(F.col("doc_id") % 3 != 0)
        out = minhash_lsh_pairs_cross(
            new_signatures=new_sig, old_signatures=old_sig,
            num_hashes=64, bands=16, shingle_k=5, threshold=0.5)
        return release_on_gc(out, sigs)
    q["incremental_dedup_documents"] = _incremental_dedup

    q["minhash_word_dedup_documents"] = lambda s, d: minhash_lsh_pairs(
        load_table(s, d, "documents"), num_hashes=64, bands=16,
        shingle_k=3, shingle_unit="word", threshold=0.5,
    )
    q["simhash_near_dup_documents"] = lambda s, d: simhash_near_dup_pairs(
        load_table(s, d, "documents"), max_hamming=3,
    )
    # winnowing (MOSS) fingerprint candidates: shared-passage pairs via
    # window-min shingle hashes — catches partial overlap that global-
    # similarity MinHash bands under-score
    q["winnow_pairs_documents"] = lambda s, d: winnow_pairs(
        load_table(s, d, "documents"), k=4, window=4, threshold=0.5,
    )
    # exact substring dedup (Lee et al. 2022 ExactSubstr at bounded k):
    # longest shared verbatim token run per pair — the dedup modality
    # global-similarity near-dup scoring cannot express (round 11,
    # VERDICT r10 "What's missing" #3)
    q["substring_dedup_documents"] = lambda s, d: substring_dedup_pairs(
        load_table(s, d, "documents"), k=8, min_span=12, max_df=50,
    )
    # incremental ExactSubstr (round 12): new batch (doc_id % 3 = 0)
    # vs standing corpus — cross-side verbatim-run pairs only,
    # combined df cap, the daily-crawl admission check for the
    # long-quote modality (mirrors incremental_dedup_documents)
    q["incremental_substring_dedup_documents"] = lambda s, d: \
        substring_dedup_pairs_cross(
            load_table(s, d, "documents").filter(
                (F.col("doc_id") % 3) == 0),
            load_table(s, d, "documents").filter(
                (F.col("doc_id") % 3) != 0),
            k=8, min_span=12, max_df=50,
        )
    # ExactSubstr span REMOVAL (round 12, VERDICT r11 "What's missing"
    # #3 -- Lee et al.'s production semantics): cut every >=12-token
    # verbatim run from all but its first corpus-wide occurrence and
    # reassemble the affected documents token-exactly
    q["substring_remove_documents"] = lambda s, d: substring_remove(
        load_table(s, d, "documents"), k=8, min_span=12, max_df=50,
    )
    # char-unit ExactSubstr (round 13, VERDICT r12 "What's missing"
    # #3 -- Lee et al. operate on BYTES): shingle characters instead
    # of whitespace tokens, so verbatim runs are detected in
    # whitespace-free scripts (CJK) and survive punctuation-only
    # edits ("foo." vs "foo" breaks a token run, not a char run);
    # k / min_span / spans all in characters
    q["substring_dedup_char_documents"] = lambda s, d: \
        substring_dedup_pairs(
            load_table(s, d, "documents"), k=20, min_span=60,
            max_df=50, unit="char",
        )
    # ...and its acting form: keep-first char-granular span removal
    # with exact substring-cut reassembly (no whitespace renormalizing)
    q["substring_remove_char_documents"] = lambda s, d: \
        substring_remove(
            load_table(s, d, "documents"), k=20, min_span=60,
            max_df=50, unit="char",
        )
    # ExactSubstr decontamination: corpus docs sharing a >=12-token
    # verbatim run with the pseudo-benchmark subset, exact span length
    # per hit (the leakage evidence fraction-based checks dilute)
    q["substring_contamination_documents"] = lambda s, d: \
        substring_contamination(
            load_table(s, d, "documents").filter(
                (F.col("doc_id") % 10) != 7),
            load_table(s, d, "documents").filter(
                (F.col("doc_id") % 10) == 7),
            k=8, min_span=12, max_df=50,
        )
    # ExactSubstr benchmark-span SCRUBBING (round 12): the acting form
    # of the contamination report -- every corpus occurrence of a
    # >=12-token verbatim bench run is cut (ALL occurrences: eval text
    # must not survive anywhere) and affected docs reassembled
    q["substring_scrub_documents"] = lambda s, d: substring_scrub(
        load_table(s, d, "documents").filter(
            (F.col("doc_id") % 10) != 7),
        load_table(s, d, "documents").filter(
            (F.col("doc_id") % 10) == 7),
        k=8, min_span=12, max_df=50,
    )
    # language-ID confusion matrix: labelled lang vs the stopword-
    # heuristic prediction (the classifier eval before filtering on it)
    q["langid_confusion_documents"] = lambda s, d: langid_confusion(
        load_table(s, d, "documents"))
    # passage-level decontamination: winnowing-fingerprint overlap vs
    # the same pseudo-benchmark subset contamination_documents uses —
    # a shared passage scores regardless of surrounding doc length
    q["passage_contamination_documents"] = lambda s, d: \
        winnow_contamination(
            load_table(s, d, "documents"),
            load_table(s, d, "documents")
            .filter((F.col("doc_id") % 10) == 7))

    # --- text analysis over documents ---
    q["text_stats_documents"] = lambda s, d: text_stats(
        load_table(s, d, "documents")
    )
    # Gopher-rule repetition signals (dup-line frac, top-2-gram frac)
    q["repetition_stats_documents"] = lambda s, d: repetition_stats(
        load_table(s, d, "documents")
    )
    # corpus vocabulary: top-V tokens with term/doc frequencies (the
    # tokenizer/vocab-building pass; canonical two-exchange word count)
    q["vocab_documents"] = lambda s, d: vocab(
        load_table(s, d, "documents"), top_v=200, min_count=2
    )

    # relative quality gate: keep documents at or above their
    # language's p25 quality score — the distribution-relative floor
    # (absolute cutoffs misfire when score distributions differ by
    # language/source); cutoffs broadcast, corpus never sorted
    def _quality_floor(s: SparkSession, d: str) -> DataFrame:
        docs = load_table(s, d, "documents").select(
            "doc_id", "lang",
            quality_score(F.col("text")).alias("score"))
        return quality_floor(docs, "score", group_col="lang", q=0.25)
    q["quality_floor_documents"] = _quality_floor

    # count-min sketch heavy-hitter probe: build the deterministic
    # depth×width frequency sketch over every token, then point-query
    # it for the exact top-20 vocab tokens — cm_est ≥ term_freq (the
    # sketch only over-counts), both value-oracled.  At 100 TB the
    # sketch shuffle is partitions·depth·width rows regardless of
    # token cardinality; the exact pass exists only to ground-truth
    # the probe at test scale.
    def _count_min_tokens(s: SparkSession, d: str) -> DataFrame:
        docs = load_table(s, d, "documents")
        toks = docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+"))
            .alias("token")).filter(F.col("token") != "")
        sk = count_min(toks, "token", depth=4, width=512)
        cand = vocab(docs, top_v=20).select("token", "term_freq", "rank")
        return count_min_estimate(sk, cand, "token", depth=4, width=512)
    q["count_min_tokens_documents"] = _count_min_tokens
    # PII/URL redaction pass (emails/URLs/long digit runs masked)
    q["redact_documents"] = lambda s, d: redact_text(
        load_table(s, d, "documents")
    )
    # corpus profiling: per-(lang, source) token/char distribution —
    # the data-mix report a training run starts from (exact percentile
    # parity with quantile_cont, as for profile_events)
    q["corpus_profile_documents"] = lambda s, d: (
        load_table(s, d, "documents")
        .select("lang", "source",
                token_count(F.col("text")).alias("nt"), "n_chars")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.avg("nt"), 6).alias("mean_tokens"),
             F.round(F.expr("percentile(nt, 0.5)"), 6).alias("p50_tokens"),
             F.round(F.expr("percentile(nt, 0.95)"), 6).alias("p95_tokens"),
             F.round(F.avg("n_chars"), 6).alias("mean_chars"))
    )
    # fixed-context-window packing: overlapping token windows per doc
    q["chunk_documents"] = lambda s, d: chunk_documents(
        load_table(s, d, "documents"), size=32, stride=24)
    # eval-set decontamination: distinct-3-gram collision fraction vs a
    # held-out benchmark subset (doc_id % 10 == 7 models the eval suite)
    q["contamination_documents"] = lambda s, d: contamination_check(
        load_table(s, d, "documents"),
        load_table(s, d, "documents").filter((F.col("doc_id") % 10) == 7),
        n=3)
    # per-doc top-5 TF-IDF terms (log-free RSJ idf: engine-exact doubles)
    # BM25 lexical retrieval: the sparse complement of the dense ANN
    # stack — probe docs (doc_id % 97 = 3) as queries, top-10 by the
    # log-free-idf Okapi score with exact DECIMAL contribution sums
    def _bm25(s: SparkSession, d: str) -> DataFrame:
        docs = load_table(s, d, "documents")
        qs = docs.filter("doc_id % 97 = 3").select(
            F.col("doc_id").alias("query_id"),
            F.col("text").alias("query"))
        return bm25_topk(docs, qs, k=10)
    q["bm25_topk_documents"] = _bm25

    q["tfidf_documents"] = lambda s, d: tfidf_top_terms(
        load_table(s, d, "documents"), k=5, min_df=2)
    # per-doc mean token rarity (log-free perplexity surrogate;
    # token-ordered fold so the float sum is engine-identical)
    q["rarity_documents"] = lambda s, d: rarity_score(
        load_table(s, d, "documents"))
    # bigram-LM perplexity surrogate (CCNet-style quality filter —
    # sees word ORDER, which unigram rarity is blind to)
    q["lm_bigram_score_documents"] = lambda s, d: bigram_rarity_score(
        load_table(s, d, "documents"))
    # the true CCNet shape: score the whole corpus under an LM trained
    # on a held-out reference slice (the content-stable md5 half);
    # unseen bigrams smooth to the add-one limit (0 + V)/(0 + 1)
    def _lm_heldout(s: SparkSession, d: str) -> DataFrame:
        docs = load_table(s, d, "documents")
        return bigram_rarity_score(
            docs, train_df=deterministic_sample(docs, 0.5, ["doc_id"]))
    q["lm_bigram_heldout_documents"] = _lm_heldout
    # fastText-style hashed linear classifier inference (hashing
    # trick + mean-pool margin; deterministic pseudo-model — the
    # plumbing, not a trained artifact)
    q["quality_classifier_documents"] = \
        lambda s, d: hashed_classifier_score(
            load_table(s, d, "documents"), n_buckets=1 << 16)
    # corpus-boilerplate removal (C4-style): delete units appearing
    # verbatim in >= min_docs distinct docs. The synthetic docs are
    # single-line, so the registered query runs at token granularity
    # (delimiter=' ', threshold 78% of the corpus so the split is
    # non-trivial at every SF).
    def _boilerplate(s: SparkSession, d: str) -> DataFrame:
        docs = load_table(s, d, "documents")
        thr = max(int(docs.count() * 0.78), 2)
        return remove_boilerplate_lines(docs, min_docs=thr, delimiter=" ")
    q["boilerplate_documents"] = _boilerplate
    # corpus-wide unit-level exact dedup (C4 three-sentence-span /
    # RefinedWeb paragraph pass): first occurrence of every 8-token
    # span survives, later repeats are cut and docs reassembled
    q["paragraph_dedup_documents"] = lambda s, d: dedup_paragraphs(
        load_table(s, d, "documents"), unit_tokens=8)
    # C4/Gopher rule-based quality filter: five lexical rules, per-doc
    # failure reasons kept (the threshold-tuning histogram at scale)
    q["c4_filter_documents"] = lambda s, d: c4_rules(
        load_table(s, d, "documents"))
    # sequence packing: chunks laid end-to-end into fixed-length
    # training sequences (two-pass distributed prefix sum — the global
    # running count without a single-task Window.orderBy)
    q["pack_sequences_documents"] = lambda s, d: pack_sequences(
        chunk_documents(load_table(s, d, "documents"),
                        size=32, stride=32),
        seq_len=64)
    # shard-writer manifest: whole-document token-budget shards over
    # the same scale-safe two-level prefix sum (one row per shard:
    # contiguous id range + doc/token counts — exactly the pruning
    # predicate a distributed shard writer needs)
    q["token_shards_documents"] = lambda s, d: shard_manifest(
        load_table(s, d, "documents").select(
            "doc_id", token_count(F.col("text")).alias("n_tokens")),
        budget=4096)

    # --- capstone v3: the round-7 cleaning suite composed end-to-end —
    # C4/Gopher rule gate -> corpus-wide paragraph dedup (docs
    # reassembled from first-occurrence spans, emptied docs dropped) ->
    # passage-level decontamination (winnowing-fingerprint overlap vs
    # the eval subset) -> content-stable split.
    def _llm_corpus_v3(s: SparkSession, d: str) -> DataFrame:
        docs = load_table(s, d, "documents")
        kept = docs.join(
            c4_rules(docs).filter("kept").select("doc_id"), "doc_id")
        para = dedup_paragraphs(kept).filter(
            F.col("clean_text") != "").persist()
        bench = docs.filter((F.col("doc_id") % 10) == 7).select(
            "doc_id", F.col("text").alias("clean_text"))
        deco = winnow_contamination(para, bench, text_col="clean_text")
        clean = (para.join(
            deco.filter(F.col("passage_overlap") <= 0.5)
            .select("doc_id", "passage_overlap"), "doc_id")
            .select("doc_id", "clean_text", "n_dupes", "passage_overlap"))
        return release_on_gc(
            hash_split(clean, {"train": 0.9, "val": 0.05, "test": 0.05},
                       ["doc_id"]), para)
    q["llm_corpus_v3_documents"] = _llm_corpus_v3

    # --- corpus capstone v4 (VERDICT r8 #6): v3 ends at split; a real
    # pipeline continues on the TRAIN split with the training-mix
    # samplers — relative quality floor (drop the worst quartile per
    # language), per-source frequency cap, per-language token budget —
    # and ends at the shard-writer manifest: the full curl-to-shards
    # story composed from registered, individually-audited ops.
    def _llm_corpus_v4(s: SparkSession, d: str) -> DataFrame:
        docs = load_table(s, d, "documents")
        train = _llm_corpus_v3(s, d).filter(F.col("split") == "train")
        # checkpoint the (small) train slice: every sampler below scans
        # its input 2-3× (cutoff aggregate + filter, cap window, mix
        # aggregate) and each scan would otherwise re-derive the entire
        # v3 DAG — dedup, winnowing and all (45 s vs 9 s at sf0.01)
        base = pinned_local_checkpoint(train.join(
            docs.select("doc_id", "lang", "source"), "doc_id"))
        scored = base.withColumn(
            "score", quality_score(F.col("clean_text")))
        floored = quality_floor(scored, "score", group_col="lang", q=0.25)
        capped = group_cap(floored.select("doc_id", "lang", "source"),
                           ["source"], 10, ["doc_id"])
        toks = capped.join(
            base.select("doc_id", "clean_text"), "doc_id").select(
            "doc_id", "lang",
            token_count(F.col("clean_text")).alias("n_tokens"))
        mixed = budget_mix(toks, ["lang"], 3000, "n_tokens", ["doc_id"])
        return release_checkpoints_on_gc(
            shard_manifest(mixed.select("doc_id", "n_tokens"),
                           budget=2048), base)
    q["llm_corpus_v4_documents"] = _llm_corpus_v4

    # --- capstone v5 (round 12): the ExactSubstr-family pipeline end
    # to end — C4 quality gate -> intra-corpus span REMOVAL (keep-first
    # cut of every duplicated >=12-token run) -> benchmark SCRUB (cut
    # ALL occurrences of spans leaked from the held-out bench split).
    # Byte-exact oracle: each stage's twin is byte-exact and the
    # composition is deterministic.
    def _llm_corpus_v5(s: SparkSession, d: str) -> DataFrame:
        docs = load_table(s, d, "documents")
        corpus = docs.filter((F.col("doc_id") % 10) != 7)
        bench = docs.filter((F.col("doc_id") % 10) == 7)
        kept = (corpus.join(
            c4_rules(corpus).filter("kept").select("doc_id"), "doc_id")
            .select("doc_id", "text"))
        # checkpoint the removal output: the scrub stage scans its
        # corpus input ~4x (shingles, affected semi-join, rebuild,
        # final restore join) and each scan would re-derive the whole
        # gate+removal DAG (the v4 lesson: persist() != cheap actions)
        r1 = pinned_local_checkpoint(
            substring_remove(kept, k=8, min_span=12, max_df=50))
        r2 = substring_scrub(
            r1.select("doc_id", F.col("clean_text").alias("text")),
            bench, k=8, min_span=12, max_df=50)
        out = (r1.select("doc_id",
                         F.col("n_tokens").alias("n_tokens_kept"),
                         F.col("n_removed").alias("n_dup_removed"))
               .join(r2.select("doc_id", "clean_text",
                               F.col("n_removed")
                               .alias("n_contam_removed")),
                     "doc_id"))
        return release_checkpoints_on_gc(out, r1)
    q["llm_corpus_v5_documents"] = _llm_corpus_v5

    # --- deterministic sampling / splitting (content-stable md5
    # buckets; reproducible across engines/reruns/repartitioning) ---
    q["sample_documents"] = lambda s, d: deterministic_sample(
        load_table(s, d, "documents"), 0.1, ["doc_id"])
    q["split_documents"] = lambda s, d: hash_split(
        load_table(s, d, "documents").select("doc_id"),
        {"train": 0.9, "val": 0.05, "test": 0.05}, ["doc_id"])
    # per-source frequency cap (C4/FineWeb-style "at most K docs per
    # domain"): exact salted two-level top-K by content hash — no
    # single-task sort of a hot source at scale
    q["source_cap_documents"] = lambda s, d: group_cap(
        load_table(s, d, "documents").select("doc_id", "source"),
        ["source"], 10, ["doc_id"])
    # token-budget training mix ("N tokens per language"): per-group
    # keep-rate = min(1, budget/group_tokens), content-stable selection;
    # one tiny aggregate broadcast back, the corpus never shuffled
    q["budget_mix_documents"] = lambda s, d: budget_mix(
        load_table(s, d, "documents").select(
            "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")),
        ["lang"], 3000, "n_tokens", ["doc_id"])
    # training-mix rebalance: downsample en, keep zh, drop unlisted
    q["stratified_sample_documents"] = lambda s, d: stratified_sample(
        load_table(s, d, "documents").select("doc_id", "lang"),
        {"en": 0.1, "zh": 1.0, "de": 0.5}, "lang", ["doc_id"])
    # importance sampling: keep probability proportional to a per-row
    # weight (here length-derived; in production a quality score) —
    # the quality-proportional training-mix op, zero shuffle
    q["weighted_sample_documents"] = lambda s, d: weighted_sample(
        load_table(s, d, "documents")
        .select("doc_id", (F.col("n_chars") / F.lit(4000.0))
                .alias("weight")),
        1.0, "weight", ["doc_id"])
    # temperature-scaled language rebalancing (T=2, the classic
    # multilingual-pretraining flattening): keep rate of the largest
    # language is base_rate, smaller languages keep proportionally more
    # -- expected kept per language ~ sqrt(count)
    q["temperature_sample_documents"] = lambda s, d: temperature_sample(
        load_table(s, d, "documents").select("doc_id", "lang"),
        ["lang"], ["doc_id"], base_rate=0.5, temperature=2.0)

    # --- streaming pipeline (ST1-ST7): foreachBatch ingest, record-ID
    # barrier, incremental local-skyline state, trigger-released answer.
    # Deterministic generated stream → same rows the SQL oracle derives.
    def _streaming_pipeline(s: SparkSession, d: str) -> DataFrame:
        import tempfile

        work = tempfile.mkdtemp(prefix="skystream_")
        data_dir = os.path.join(work, "data")
        trig_dir = os.path.join(work, "trig")
        pts = generate_points_hash(s, 4000, 2, dist="anti_correlated")
        serialize_service_tuples(pts, 2).write.mode("overwrite").text(data_dir)
        os.makedirs(trig_dir, exist_ok=True)
        with open(os.path.join(trig_dir, "t.csv"), "w") as fh:
            fh.write("q1,3999\n")
        pipe = SkylinePipeline(s, os.path.join(work, "state"), dims=2,
                               algo="mr-grid", num_partitions=NUM_PARTS,
                               domain_max=10000.0)
        pipe.run_available_now(data_dir, trig_dir)
        return pipe.results().select("query_id", "id", "d0", "d1")

    q["streaming_pipeline_skyline"] = _streaming_pipeline

    # ST6 late data EXECUTED under the oracle gate: the second file
    # replays rows from Jan 1-5 for user_id%3==0 AFTER the watermark
    # has advanced past their (long-closed) daily windows — Spark drops
    # them, so the emitted closed windows equal the batch aggregation
    # over the NON-late rows only.  Deterministic: the late set is
    # defined by data, not arrival race (every on-time file spans the
    # full month, so the watermark is already at Jan 30 - 1h when the
    # late file arrives in batch 2).
    def _streaming_late_data(s: SparkSession, d: str) -> DataFrame:
        import tempfile
        import uuid

        work = tempfile.mkdtemp(prefix="swlate_")
        data_dir = os.path.join(work, "data")
        os.makedirs(data_dir)
        ev = (load_table(s, d, "events")
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .select("ts", "user_id"))
        late = (F.col("ts") < F.lit("2024-01-06").cast("timestamp")) \
            & (F.col("user_id") % 3 == 0)
        ontime = ev.where(~late)
        jan30 = F.col("ts") >= F.lit("2024-01-30").cast("timestamp")
        # THREE chronological files: the middle (Jan 30) file advances
        # the watermark so the Jan 1-5 windows are EVICTED at the end
        # of batch 1 — only then does Spark guarantee dropping the late
        # file's rows (rows later than the watermark are admitted while
        # their window's state is still live; eviction is lazy)
        _batch_fixture_files(ev, [
            ~late & ~jan30,
            ~late & jan30,
            late,
        ], data_dir)
        stream = (s.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(data_dir))
        agg = (stream.withWatermark("ts", "1 hour")
               .groupBy(F.window("ts", "1 day").alias("__win"))
               .agg(F.count(F.lit(1)).alias("n_events"))
               .select(F.col("__win.start").cast("long")
                       .alias("win_start"),
                       F.col("__win.end").cast("long").alias("win_end"),
                       "n_events"))
        name = f"late_{uuid.uuid4().hex[:8]}"
        prev_parts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            query = (agg.writeStream.format("memory").queryName(name)
                     .outputMode("append")
                     .option("checkpointLocation",
                             os.path.join(work, "ckpt"))
                     .trigger(availableNow=True).start())
            query.awaitTermination()
        finally:
            s.conf.set("spark.sql.shuffle.partitions", prev_parts)
        return s.table(name)
    q["streaming_late_data_events"] = _streaming_late_data

    # --- synthetic generators (S5), deterministic hash-seeded twins ---
    for dist in ("uniform", "correlated", "anti_correlated"):
        q[f"gen_{dist}_2d"] = (
            lambda s, d, dist=dist: generate_points_hash(
                s, GEN_N, 2, dist=dist)
        )
    # generator feeding the two-phase skyline — S5 composed with K3+A1+A2
    q["gen_anticorr_skyline_2d"] = lambda s, d: skyline_two_phase(
        generate_points_hash(s, GEN_N, 2, dist="anti_correlated"),
        ["d0", "d1"], algo="mr-angle", num_partitions=NUM_PARTS,
        domain_max=10000.0,
    )
    # 4-D through the executor plan (local prune + single merge)
    q["gen_anticorr_skyline_4d"] = lambda s, d: skyline(
        generate_points_hash(s, GEN_N, 4, dist="anti_correlated"),
        ["d0", "d1", "d2", "d3"],
    )
    # the ADAPTIVE plan on the same 4-D set: it counts the fixed-width
    # rows and picks the driver two-phase plan or the executor plan
    # (here: the driver), oracled against the same NOT-EXISTS
    q["gen_anticorr_skyline_auto_4d"] = lambda s, d: skyline_auto(
        generate_points_hash(s, GEN_N, 4, dist="anti_correlated"),
        ["d0", "d1", "d2", "d3"],
    )

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    li = f"(SELECT {', '.join(LI_COLS)} FROM lineitem)"
    sky2 = skyline_not_exists_sql(li, LI_DIMS2)
    o["skyline_2d_lineitem"] = sky2
    o["skyline_2d_window_lineitem"] = sky2
    o["skyline_3d_lineitem"] = skyline_not_exists_sql(li, LI_DIMS3)
    o["skyline_4d_lineitem"] = skyline_not_exists_sql(
        li, [*LI_DIMS3, "l_tax"])
    # the prefiltered two-phase plans are lossless ⇒ same oracle as 3-D
    o["skyline_3d_prefilter_lineitem"] = skyline_not_exists_sql(
        li, LI_DIMS3)
    o["skyline_3d_envelope_lineitem"] = skyline_not_exists_sql(
        li, LI_DIMS3)
    o["skyline_2d_envelope_lineitem"] = sky2
    # delta maintenance answers EXACTLY the full recompute
    o["skyline_delta_lineitem"] = skyline_not_exists_sql(
        f"(SELECT l_orderkey, {', '.join(LI_DIMS2)} FROM lineitem)",
        LI_DIMS2)
    o["skyline_delta_delete_lineitem"] = skyline_not_exists_sql(
        f"(SELECT l_orderkey, l_linenumber, {', '.join(LI_DIMS2)} "
        f"FROM lineitem WHERE l_extendedprice >= 2000)",
        LI_DIMS2)
    o["skyline_layers_lineitem"] = skyline_layers_sql(
        f"(SELECT l_orderkey, {', '.join(LI_DIMS2)} FROM lineitem)",
        LI_DIMS2, max_layers=3)
    o["skyline_part"] = skyline_not_exists_sql(
        "(SELECT p_partkey, p_size, p_retailprice FROM part)",
        ["p_retailprice", "p_size"],
    )

    # Partition-invariance: two-phase == plain skyline (SURVEY §1.4)
    for algo in ("mr-dim", "mr-grid", "mr-angle", "mr-z"):
        o[f"skyline_2d_{algo.replace('-', '_')}"] = sky2

    for algo in ("mr-dim", "mr-grid", "mr-angle", "mr-z"):
        pid = partitioner_sql(algo, LI_DIMS2, NUM_PARTS, LI_DOMAIN)
        o[f"{algo.replace('-', '_')}_partition_counts"] = (
            f"SELECT {pid} AS pid, count(*) AS n_rows FROM {li} t GROUP BY 1"
        )

    o["skyline_sql_surface_lineitem"] = skyline_not_exists_sql(
        "(SELECT l_orderkey, l_extendedprice, l_discount FROM lineitem)",
        LI_DIMS2)

    o["grid_prefilter_lineitem"] = grid_prefilter_sql(
        li, LI_DIMS2, domain_max=LI_DOMAIN)
    o["grid_envelope_lineitem"] = grid_envelope_prefilter_sql(
        f"(SELECT {', '.join(LI_DIMS3)} FROM lineitem)", LI_DIMS3)
    o["topk_dominating_part"] = top_k_dominating_sql(
        "(SELECT p_partkey, p_size, p_retailprice FROM part)",
        ["p_retailprice", "p_size"], k=20, id_cols=["p_partkey"],
    )
    o["k_dominant_skyline_part"] = k_dominant_skyline_sql(
        "(SELECT p_partkey, p_size, p_retailprice FROM part)",
        ["p_size", "p_retailprice", "p_partkey"], k=2)
    o["k_skyband_part"] = k_skyband_sql(
        "(SELECT p_partkey, p_size, p_retailprice FROM part)",
        ["p_retailprice", "p_size"], k=3)
    o["dynamic_skyline_part"] = dynamic_skyline_sql(
        "(SELECT p_partkey, p_size, p_retailprice FROM part)",
        ["p_size", "p_retailprice"], [25.0, 1200.0])
    o["reverse_skyline_part"] = reverse_skyline_sql(
        "(SELECT p_partkey, p_size, p_retailprice FROM part)",
        ["p_retailprice", "p_size"], [1000.0, 25.0],
        id_col="p_partkey")
    o["representative_skyline_part"] = representative_skyline_sql(
        "(SELECT p_partkey, p_size, p_retailprice FROM part)",
        ["p_retailprice", "p_size"], 3, id_col="p_partkey")
    o["epsilon_skyline_gen_2d"] = epsilon_skyline_sql(
        f"({generate_points_sql(GEN_N, 2, dist='anti_correlated')})",
        ["d0", "d1"], eps=[2.0, 2.0])
    o["thick_skyline_lineitem"] = thick_skyline_sql(
        f"(SELECT {', '.join(LI_DIMS2)} FROM lineitem)",
        LI_DIMS2, eps=[500.0, 0.005])
    o["skycube_lineitem"] = skycube_sql(
        "(SELECT l_orderkey, l_linenumber, "
        f"{', '.join(LI_DIMS3)} FROM lineitem)",
        LI_DIMS3)

    o["grouped_skyline_events"] = skyline_not_exists_sql(
        _EV_SQL, ["value", "unix_ms"], select="t.*",
        partition_by=["event_type"],
    )

    o["windowed_skyline_events"] = skyline_not_exists_sql(
        "(SELECT event_id, event_type, value, "
        "cast(epoch_ms(ts) as double) AS unix_ms, "
        "cast(epoch(time_bucket(INTERVAL '1 hour', ts)) as bigint) "
        "AS win_start FROM events)",
        ["value", "unix_ms"], select="t.*", partition_by=["win_start"],
    )

    o["profile_events"] = """
SELECT event_type, count(*) AS n,
       round(min(value), 6) AS min_v, round(max(value), 6) AS max_v,
       round(avg(value), 6) AS mean_v,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events GROUP BY event_type
""".strip()

    o["hll_users_events"] = hll_distinct_sql(
        "events", "user_id", group_cols=["event_type"], bucket_bits=10)
    o["quantile_sketch_events"] = histogram_quantiles_sql(
        "events", "value", group_cols=["event_type"], nbins=4096)

    o["session_skyline_events"] = skyline_not_exists_sql(
        "(WITH e AS (SELECT event_id, user_id, event_type, value, "
        "cast(epoch_ms(ts) as double) AS unix_ms FROM events), "
        "s AS (SELECT *, CASE WHEN unix_ms - lag(unix_ms) OVER "
        "(PARTITION BY user_id ORDER BY unix_ms, event_id) > 1800000.0 "
        "THEN 1 ELSE 0 END AS new_sess FROM e) "
        "SELECT event_id, user_id, event_type, value, unix_ms, "
        "cast(sum(new_sess) OVER (PARTITION BY user_id "
        "ORDER BY unix_ms, event_id ROWS UNBOUNDED PRECEDING) as bigint) "
        "AS __sess FROM s)",
        ["value", "unix_ms"], select="t.*",
        partition_by=["user_id", "__sess"],
    )

    o["sliding_skyline_events"] = skyline_not_exists_sql(
        "(SELECT event_id, event_type, value, "
        "cast(epoch_ms(ts) as double) AS unix_ms, "
        "cast(unnest([epoch(time_bucket(INTERVAL '30 minutes', ts)), "
        "epoch(time_bucket(INTERVAL '30 minutes', ts)) - 1800]) as bigint) "
        "AS win_start FROM events)",
        ["value", "unix_ms"], select="t.*", partition_by=["win_start"],
    )

    o["prefix_query_skyline_events"] = prefix_queries_oracle_sql(
        _EV_SQL, EVENT_TRIGGERS, ["value", "unix_ms"], id_col="event_id"
    )

    for algo in ("mr-dim", "mr-grid", "mr-angle", "mr-z"):
        o[f"skyline_metrics_{algo.replace('-', '_')}"] = metrics_oracle_sql(
            li, LI_DIMS2, query_id="q1",
            pid_sql=partitioner_sql(
                algo, [f"t.{c}" for c in LI_DIMS2], NUM_PARTS, LI_DOMAIN),
            num_partitions=NUM_PARTS,
        )

    o["exact_dedup_documents"] = (
        "SELECT min(doc_id) AS doc_id, count(*) AS dup_count "
        "FROM documents GROUP BY md5(text)"
    )
    o["gen_docs_exact_dedup"] = (
        f"SELECT min(doc_id) AS doc_id, count(*) AS dup_count "
        f"FROM ({generate_docs_sql(2000, dup='exact')}) GROUP BY md5(text)"
    )
    o["gen_docs_minhash_dedup"] = minhash_lsh_pairs_sql(
        f"({generate_docs_sql(800, dup='near')})", num_hashes=64,
        bands=16, shingle_k=3, shingle_unit="word", threshold=0.5)

    # word-3-gram shingle sets, per-doc set sizes and pairwise
    # intersection counts: the exact n-gram Jaccard core
    o["ngram_jaccard_documents"] = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(w) - 2, 1)),
     i -> array_to_string(w[i:i+2], ' ')))) AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents)
), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter * 1.0 / (na.n + nb.n - n_inter), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE n_inter * 1.0 / (na.n + nb.n - n_inter) >= 0.05
""".strip()

    o["minhash_dedup_documents"] = minhash_lsh_pairs_sql(
        "documents", num_hashes=64, bands=16, shingle_k=5, threshold=0.5)
    o["incremental_dedup_documents"] = minhash_lsh_pairs_cross_sql(
        "(SELECT * FROM documents WHERE doc_id % 3 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 3 <> 0)",
        num_hashes=64, bands=16, shingle_k=5, threshold=0.5)

    o["minhash_word_dedup_documents"] = minhash_lsh_pairs_sql(
        "documents", num_hashes=64, bands=16, shingle_k=3,
        shingle_unit="word", threshold=0.5)
    o["simhash_near_dup_documents"] = simhash_near_dup_pairs_sql("documents")
    o["winnow_pairs_documents"] = winnow_pairs_sql(
        "documents", k=4, window=4, threshold=0.5)
    o["substring_dedup_documents"] = substring_dedup_pairs_sql(
        "documents", k=8, min_span=12, max_df=50)
    o["substring_remove_documents"] = substring_remove_sql(
        "documents", k=8, min_span=12, max_df=50)
    o["substring_dedup_char_documents"] = substring_dedup_pairs_sql(
        "documents", k=20, min_span=60, max_df=50, unit="char")
    o["substring_remove_char_documents"] = substring_remove_sql(
        "documents", k=20, min_span=60, max_df=50, unit="char")
    o["incremental_substring_dedup_documents"] = \
        substring_dedup_pairs_cross_sql(
            "(SELECT * FROM documents WHERE doc_id % 3 = 0)",
            "(SELECT * FROM documents WHERE doc_id % 3 <> 0)",
            k=8, min_span=12, max_df=50)
    o["substring_contamination_documents"] = substring_contamination_sql(
        "(SELECT * FROM documents WHERE doc_id % 10 <> 7)",
        "(SELECT * FROM documents WHERE doc_id % 10 = 7)",
        k=8, min_span=12, max_df=50)
    o["substring_scrub_documents"] = substring_scrub_sql(
        "(SELECT * FROM documents WHERE doc_id % 10 <> 7)",
        "(SELECT * FROM documents WHERE doc_id % 10 = 7)",
        k=8, min_span=12, max_df=50)
    o["langid_confusion_documents"] = langid_confusion_sql("documents")
    o["passage_contamination_documents"] = winnow_contamination_sql(
        "documents", "(SELECT * FROM documents WHERE doc_id % 10 = 7)")

    o["text_stats_documents"] = text_stats_sql("documents")
    o["repetition_stats_documents"] = repetition_stats_sql("documents")
    o["vocab_documents"] = vocab_sql("documents", top_v=200, min_count=2)
    o["redact_documents"] = redact_text_sql("documents")
    o["chunk_documents"] = chunk_documents_sql(
        "documents", size=32, stride=24)
    o["contamination_documents"] = contamination_check_sql(
        "SELECT * FROM documents",
        "SELECT * FROM documents WHERE doc_id % 10 = 7", n=3)
    o["bm25_topk_documents"] = bm25_topk_sql(
        "documents",
        "SELECT doc_id AS query_id, text AS query FROM documents "
        "WHERE doc_id % 97 = 3", k=10)
    o["tfidf_documents"] = tfidf_top_terms_sql(
        "documents", k=5, min_df=2)
    o["rarity_documents"] = rarity_score_sql("documents")
    o["lm_bigram_score_documents"] = bigram_rarity_score_sql("documents")
    o["lm_bigram_heldout_documents"] = bigram_rarity_score_sql(
        "documents",
        train_table=f"({deterministic_sample_sql('documents', 0.5, ['doc_id'])})")
    o["quality_classifier_documents"] = hashed_classifier_score_sql(
        "documents", n_buckets=1 << 16)
    o["corpus_profile_documents"] = f"""
WITH t AS (
  SELECT lang, source, {token_count_sql('text')} AS nt, n_chars
  FROM documents
)
SELECT lang, source, count(*) AS n_docs,
       round(avg(nt), 6) AS mean_tokens,
       round(quantile_cont(nt, 0.5), 6) AS p50_tokens,
       round(quantile_cont(nt, 0.95), 6) AS p95_tokens,
       round(avg(n_chars), 6) AS mean_chars
FROM t GROUP BY lang, source
""".strip()
    o["boilerplate_documents"] = remove_boilerplate_lines_sql(
        "documents",
        min_docs=("greatest(cast(floor(0.78 * "
                  "(SELECT count(*) FROM documents)) as bigint), 2)"),
        delimiter=" ")
    o["paragraph_dedup_documents"] = dedup_paragraphs_sql(
        "documents", unit_tokens=8)
    o["c4_filter_documents"] = c4_rules_sql("documents")
    o["pack_sequences_documents"] = pack_sequences_sql(
        chunk_documents_sql("documents", size=32, stride=32), seq_len=64)

    _v3_deco = winnow_contamination_sql(
        "paran",
        "(SELECT doc_id, text AS clean_text FROM documents "
        "WHERE doc_id % 10 = 7)",
        text_col="clean_text")
    o["llm_corpus_v3_documents"] = f"""
WITH c4 AS (
{c4_rules_sql("documents")}
),
kept AS (
  SELECT d.* FROM documents d JOIN c4 ON c4.doc_id = d.doc_id AND c4.kept
),
para AS (
{dedup_paragraphs_sql("kept")}
),
paran AS (SELECT * FROM para WHERE clean_text <> ''),
deco AS (
{_v3_deco}
),
clean AS (
  SELECT p.doc_id, p.clean_text, p.n_dupes, dc.passage_overlap
  FROM paran p JOIN deco dc ON dc.doc_id = p.doc_id
  WHERE dc.passage_overlap <= 0.5
)
{hash_split_sql("clean", {"train": 0.9, "val": 0.05, "test": 0.05},
                ["doc_id"])}
""".strip()

    # v4: v3's train split → quality floor (q=0.25 per lang) → source
    # cap (10/source) → per-lang token budget (3000) → shard manifest
    # (2048-token shards) — every stage the registered op's exact twin
    o["llm_corpus_v5_documents"] = f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
bench AS (SELECT * FROM documents WHERE doc_id % 10 = 7),
c4 AS (
{c4_rules_sql("corpus")}
),
kept AS (
  SELECT d.doc_id, d.text FROM corpus d
  JOIN c4 ON c4.doc_id = d.doc_id WHERE c4.kept
),
r1 AS (
{substring_remove_sql("kept", k=8, min_span=12, max_df=50)}
),
r2 AS (
{substring_scrub_sql(
    "(SELECT doc_id, clean_text AS text FROM r1)", "bench",
    k=8, min_span=12, max_df=50)}
)
SELECT r1.doc_id, r1.n_tokens AS n_tokens_kept,
       r1.n_removed AS n_dup_removed,
       r2.clean_text, r2.n_removed AS n_contam_removed
FROM r1 JOIN r2 ON r2.doc_id = r1.doc_id
""".strip()

    o["llm_corpus_v4_documents"] = f"""
WITH v3 AS (
{o["llm_corpus_v3_documents"]}
),
train AS (SELECT doc_id, clean_text FROM v3 WHERE split = 'train'),
enr AS (
  SELECT t.doc_id, t.clean_text, d.lang, d.source
  FROM train t JOIN documents d USING (doc_id)
),
scored AS (
  SELECT *, {quality_score_sql('clean_text')} AS score FROM enr
),
floored AS (
{quality_floor_sql("SELECT * FROM scored", "score",
                   group_col="lang", q=0.25)}
),
capped AS (
{group_cap_sql("SELECT doc_id, lang, source FROM floored",
               ["source"], 10, ["doc_id"])}
),
toks AS (
  SELECT c.doc_id, c.lang,
         {token_count_sql('t.clean_text')} AS n_tokens
  FROM capped c JOIN train t USING (doc_id)
),
mixed AS (
{budget_mix_sql("SELECT * FROM toks", ["lang"], 3000,
                "n_tokens", ["doc_id"])}
)
{shard_manifest_sql("SELECT doc_id, n_tokens FROM mixed", budget=2048)}
""".strip()

    o["sample_documents"] = deterministic_sample_sql(
        "documents", 0.1, ["doc_id"])
    o["split_documents"] = hash_split_sql(
        "(SELECT doc_id FROM documents)",
        {"train": 0.9, "val": 0.05, "test": 0.05}, ["doc_id"])
    o["source_cap_documents"] = group_cap_sql(
        "SELECT doc_id, source FROM documents", ["source"], 10,
        ["doc_id"])
    o["budget_mix_documents"] = budget_mix_sql(
        f"SELECT doc_id, lang, {token_count_sql('text')} AS n_tokens "
        f"FROM documents", ["lang"], 3000, "n_tokens", ["doc_id"])
    o["token_shards_documents"] = shard_manifest_sql(
        f"SELECT doc_id, {token_count_sql('text')} AS n_tokens "
        f"FROM documents", budget=4096)
    o["stratified_sample_documents"] = stratified_sample_sql(
        "(SELECT doc_id, lang FROM documents)",
        {"en": 0.1, "zh": 1.0, "de": 0.5}, "lang", ["doc_id"])
    o["weighted_sample_documents"] = weighted_sample_sql(
        "(SELECT doc_id, CAST(n_chars AS DOUBLE) / 4000.0 AS weight "
        "FROM documents)",
        1.0, "weight", ["doc_id"])
    o["temperature_sample_documents"] = temperature_sample_sql(
        "(SELECT doc_id, lang FROM documents)", ["lang"], ["doc_id"],
        base_rate=0.5, temperature=2.0)

    o["streaming_pipeline_skyline"] = skyline_not_exists_sql(
        f"({generate_points_sql(4000, 2, dist='anti_correlated')})",
        ["d0", "d1"], select="'q1' AS query_id, t.id, t.d0, t.d1",
    )
    o["streaming_late_data_events"] = """
SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS win_start,
       CAST(floor(epoch(ts) / 86400) * 86400 + 86400 AS BIGINT)
         AS win_end,
       count(*)::BIGINT AS n_events
FROM events
WHERE NOT (ts < TIMESTAMP '2024-01-06' AND user_id % 3 = 0)
  AND floor(epoch(ts) / 86400) * 86400 + 86400 <=
      (SELECT epoch(max(ts)) FROM events) - 3600
GROUP BY 1, 2
""".strip()

    for dist in ("uniform", "correlated", "anti_correlated"):
        o[f"gen_{dist}_2d"] = generate_points_sql(GEN_N, 2, dist=dist)
    o["gen_anticorr_skyline_2d"] = skyline_not_exists_sql(
        f"({generate_points_sql(GEN_N, 2, dist='anti_correlated')})",
        ["d0", "d1"],
    )
    o["gen_anticorr_skyline_4d"] = skyline_not_exists_sql(
        f"({generate_points_sql(GEN_N, 4, dist='anti_correlated')})",
        ["d0", "d1", "d2", "d3"],
    )
    o["gen_anticorr_skyline_auto_4d"] = o["gen_anticorr_skyline_4d"]

    o["json_props_events"] = (
        "SELECT event_type, count(*)::BIGINT AS n, "
        "sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT "
        "AS sum_k, "
        "round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) "
        "AS mean_k FROM events "
        "WHERE json_extract_string(props, '$.k') IS NOT NULL "
        "GROUP BY event_type")

    o["quality_floor_documents"] = quality_floor_sql(
        f"SELECT doc_id, lang, {quality_score_sql('text')} AS score "
        f"FROM documents",
        "score", group_col="lang", q=0.25)

    o["count_min_tokens_documents"] = count_min_sql(
        "SELECT unnest(list_filter(string_split_regex(trim(text), "
        "'\\s+'), x -> x <> '')) AS token FROM documents",
        f"SELECT token, term_freq, rank FROM ({vocab_sql('documents', top_v=20)})",
        item_col="token", depth=4, width=512)

    return o
