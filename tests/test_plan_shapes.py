"""Physical-plan shape guards — the 100 TB claims, test-enforced.

Each operator's ARCHITECTURE.md scale claim has a matching structural
assertion on the formatted plan: shuffle (Exchange) counts, absence of
Python eval nodes on all-JVM paths, and scan-side column pruning.
These fail when a refactor silently adds a shuffle or drops work into
row-at-a-time Python — the regressions that stay invisible at test SF
and dominate at cluster scale.
"""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from flink_skyline_qos_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

# Python-side eval operators (any flavor); row-at-a-time BatchEvalPython
# must never appear anywhere.
_PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "MapInArrow",
                 "FlatMapGroupsInArrow")


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _n_exchanges(plan: str) -> int:
    # formatted mode prints each node in the tree AND a detail section;
    # count detail headers so each Exchange counts once.
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_text_stats_all_jvm(spark):
    """Text analysis is pure Column exprs — zero Python eval nodes."""
    from flink_skyline_qos_spark.functions.text import text_stats

    plan = _plan(text_stats(load_table(spark, SF_DIR, "documents")))
    assert not any(n in plan for n in _PYTHON_NODES), plan


def test_deterministic_sample_zero_shuffle_and_pruned_scan(spark):
    """Sampling is a scan-side filter: no Exchange; only the key + data
    columns are read."""
    from flink_skyline_qos_spark.operators.sampling import (
        deterministic_sample,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    plan = _plan(deterministic_sample(docs, 0.1, ["doc_id"]))
    assert "Exchange" not in plan, plan
    assert not any(n in plan for n in _PYTHON_NODES), plan


def test_skyline_single_survivor_exchange(spark):
    """The scale-path skyline: narrow local prune, survivors cross ONE
    tiny exchange to the merge task."""
    from flink_skyline_qos_spark.operators.skyline import skyline

    li = load_table(spark, SF_DIR, "lineitem") \
        .select("l_extendedprice", "l_discount")
    plan = _plan(skyline(li, ["l_extendedprice", "l_discount"]))
    assert _n_exchanges(plan) == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_grouped_skyline_2d_window_plan_all_jvm(spark):
    """2-D grouped skyline's window strategy stays whole-stage JVM."""
    from flink_skyline_qos_spark.operators.skyline import grouped_skyline

    ev = load_table(spark, SF_DIR, "events") \
        .select("event_type", "value", "user_id") \
        .withColumn("v2", F.col("value") * 2)
    plan = _plan(grouped_skyline(ev, ["value", "v2"], "event_type",
                                 strategy="window"))
    assert not any(n in plan for n in _PYTHON_NODES), plan
    # the strategy's shape: distinct-d0 collapse (aggregate) feeding one
    # Window, joined back broadcast — all JVM operators
    assert re.search(r"^\(\d+\) Window", plan, re.M), plan
    assert "BroadcastHashJoin" in plan, plan


def test_cosine_topk_gemm_one_exchange(spark):
    """GEMM top-k: corpus scanned once, partial top-k rows cross ONE
    rank exchange (hash on query_id).  On few-split inputs — this
    test's sf — a second RoundRobin exchange sits BELOW the GEMM node
    (`_scale_out`, r8: the matmul otherwise serializes on one task);
    it is a no-op at real split counts, so the scale claim stays one
    post-scan exchange of O(batches × queries × k) rows."""
    from flink_skyline_qos_spark.operators.similarity import (
        cosine_topk_gemm,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(cosine_topk_gemm(emb, qs, k=5))
    assert _n_exchanges(plan) <= 2, plan
    assert len(re.findall(r"hashpartitioning\(query_id", plan)) >= 1, plan
    # the scale-out exchange (if present) must be below the Python node
    tree = plan.split("\n\n", 1)[0]
    if _n_exchanges(plan) == 2:
        assert re.search(r"MapInPandas[\s\S]*Exchange[\s\S]*Scan parquet",
                         tree), tree


def test_exact_dedup_single_aggregate_shuffle(spark):
    """Exact dedup = partial agg, one hash exchange, final agg."""
    from flink_skyline_qos_spark.operators.dedup import exact_dedup

    plan = _plan(exact_dedup(load_table(spark, SF_DIR, "documents")))
    assert _n_exchanges(plan) == 1, plan
    assert not any(n in plan for n in _PYTHON_NODES), plan


def test_lineitem_scan_prunes_columns(spark):
    """A 2-column projection reaches the parquet scan as a 2-column
    ReadSchema — the scan never reads the full 16-column row."""
    li = load_table(spark, SF_DIR, "lineitem") \
        .select("l_extendedprice", "l_discount")
    plan = _plan(li.filter(F.col("l_discount") > 0.01))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    assert "l_extendedprice" in read[0] and "l_discount" in read[0]
    assert "l_comment" not in read[0], read[0]
    assert "PushedFilters: [" in plan and "IsNotNull(l_discount)" in plan, plan


def test_profile_events_single_aggregate_exchange(spark):
    """Distribution profiling = partial agg, one hash exchange, final
    agg — percentile included in the map-side combine."""
    ev = load_table(spark, SF_DIR, "events").select("event_type", "value")
    plan = _plan(
        ev.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"))
    )
    assert _n_exchanges(plan) == 1, plan
    assert not any(n in plan for n in _PYTHON_NODES), plan


def test_topk_dominating_broadcasts_reduced_candidates(spark):
    """Safe-by-default top-k dominating: the count join must stream the
    full input against BROADCAST candidates (BroadcastNestedLoopJoin,
    BuildRight), never plan an unbroadcast n x n theta join."""
    from flink_skyline_qos_spark.operators.variants import top_k_dominating
    from flink_skyline_qos_spark.sources.generators import (
        generate_points_hash,
    )

    pts = generate_points_hash(spark, 3_000, 3, dist="uniform")
    out = top_k_dominating(pts, ["d0", "d1", "d2"], k=5, id_cols=["id"])
    plan = _plan(out)
    assert re.search(r"BroadcastNestedLoopJoin Inner BuildRight", plan), plan


def test_streaming_windowed_skyline_single_state_operator(spark):
    """The event-time windowed skyline plans ONE stateful python group
    operator fed by a single hash exchange on the window key, with the
    watermark node present (bounded lateness)."""
    from flink_skyline_qos_spark.streaming.continuous import (
        streaming_windowed_skyline,
    )

    src = (spark.readStream.format("rate").option("rowsPerSecond", 10)
           .load()
           .select(F.col("value").alias("id"),
                   F.col("timestamp").alias("ts"),
                   (F.col("value") % 100).cast("double").alias("d0"),
                   (F.col("value") % 7).cast("double").alias("d1")))
    out = streaming_windowed_skyline(src, 2)
    plan = _plan(out)
    assert "EventTimeWatermark" in plan, plan
    assert len(re.findall(r"^\(\d+\) FlatMapGroupsInPandasWithState",
                          plan, re.M)) == 1, plan


def test_chunk_documents_zero_shuffle_all_jvm(spark):
    """Chunking is one narrow explode: no Exchange, no Python nodes."""
    from flink_skyline_qos_spark.functions.corpus import chunk_documents

    plan = _plan(chunk_documents(
        load_table(spark, SF_DIR, "documents"), size=32, stride=24))
    assert "Exchange" not in plan, plan
    assert not any(n in plan for n in _PYTHON_NODES), plan


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark gram set crosses as a broadcast; only the per-doc
    aggregates shuffle — the corpus is never hash-partitioned on text."""
    from flink_skyline_qos_spark.functions.corpus import contamination_check

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(contamination_check(
        docs, docs.filter((F.col("doc_id") % 10) == 7), n=3))
    assert "BroadcastExchange" in plan, plan
    assert not any(n in plan for n in _PYTHON_NODES), plan


def test_tfidf_topk_pushes_group_limit(spark):
    """The per-doc rank gets WindowGroupLimit (top-k pushdown): the
    sort never materializes more than k rows per doc per partition."""
    from flink_skyline_qos_spark.functions.corpus import tfidf_top_terms

    plan = _plan(tfidf_top_terms(
        load_table(spark, SF_DIR, "documents"), k=5, min_df=2))
    assert "WindowGroupLimit" in plan, plan
    assert not any(n in plan for n in _PYTHON_NODES), plan


def test_pack_sequences_no_global_sort_all_jvm(spark):
    """Sequence packing must never plan a whole-corpus single-task
    window: every Sort in the plan is within-partition (the global
    order is recovered from deterministic buckets), and no Python."""
    from flink_skyline_qos_spark.functions.corpus import (
        chunk_documents,
        pack_sequences,
    )

    chunks = chunk_documents(
        load_table(spark, SF_DIR, "documents"), size=32, stride=32)
    plan = _plan(pack_sequences(chunks, seq_len=64, n_parts=8))
    assert not any(n in plan for n in _PYTHON_NODES), plan
    # rangepartitioning(...) in an Exchange = planning a global sort;
    # the offsets window runs over the n_parts-row totals only, which
    # AQE plans as SinglePartition — assert no range exchange at all.
    assert "rangepartitioning" not in plan.lower(), plan


def test_skycube_one_exchange_per_cuboid(spark):
    """Every cuboid is an independent two-phase skyline: exactly 2^d−1
    survivor exchanges, never a data-sized shuffle."""
    from flink_skyline_qos_spark.operators.variants import skycube

    li = load_table(spark, SF_DIR, "lineitem") \
        .select("l_extendedprice", "l_discount")
    plan = _plan(skycube(li, ["l_extendedprice", "l_discount"]))
    assert _n_exchanges(plan) == 3, plan


def test_dynamic_skyline_single_survivor_exchange(spark):
    """The query-point transform is a narrow projection: the plan is
    the core skyline's (one survivor exchange)."""
    from flink_skyline_qos_spark.operators.variants import dynamic_skyline

    li = load_table(spark, SF_DIR, "lineitem") \
        .select("l_extendedprice", "l_discount")
    plan = _plan(dynamic_skyline(
        li, ["l_extendedprice", "l_discount"], [1000.0, 0.05]))
    assert _n_exchanges(plan) == 1, plan


def test_bucketed_join_has_no_shuffle_or_sort(spark, tmp_path_factory):
    """Co-located join layout: orders and lineitem bucketed + sorted on
    the order key join with ZERO Exchange and ZERO Sort — the declared-
    once layout that turns repeated fact-to-fact joins into scans."""
    from flink_skyline_qos_spark.sources.tables import (
        load_table,
        write_bucketed,
    )

    write_bucketed(
        load_table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice"),
        "orders_b", "o_orderkey", n_buckets=4)
    write_bucketed(
        load_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_extendedprice"),
        "lineitem_b", "l_orderkey", n_buckets=4)
    try:
        # exploiting per-bucket sort order at scan time moved behind a
        # legacy flag in Spark 3.0 (one-file-per-bucket required, which
        # write_bucketed guarantees)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # force the merge-join path (no broadcast) to prove co-location
        with_smj = spark.table("lineitem_b").hint("merge").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"))
        plan = _plan(with_smj)
        assert "Exchange" not in plan, plan
        assert re.search(r"^\(\d+\) Sort(?!MergeJoin)", plan, re.M) \
            is None, plan
        # and it actually answers correctly
        n = with_smj.count()
        ref = (
            load_table(spark, SF_DIR, "lineitem")
            .join(load_table(spark, SF_DIR, "orders"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
        ).count()
        assert n == ref
    finally:
        spark.conf.unset(
            "spark.sql.legacy.bucketedTableScan.outputOrdering")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_jsonl_roundtrip_and_partition_pruning(spark, tmp_path):
    """Corpus export lands as lang=*/ JSONL; reading back with a lang
    filter prunes partitions AT THE SCAN (PartitionFilters), so a
    100 TB corpus read touches only the matching directories."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from flink_skyline_qos_spark.sources.tables import (
        load_table,
        read_jsonl,
        write_jsonl,
    )

    docs = load_table(spark, SF_DIR, "documents") \
        .select("doc_id", "lang", "text")
    out = str(tmp_path / "corpus")
    write_jsonl(docs, out, partition_by="lang")
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ])
    back = read_jsonl(spark, out, schema=schema)
    assert back.count() == docs.count()
    # value fidelity on a sample column
    a = {(r.doc_id, r.text) for r in docs.collect()}
    b = {(r.doc_id, r.text) for r in back.collect()}
    assert a == b
    filtered = back.filter(F.col("lang") == "en")
    plan = _plan(filtered)
    m = re.search(r"PartitionFilters: \[.*lang.*\]", plan)
    assert m, plan
    assert filtered.count() == docs.filter(F.col("lang") == "en").count()


def test_thick_skyline_anti_joins_broadcast_skyline(spark):
    """Thick skyline: the margin filter must stream the full input
    against the BROADCAST plain skyline (LeftAnti BuildRight) — never
    an unbroadcast n x n pass."""
    from flink_skyline_qos_spark.operators.variants import thick_skyline

    li = load_table(spark, SF_DIR, "lineitem") \
        .select("l_extendedprice", "l_discount")
    plan = _plan(thick_skyline(
        li, ["l_extendedprice", "l_discount"], [100.0, 0.01]))
    assert re.search(
        r"BroadcastNestedLoopJoin LeftAnti BuildRight", plan), plan


def test_group_cap_no_single_partition_window(spark):
    """The per-source cap must never collapse to one task: both
    selection windows partition by keys (group+salt, then group) —
    no SinglePartition exchange, no global sort, no Python."""
    from flink_skyline_qos_spark.operators.sampling import group_cap

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source")
    plan = _plan(group_cap(docs, ["source"], 10, ["doc_id"]))
    assert not any(n in plan for n in _PYTHON_NODES), plan
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    # level-1 window is salted: its partition spec carries __salt so a
    # hot source splits across n_salts sub-sorts
    assert "__salt" in plan, plan


def test_winnow_fingerprints_hashes_once(spark):
    """The winnowing sliding minimum must run over EXPLODED hash rows,
    not array slices: in the all-array form ProjectCollapse inlines the
    md5 shingle-hash expression into every window slice — O(shingles²)
    hash calls per doc.  Guard: the md5 conversion appears in exactly
    one plan node (the explode-side projection), and the plan carries
    the two per-doc Window nodes (sliding min + partition count), all
    JVM."""
    from flink_skyline_qos_spark.operators.dedup import winnow_fingerprints

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(winnow_fingerprints(docs, k=4, window=4))
    # one Generate (posexplode) feeding Window nodes; no Python eval
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) >= 1
    for node in _PYTHON_NODES:
        assert node not in plan
    # the generate's input holds the single md5-hash transform; window
    # sections must not re-derive it (they operate on the exploded h)
    window_sections = re.findall(
        r"^\(\d+\) Window.*?(?=^\(\d+\))", plan, re.M | re.S)
    assert window_sections and all("md5" not in s for s in window_sections)


def test_dedup_paragraphs_no_window_all_jvm(spark):
    """The first-occurrence winner must be a map-side-combined
    min(struct) aggregate, never a window over the (skewable) unit
    partition; the unit explode happens exactly once."""
    from flink_skyline_qos_spark.functions.corpus import dedup_paragraphs

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(dedup_paragraphs(docs, unit_tokens=8))
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 0
    # the explode feeds both the winner aggregate and the join probe —
    # recomputing the narrow Generate beats persisting it (same accepted
    # shape as remove_boilerplate_lines); anything beyond those two
    # means a refactor added a third pass over the corpus
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 2
    for node in _PYTHON_NODES:
        assert node not in plan
    # partial min(struct) before the exchange = map-side combine — the
    # specific function, not just any HashAggregate (the reassembly
    # groupBy would satisfy a bare HashAggregate check vacuously)
    assert "partial_min" in plan, plan


def test_c4_rules_two_hash_aggregates_no_join_for_mode(spark):
    """Per-doc mode folds into the id-level aggregate: one explode, two
    hash aggregates, no window; everything JVM."""
    from flink_skyline_qos_spark.functions.corpus import c4_rules

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(c4_rules(docs))
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 0
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    for node in _PYTHON_NODES:
        assert node not in plan
    # two aggregate levels: (id, tok) counts then the per-id fold
    n_agg = len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M))
    assert n_agg >= 4  # partial+final per level
    # the mode must come from the fold, never a self-join (the shape
    # this operator exists to avoid); the only join allowed is the
    # final empty-doc restore on the id key
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"^\(\d+\) \w*Join", plan, re.M)) <= 1, plan


def test_minhash_hashing_runs_after_scale_out_exchange(spark):
    """The md5-per-shingle projection must sit ABOVE the scale-out
    Exchange (compute post-shuffle, parallel across cores) — a few-
    split input otherwise serializes the whole hashing stage on one
    task (round-8 A/B: 3.3 s vs 0.65 s at sf0.1).  Tree prints
    root-first, so the md5 Project must appear BEFORE the Exchange,
    which sits directly on the scan side."""
    from flink_skyline_qos_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(minhash_signatures(docs, num_hashes=8, shingle_k=5))
    tree = plan.split("\n\n", 1)[0]
    assert re.search(r"Project[\s\S]*Exchange[\s\S]*Scan parquet", tree), \
        tree
    # nodes are numbered leaf-first: everything at or below the
    # exchange (smaller id) must be md5-free; the md5 projection must
    # exist above it
    ex = int(re.search(r"^\((\d+)\) Exchange", plan, re.M).group(1))
    projs = re.findall(
        r"^\((\d+)\) Project(?: \[codegen id : \d+\])?\n"
        r"Output \[\d+\]: \[(.*?)\]", plan, re.M)
    assert projs, plan
    assert all("md5" not in body for n, body in projs if int(n) < ex), plan
    assert any("md5" in body for n, body in projs if int(n) > ex), plan


def test_wide_skyline_only_dims_cross_python_node(spark):
    """Width-safe rewrite (VERDICT r8 #1): on a wide input only the dim
    columns cross the Arrow prune nodes — the scan under the Python
    node reads a 2-column schema — and full rows come back through one
    broadcast LEFT-SEMI join on the dim values."""
    from flink_skyline_qos_spark.operators.skyline import skyline

    li = load_table(spark, SF_DIR, "lineitem")  # full width (11 cols)
    dims = ["l_extendedprice", "l_discount"]
    plan = _plan(skyline(li, dims))
    # every Arrow prune node consumes exactly the two dim columns
    found = False
    for m in re.finditer(r"^\(\d+\) MapIn(?:Pandas|Arrow)\n"
                         r"(Input \[\d+\]): \[([^\]]*)\]", plan, re.M):
        found = True
        assert m.group(1) == "Input [2]", plan
        assert "l_extendedprice" in m.group(2), plan
    assert found, plan
    # the prune-side scan is column-pruned to the dims
    assert re.search(
        r"ReadSchema: struct<l_extendedprice:double,l_discount:double>",
        plan), plan
    # full rows restored via a semi join (broadcast at this size)
    assert re.search(r"Join type: LeftSemi", plan), plan
    assert "BroadcastHashJoin" in plan, plan


def test_skyline_2d_window_global_all_jvm(spark):
    """The no-group 2-D window plan (the 1B-row bench plan) stays
    entirely JVM-side: map-side distinct-d0 collapse, one window, one
    broadcast join — zero Python eval nodes anywhere."""
    from flink_skyline_qos_spark.operators.skyline import skyline_2d_window

    li = load_table(spark, SF_DIR, "lineitem") \
        .select("l_extendedprice", "l_discount")
    plan = _plan(skyline_2d_window(li, ["l_extendedprice", "l_discount"]))
    assert not any(n in plan for n in _PYTHON_NODES), plan
    assert re.search(r"^\(\d+\) Window", plan, re.M), plan
    assert "BroadcastHashJoin" in plan, plan


def test_bm25_topk_all_jvm_broadcast_query_terms(spark):
    """BM25 retrieval stays entirely JVM-side and never joins the
    corpus against itself: the query-term set and the V-row df/stats
    tables reach the postings as broadcast joins."""
    from flink_skyline_qos_spark.functions.corpus import bm25_topk

    docs = load_table(spark, SF_DIR, "documents")
    qs = docs.filter("doc_id % 97 = 3").select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query"))
    plan = _plan(bm25_topk(docs, qs, k=10))
    assert not any(n in plan for n in _PYTHON_NODES), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bigram_rarity_all_jvm_broadcast_lm_tables(spark):
    """The bigram-LM scorer is pure Column exprs end-to-end (no Python
    eval anywhere) and its small LM sides — context counts, vocab
    scalar — reach the doc-bigram stream as broadcasts, never as
    shuffled join sides.  Shuffles carry only (doc, w1, w2, count)
    aggregate rows; the count is pinned so a refactor that re-shuffles
    the corpus (or drops a broadcast to a sort-merge join) fails here
    before it becomes a 100 TB regression."""
    from flink_skyline_qos_spark.functions.corpus import (
        bigram_rarity_score,
    )

    plan = _plan(bigram_rarity_score(load_table(spark, SF_DIR,
                                                "documents")))
    assert not any(n in plan for n in _PYTHON_NODES), plan
    assert len(re.findall(r"^\(\d+\) BroadcastExchange", plan,
                          re.M)) >= 2, plan
    assert _n_exchanges(plan) <= 9, plan


def test_hashed_classifier_all_jvm_model_broadcast(spark):
    """Classifier inference: hash-trick features and the mean-pool
    margin are all-JVM; a supplied (bucket, weight) model joins as a
    BROADCAST hash join (a model is MBs — shuffling the corpus against
    it would be the classic 100 TB mistake)."""
    from flink_skyline_qos_spark.functions.corpus import (
        hashed_classifier_score,
    )

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(hashed_classifier_score(docs, n_buckets=1 << 16))
    assert not any(n in plan for n in _PYTHON_NODES), plan
    assert _n_exchanges(plan) <= 2, plan
    w = spark.createDataFrame([(0, 1.0)], "bucket long, weight double")
    plan = _plan(hashed_classifier_score(docs, weights=w,
                                         n_buckets=1 << 16))
    assert "BroadcastHashJoin" in plan, plan
    assert not any(n in plan for n in _PYTHON_NODES), plan


def test_representative_skyline_result_is_local(spark):
    """The greedy's distributed passes run eagerly (TakeOrdered over
    the persisted frontier); the RETURNED frame must be the O(k·d)
    driver-built literal — no lingering lineage over the input, so a
    caller can join/collect it without re-running the skyline."""
    from flink_skyline_qos_spark.operators.variants import (
        representative_skyline,
    )

    part = load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_size", "p_retailprice")
    plan = _plan(representative_skyline(
        part, ["p_retailprice", "p_size"], 2, id_col="p_partkey"))
    assert "Exchange" not in plan, plan
    assert "Scan parquet" not in plan, plan
