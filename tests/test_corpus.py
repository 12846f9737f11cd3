"""Corpus-operator tests: chunking, contamination, TF-IDF, k-skyband."""

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_skyline_qos_spark.functions.corpus import (
    chunk_documents,
    chunk_documents_sql,
    contamination_check,
    contamination_check_sql,
    pack_sequences,
    pack_sequences_sql,
    tfidf_top_terms,
    tfidf_top_terms_sql,
)
from flink_skyline_qos_spark.operators.variants import (
    k_skyband,
    k_skyband_sql,
)


# ---------- chunking ----------

def test_chunk_crafted(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),   # 7 tokens
            (2, "x"),               # single token
            (3, "   "),             # blank: no chunks
            (4, ""),                # empty: no chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, size=3, stride=2)
    rows = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
            for r in out.collect()}
    # doc 1: starts 0,2,4,6 -> abc cde efg g
    assert rows[(1, 0)] == ("a b c", 3)
    assert rows[(1, 1)] == ("c d e", 3)
    assert rows[(1, 2)] == ("e f g", 3)
    assert rows[(1, 3)] == ("g", 1)
    assert rows[(2, 0)] == ("x", 1)
    assert {d for d, _ in rows} == {1, 2}


def test_chunk_partition_when_stride_eq_size(spark, documents):
    """stride == size ⇒ chunks partition the token sequence exactly."""
    chunks = chunk_documents(documents, size=16, stride=16)
    recon = (
        chunks.groupBy("doc_id")
        .agg(F.concat_ws(" ", F.array_sort(
            F.collect_list(F.struct("chunk_idx", "chunk_text"))
        ).getField("chunk_text")).alias("recon"),
            F.sum("n_tokens").alias("total"))
    )
    orig = documents.select(
        "doc_id",
        F.concat_ws(" ", F.filter(
            F.split(F.trim("text"), r"\s+"), lambda x: x != "")
        ).alias("orig"),
        F.size(F.filter(
            F.split(F.trim("text"), r"\s+"), lambda x: x != "")
        ).cast("long").alias("n"),
    ).filter(F.col("n") > 0)
    joined = orig.join(recon, "doc_id", "left")
    bad = joined.filter(
        (F.col("recon") != F.col("orig")) | (F.col("total") != F.col("n")))
    assert bad.count() == 0
    assert joined.filter(F.col("recon").isNull()).count() == 0


def test_chunk_duckdb_parity(documents, sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    sp = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens)
        for r in chunk_documents(documents, size=10, stride=7).collect())
    dk = sorted(map(tuple, con.sql(
        chunk_documents_sql("documents", size=10, stride=7)).fetchall()))
    assert sp == dk


def test_chunk_rejects_bad_params(spark, documents):
    with pytest.raises(ValueError):
        chunk_documents(documents, size=0)
    with pytest.raises(ValueError):
        chunk_documents(documents, stride=0)


# ---------- contamination ----------

def test_contamination_crafted(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),   # grams all in benchmark
            (2, "pure novel text entirely"), # no overlap
            (3, "the cat sat somewhere else now"),  # partial
            (4, ""),                          # no grams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the cat sat on the mat and more")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           contamination_check(corpus, bench, n=3).collect()}
    assert out[1].contaminated_frac == 1.0
    assert out[2].contaminated_frac == 0.0
    # doc 3 grams: 4 distinct, 1 hit ("the cat sat")
    assert out[3].n_grams == 4
    assert out[3].n_hits == 1
    assert out[3].contaminated_frac == pytest.approx(0.25)
    assert out[4].n_grams == 0 and out[4].contaminated_frac == 0.0
    assert set(out) == {1, 2, 3, 4}  # every corpus doc emits one row


def test_contamination_duckdb_parity(documents, sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    bench = documents.filter((F.col("doc_id") % 7) == 3)
    sp = sorted(
        (r.doc_id, r.n_grams, r.n_hits, r.contaminated_frac)
        for r in contamination_check(documents, bench, n=2).collect())
    dk = sorted(map(tuple, con.sql(contamination_check_sql(
        "SELECT * FROM documents",
        "SELECT * FROM documents WHERE doc_id % 7 = 3", n=2)).fetchall()))
    assert sp == dk


# ---------- sequence packing ----------

def test_pack_sequences_crafted(spark):
    chunks = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 10), (2, 0, 7), (3, 0, 20)],
        "doc_id long, chunk_idx long, n_tokens long",
    )
    out = {(r.doc_id, r.chunk_idx): (r.start_offset, r.seq_id, r.seq_offset)
           for r in pack_sequences(chunks, seq_len=16).collect()}
    assert out[(1, 0)] == (0, 0, 0)
    assert out[(1, 1)] == (10, 0, 10)
    assert out[(2, 0)] == (20, 1, 4)
    assert out[(3, 0)] == (27, 1, 11)


def test_pack_sequences_is_exact_prefix_sum(spark, documents):
    """start_offset equals the single-task window cumsum, at any
    parallelism; offsets are contiguous and non-overlapping."""
    from pyspark.sql.window import Window

    chunks = chunk_documents(documents, size=16, stride=16)
    for n_parts in (1, 4, 7):
        got = pack_sequences(chunks, seq_len=64, n_parts=n_parts)
        w = Window.orderBy("doc_id", "chunk_idx") \
            .rowsBetween(Window.unboundedPreceding, -1)
        ref = chunks.withColumn(
            "ref_start",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        bad = (
            got.join(ref, ["doc_id", "chunk_idx"])
            .filter(F.col("start_offset") != F.col("ref_start"))
        )
        assert bad.count() == 0, f"n_parts={n_parts}"
    assert got.filter(
        F.col("seq_offset") != F.col("start_offset") % 64).count() == 0


def test_pack_sequences_duckdb_parity(documents, sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    sp = sorted(
        (r.doc_id, r.chunk_idx, r.n_tokens, r.start_offset, r.seq_id,
         r.seq_offset)
        for r in pack_sequences(
            chunk_documents(documents, size=16, stride=16),
            seq_len=48).drop("chunk_text").collect())
    dk = sorted(
        (r[0], r[1], r[3], r[4], r[5], r[6])
        for r in con.sql(pack_sequences_sql(
            chunk_documents_sql("documents", size=16, stride=16),
            seq_len=48)).fetchall())
    assert sp == dk


def test_pack_sequences_releases_cache(spark, documents):
    """Pin-hygiene gate (VERDICT r3 #5): after this query and a GC, no
    NEW operator-internal cache may remain pinned.  (Other tests in the
    shared session may hold checkpoint pins of their own, and
    GC-released pins drain asynchronously — so the assertion is
    no-growth, not global-zero.)"""
    import gc
    import time

    def n_pinned():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    gc.collect()
    time.sleep(0.5)
    before = n_pinned()
    out = pack_sequences(chunk_documents(documents, size=16, stride=16),
                         seq_len=64)
    out.count()
    del out
    for _ in range(20):
        gc.collect()
        if n_pinned() <= before:
            break
        time.sleep(0.25)
    assert n_pinned() <= before


# ---------- tf-idf ----------

def test_tfidf_crafted(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "cherry cherry cherry common"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2, min_df=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.rank)
    # N=3; df: apple 1, banana 2, cherry 2, common 3
    # weights: df=1 -> 2.5/1.5, df=2 -> 1.5/2.5, df=3 -> 0.5/3.5
    r1 = by_doc[1]
    assert r1[0].token == "apple" and r1[0].tf == 2 and r1[0].df == 1
    assert r1[0].tfidf == pytest.approx(2 * 2.5 / 1.5, abs=1e-6)
    assert r1[1].token == "banana"
    r3 = by_doc[3]
    assert r3[0].token == "cherry" and r3[0].tf == 3
    # every doc has exactly k=2 rows, ranks 1..2
    assert all([r.rank for r in rows] == [1, 2] for rows in by_doc.values())


def test_tfidf_min_df_filters(spark):
    docs = spark.createDataFrame(
        [(1, "rare shared"), (2, "shared")],
        "doc_id long, text string",
    )
    toks = {r.token for r in tfidf_top_terms(docs, k=5, min_df=2).collect()}
    assert toks == {"shared"}


def test_tfidf_duckdb_parity(documents, sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    sp = sorted(
        (r.doc_id, r.token, r.tf, r.df, r.tfidf, r.rank)
        for r in tfidf_top_terms(documents, k=4, min_df=2).collect())
    dk = sorted(map(tuple, con.sql(
        tfidf_top_terms_sql("documents", k=4, min_df=2)).fetchall()))
    assert sp == dk


# ---------- k-skyband ----------

def test_k_skyband_crafted(spark):
    # minimization on (x, y); id for uniqueness
    pts = spark.createDataFrame(
        [
            (1, 0.0, 0.0),   # dominates everything: 0 dominators
            (2, 1.0, 1.0),   # dominated by 1
            (3, 2.0, 0.5),   # dominated by 1
            (4, 2.0, 2.0),   # dominated by 1, 2, 3
            (5, 3.0, 3.0),   # dominated by 1, 2, 3, 4
        ],
        "id long, x double, y double",
    )
    out = {r.id: r.dominator_count
           for r in k_skyband(pts, ["x", "y"], k=4).collect()}
    assert out == {1: 0, 2: 1, 3: 1, 4: 3}
    sky = {r.id for r in k_skyband(pts, ["x", "y"], k=1).collect()}
    assert sky == {1}


def test_k_skyband_matches_skyline_at_k1(spark, points_2d):
    from flink_skyline_qos_spark.operators.skyline import skyline

    band = {r.id for r in k_skyband(points_2d, ["d0", "d1"], k=1).collect()}
    sky = {r.id for r in skyline(points_2d, ["d0", "d1"]).collect()}
    assert band == sky


def test_k_skyband_prefilter_invariance(spark, sf_dir):
    from flink_skyline_qos_spark.sources.tables import load_table

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice")
    cols = ["p_retailprice", "p_size"]
    with_pf = sorted(map(tuple, k_skyband(part, cols, k=3).collect()))
    without = sorted(map(tuple, k_skyband(
        part, cols, k=3, prefilter_sample=None).collect()))
    assert with_pf == without


def test_k_skyband_duckdb_parity(spark, sf_dir):
    from flink_skyline_qos_spark.sources.tables import load_table

    con = duckdb.connect()
    con.sql(f"CREATE VIEW part AS SELECT * FROM '{sf_dir}/part.parquet'")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice")
    sp = sorted(map(tuple, k_skyband(
        part, ["p_retailprice", "p_size"], k=3).collect()))
    dk = sorted(map(tuple, con.sql(k_skyband_sql(
        "(SELECT p_partkey, p_size, p_retailprice FROM part)",
        ["p_retailprice", "p_size"], k=3)).fetchall()))
    assert sp == dk


# ---------- boilerplate removal ----------

def test_boilerplate_lines_crafted(spark):
    from flink_skyline_qos_spark.functions.corpus import (
        remove_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "cookie banner\nreal content one\nfooter"),
            (2, "cookie banner\nreal content two\nfooter"),
            (3, "cookie banner\nunique text\nfooter"),
            (4, "all original here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           remove_boilerplate_lines(docs, min_docs=3).collect()}
    assert out[1].clean_text == "real content one"
    assert out[1].n_lines == 3 and out[1].n_removed == 2
    assert out[2].clean_text == "real content two"
    assert out[3].clean_text == "unique text"
    assert out[4].clean_text == "all original here"
    assert out[4].n_removed == 0


def test_boilerplate_all_removed_keeps_row(spark):
    from flink_skyline_qos_spark.functions.corpus import (
        remove_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [(1, "x\ny"), (2, "x\ny"), (3, "x\ny")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           remove_boilerplate_lines(docs, min_docs=3).collect()}
    assert set(out) == {1, 2, 3}
    assert all(r.clean_text == "" and r.n_removed == 2
               for r in out.values())


def test_boilerplate_duckdb_parity_token_unit(documents, sf_dir):
    from flink_skyline_qos_spark.functions.corpus import (
        remove_boilerplate_lines,
        remove_boilerplate_lines_sql,
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    n = documents.count()
    thr = max(int(n * 0.78), 2)
    sp = sorted(
        (r.doc_id, r.clean_text, r.n_lines, r.n_removed)
        for r in remove_boilerplate_lines(
            documents, min_docs=thr, delimiter=" ").collect())
    dk = sorted(map(tuple, con.sql(remove_boilerplate_lines_sql(
        "documents", min_docs=thr, delimiter=" ")).fetchall()))
    assert sp == dk
    assert sum(r[3] for r in sp) > 0  # the threshold actually bites


def test_corpus_twins_unicode_parity(spark):
    """Crafted unicode (CJK, emoji, combining marks, tabs/newlines/
    NBSP): chunking and tf-idf twins stay bit-identical — both engines
    must agree on codepoint-level splits and token identity."""
    import pandas as pd

    docs = [
        (1, "héllo wörld héllo naïve"),
        (2, "日本語 テスト 日本語 中文 分词"),
        (3, "emoji 🚀 test 🚀🚀 done"),
        (4, "tab\tsep\tand\nnewline mix"),
        (5, "nbsp joined words nbsp joined"),
        (6, "é combining é marks"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    sp = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens)
        for r in chunk_documents(sdf, size=3, stride=2).collect())
    dk = sorted(map(tuple, con.sql(
        chunk_documents_sql("documents", size=3, stride=2)).fetchall()))
    assert sp == dk
    sp = sorted(
        (r.doc_id, r.token, r.tf, r.df, r.tfidf, r.rank)
        for r in tfidf_top_terms(sdf, k=3, min_df=1).collect())
    dk = sorted(map(tuple, con.sql(
        tfidf_top_terms_sql("documents", k=3, min_df=1)).fetchall()))
    assert sp == dk


# ---------- rarity score ----------

def test_rarity_crafted(spark):
    from flink_skyline_qos_spark.functions.corpus import rarity_score

    docs = spark.createDataFrame(
        [(1, "common common common"), (2, "common rare"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in rarity_score(docs).collect()}
    # T=5 total tokens; tf: common=4, rare=1
    # doc1: 3 tokens, each rarity 6/5 -> mean 1.2
    assert out[1].n_tokens == 3
    assert out[1].mean_rarity == pytest.approx(1.2)
    # doc2: (6/5 + 6/2) / 2 = 2.1
    assert out[2].mean_rarity == pytest.approx(2.1)
    # empty doc keeps its row with zeros
    assert out[3].n_tokens == 0 and out[3].mean_rarity == 0.0


def test_rarity_duckdb_parity(documents, sf_dir):
    from flink_skyline_qos_spark.functions.corpus import (
        rarity_score,
        rarity_score_sql,
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    sp = sorted(
        (r.doc_id, r.n_tokens, r.mean_rarity)
        for r in rarity_score(documents).collect())
    dk = sorted(map(tuple, con.sql(rarity_score_sql("documents"))
                    .fetchall()))
    assert sp == dk


# ---------- bigram LM rarity ----------

def test_bigram_rarity_crafted(spark):
    from flink_skyline_qos_spark.functions.corpus import bigram_rarity_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x"), (4, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_rarity_score(docs).collect()}
    # V = |{a,b,x}| = 3; c12: (a,b)=3, (b,a)=1; c1: a=3, b=1
    # rarity(a,b) = (3+3)/(3+1) = 1.5; rarity(b,a) = (1+3)/(1+1) = 2.0
    # doc1: (2*1.5 + 1*2.0)/3 = 5/3
    assert out[1].n_bigrams == 3
    assert out[1].mean_bigram_rarity == pytest.approx(5 / 3, abs=1e-6)
    assert out[2].n_bigrams == 1
    assert out[2].mean_bigram_rarity == pytest.approx(1.5)
    # one-token and empty docs keep their rows with zeros
    assert out[3].n_bigrams == 0 and out[3].mean_bigram_rarity == 0.0
    assert out[4].n_bigrams == 0 and out[4].mean_bigram_rarity == 0.0


def test_bigram_rarity_heldout_lm(spark):
    from flink_skyline_qos_spark.functions.corpus import bigram_rarity_score

    train = spark.createDataFrame(
        [(1, "a b")], "doc_id long, text string")
    score = spark.createDataFrame(
        [(10, "a b c"), (11, "")], "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_rarity_score(
        score, train_df=train).collect()}
    # LM: c12(a,b)=1, c1(a)=1, V=2.  (a,b) -> (1+2)/(1+1) = 1.5;
    # (b,c) fully unseen -> (0+2)/(0+1) = 2.0; mean 1.75
    assert out[10].n_bigrams == 2
    assert out[10].mean_bigram_rarity == pytest.approx(1.75)
    assert out[11].n_bigrams == 0 and out[11].mean_bigram_rarity == 0.0
    # train_df=None must equal passing the corpus itself as the LM
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")],
        "doc_id long, text string")
    a = sorted(tuple(r) for r in bigram_rarity_score(docs).collect())
    b = sorted(tuple(r) for r in bigram_rarity_score(
        docs, train_df=docs).collect())
    assert a == b


def test_bigram_rarity_heldout_duckdb_parity(documents, sf_dir):
    from flink_skyline_qos_spark.functions.corpus import (
        bigram_rarity_score,
        bigram_rarity_score_sql,
    )
    from flink_skyline_qos_spark.operators.sampling import (
        deterministic_sample,
        deterministic_sample_sql,
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    sp = sorted(
        (r.doc_id, r.n_bigrams, r.mean_bigram_rarity)
        for r in bigram_rarity_score(
            documents,
            train_df=deterministic_sample(documents, 0.5, ["doc_id"]),
        ).collect())
    train = f"({deterministic_sample_sql('documents', 0.5, ['doc_id'])})"
    dk = sorted(map(tuple, con.sql(bigram_rarity_score_sql(
        "documents", train_table=train)).fetchall()))
    assert sp == dk


def test_bigram_rarity_duckdb_parity(documents, sf_dir):
    from flink_skyline_qos_spark.functions.corpus import (
        bigram_rarity_score,
        bigram_rarity_score_sql,
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    sp = sorted(
        (r.doc_id, r.n_bigrams, r.mean_bigram_rarity)
        for r in bigram_rarity_score(documents).collect())
    dk = sorted(map(tuple, con.sql(bigram_rarity_score_sql("documents"))
                    .fetchall()))
    assert sp == dk


# ---------- hashed linear classifier ----------

def test_hashed_classifier_weights_join(spark):
    from flink_skyline_qos_spark.functions.corpus import (
        hashed_classifier_score,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "")], "doc_id long, text string")
    # n_buckets=1 collapses every feature to bucket 0, making the
    # model-join path hand-checkable without md5 arithmetic
    w_hit = spark.createDataFrame([(0, 2.0)], "bucket long, weight double")
    out = {r.doc_id: r for r in hashed_classifier_score(
        docs, weights=w_hit, n_buckets=1, bias=-0.5).collect()}
    # doc1: features a, b, "a b" -> 3 occurrences of weight 2.0;
    # margin = 2.0 - 0.5
    assert out[1].n_feats == 3
    assert out[1].margin == pytest.approx(1.5) and out[1].label == 1
    # empty doc scores the bare bias
    assert out[2].n_feats == 0
    assert out[2].margin == pytest.approx(-0.5) and out[2].label == 0
    # a model with no entry for the bucket contributes weight 0
    w_miss = spark.createDataFrame([(5, 9.0)], "bucket long, weight double")
    out = {r.doc_id: r for r in hashed_classifier_score(
        docs, weights=w_miss, n_buckets=1, bias=0.25).collect()}
    assert out[1].margin == pytest.approx(0.25) and out[1].label == 1


def test_hashed_classifier_duckdb_parity(documents, sf_dir):
    from flink_skyline_qos_spark.functions.corpus import (
        hashed_classifier_score,
        hashed_classifier_score_sql,
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    sp = sorted(
        (r.doc_id, r.n_feats, r.margin, r.label)
        for r in hashed_classifier_score(
            documents, n_buckets=1 << 16).collect())
    dk = sorted(map(tuple, con.sql(hashed_classifier_score_sql(
        "documents", n_buckets=1 << 16)).fetchall()))
    assert sp == dk


def test_quality_floor_grouped_semantics(spark):
    from flink_skyline_qos_spark.functions.corpus import quality_floor

    # group a: scores 1..10, p50 cut = 5.5 -> keep 6..10
    # group b: scores all equal -> everything at the cutoff survives
    rows = [("a", float(i)) for i in range(1, 11)] + \
           [("b", 3.0)] * 4 + [("b", None)]
    df = spark.createDataFrame(rows, "g string, score double")
    out = quality_floor(df, "score", group_col="g", q=0.5).collect()
    a = sorted(r.score for r in out if r.g == "a")
    b = [r.score for r in out if r.g == "b"]
    assert a == [6.0, 7.0, 8.0, 9.0, 10.0]
    assert b == [3.0] * 4  # ties at the cutoff kept, NULL dropped


def test_quality_floor_ungrouped_and_bad_q(spark):
    import pytest as _pytest

    from flink_skyline_qos_spark.functions.corpus import (
        quality_floor,
        quality_floor_sql,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(100)], "score double")
    out = quality_floor(df, "score", q=0.9)
    kept = sorted(r.score for r in out.collect())
    assert kept[0] == 90.0 and len(kept) == 10  # worst 90 % dropped
    with _pytest.raises(ValueError):
        quality_floor(df, "score", q=1.0)
    with _pytest.raises(ValueError):
        quality_floor_sql("t", "score", q=0.0)


def test_quality_floor_nan_scores_drop_and_engines_agree(spark):
    import duckdb as _duck

    from flink_skyline_qos_spark.functions.corpus import (
        quality_floor,
        quality_floor_sql,
    )

    # Spark's percentile sorts NaN as the LARGEST value while DuckDB's
    # quantile_cont ignores it — without the NaN filter the two
    # engines' cutoffs diverge (found in review, live-reproduced)
    rows = [(i, float(i)) for i in range(1, 10)] + [(99, float("nan"))]
    df = spark.createDataFrame(rows, "id bigint, score double")
    got = sorted(r.id for r in quality_floor(df, "score", q=0.5)
                 .collect())
    con = _duck.connect()
    con.sql("CREATE TABLE t (id BIGINT, score DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = sorted(r[0] for r in con.sql(quality_floor_sql(
        "SELECT * FROM t", "score", q=0.5)).fetchall())
    assert got == want == [5, 6, 7, 8, 9]  # NaN row gone, cut = 5.0


# ---------- shard manifest (token-budget shard writer planning) ------

def test_shard_manifest_crafted(spark):
    from flink_skyline_qos_spark.functions.corpus import shard_manifest
    rows = [(i, 10) for i in range(1, 11)]  # 10 docs x 10 tokens
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    man = {r.shard_id: r for r in
           shard_manifest(df, budget=25, n_parts=4).collect()}
    # greedy whole-doc assignment: shard = floor(start_offset / 25);
    # doc starts at (i-1)*10 -> shards 0:[1,2,3] 1:[4,5] 2:[6,7,8] 3:[9,10]
    assert {k: (v.n_docs, v.min_doc_id, v.max_doc_id)
            for k, v in man.items()} == {
        0: (3, 1, 3), 1: (2, 4, 5), 2: (3, 6, 8), 3: (2, 9, 10)}
    assert all(v.n_tokens == v.n_docs * 10 for v in man.values())


def test_shard_manifest_contiguous_ranges(spark, sf_dir):
    """Shards partition the corpus into contiguous, non-overlapping
    id ranges covering every document exactly once."""
    from flink_skyline_qos_spark.functions.text import token_count
    from flink_skyline_qos_spark.functions.corpus import shard_manifest
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens"))
    man = sorted(shard_manifest(docs, budget=2048).collect(),
                 key=lambda r: r.shard_id)
    assert sum(r.n_docs for r in man) == docs.count()
    for a, b in zip(man, man[1:]):
        assert a.max_doc_id < b.min_doc_id  # contiguous, ordered
        assert b.shard_id == a.shard_id + 1 or b.shard_id > a.shard_id
    # every shard's token mass stays within budget + one document
    mx = docs.agg(F.max("n_tokens")).first()[0]
    assert all(r.n_tokens <= 2048 + mx for r in man)


# ---------- paragraph-level exact dedup ----------

def test_dedup_paragraphs_crafted(spark):
    from flink_skyline_qos_spark.functions.corpus import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),      # units (u=2): "a b", "c d"
            (2, "c d a b e"),    # "c d" and "a b" repeat doc 1; "e" new
            (3, "a b c d"),      # both units repeat -> empty
            (4, ""),             # empty doc survives with 0 units
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.clean_text, r.n_units, r.n_dupes)
           for r in dedup_paragraphs(docs, unit_tokens=2).collect()}
    assert out[1] == ("a b c d", 2, 0)      # first occurrences all kept
    assert out[2] == ("e", 3, 2)            # only the new tail unit left
    assert out[3] == ("", 2, 2)             # fully deduped, row kept
    assert out[4] == ("", 0, 0)             # empty text not dropped


def test_dedup_paragraphs_first_occurrence_within_doc(spark):
    """A unit repeated INSIDE one doc keeps only its first position."""
    from flink_skyline_qos_spark.functions.corpus import dedup_paragraphs

    docs = spark.createDataFrame(
        [(7, "x y x y z z")], "doc_id long, text string")
    row = dedup_paragraphs(docs, unit_tokens=2).collect()[0]
    assert row.clean_text == "x y z z"
    assert (row.n_units, row.n_dupes) == (3, 1)


def test_dedup_paragraphs_duckdb_parity(documents, sf_dir):
    from flink_skyline_qos_spark.functions.corpus import (
        dedup_paragraphs,
        dedup_paragraphs_sql,
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    sp = sorted(
        (r.doc_id, r.clean_text, r.n_units, r.n_dupes)
        for r in dedup_paragraphs(documents, unit_tokens=8).collect())
    dk = sorted(map(tuple, con.sql(
        dedup_paragraphs_sql("documents", unit_tokens=8)).fetchall()))
    assert sp == dk
    assert sum(r[3] for r in sp) > 0  # planted dups actually collapse


# ---------- C4/Gopher rule filter ----------

def test_c4_rules_crafted(spark):
    from flink_skyline_qos_spark.functions.corpus import c4_rules

    docs = spark.createDataFrame(
        [
            (1, " ".join(["the"] * 5)),     # short + repeat(1.0) + tok_len
            (2, ""),                        # empty: short only
            (3, " ".join(
                f"tok{i % 30:02d}" for i in range(60))),  # healthy lengths
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in c4_rules(docs).collect()}
    assert out[1].failed == "short,tok_len,repeat"
    assert out[1].kept is False
    assert out[2].failed == "short,tok_len,stopword"
    assert out[2].n_tokens == 0 and out[2].kept is False
    # doc 3: 60 tokens of 5 chars each, top ratio 2/60, no stopwords
    assert out[3].n_tokens == 60
    assert out[3].mean_tok_len == 5.0
    assert "short" not in out[3].failed and "long" not in out[3].failed
    assert "repeat" not in out[3].failed
    assert "stopword" in out[3].failed      # zero function words


def test_c4_rules_duckdb_parity(documents, sf_dir):
    from flink_skyline_qos_spark.functions.corpus import (
        c4_rules,
        c4_rules_sql,
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    sp = sorted(
        (r.doc_id, r.n_tokens, r.mean_tok_len, r.top_tok_ratio,
         r.stop_ratio, r.failed, r.kept)
        for r in c4_rules(documents).collect())
    dk = sorted(map(tuple, con.sql(c4_rules_sql("documents")).fetchall()))
    assert sp == dk
    kept = sum(1 for r in sp if r[6])
    assert 0 < kept < len(sp)  # the rules split the corpus non-trivially


def test_bm25_topk_properties_and_sql_parity(spark, sf_dir):
    """BM25 retrieval: a query made of a document's own text ranks
    that document first; scores are positive, ranks dense per query;
    exact parity with the DuckDB twin (DECIMAL contribution sums)."""
    import duckdb

    from flink_skyline_qos_spark.functions.corpus import (
        bm25_topk, bm25_topk_sql,
    )
    from flink_skyline_qos_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    qs = docs.filter("doc_id % 97 = 3").select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query"))
    out = bm25_topk(docs, qs, k=5)
    rows = out.collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r.score > 0
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
    # NOTE: "a doc is its own best match" is NOT a BM25 invariant —
    # length normalization can rank a shorter doc sharing the query's
    # high-idf terms above the probe itself (this synthetic corpus is
    # near-duplicate-heavy, so it actually happens at sf0.001)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    want = sorted((a, b, float(c), d) for a, b, c, d in con.sql(
        bm25_topk_sql(
            "documents",
            "SELECT doc_id AS query_id, text AS query FROM documents "
            "WHERE doc_id % 97 = 3", k=5)).fetchall())
    got = sorted((r.query_id, r.doc_id, float(r.score), r.rank)
                 for r in rows)
    assert got == want


def test_bigram_rarity_matches_bruteforce(spark):
    """Exact agreement with an independent pure-Python add-one bigram
    LM over seeded random corpora (both self-trained and held-out)."""
    import random

    from flink_skyline_qos_spark.functions.corpus import (
        bigram_rarity_score)

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        vocab = ["a", "b", "c", "dd"]
        mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))
        docs = [(i, mk(rng.randint(0, 6))) for i in range(12)]
        train = [(100 + i, mk(rng.randint(2, 6))) for i in range(5)]

        def brute(score, lm):
            from collections import Counter
            bg = Counter()
            toks = set()
            for _i, t in lm:
                ws = t.split()
                toks.update(ws)
                bg.update(zip(ws, ws[1:]))
            c1 = Counter()
            for (w1, _w2), n in bg.items():
                c1[w1] += n
            v = len(toks)
            out = {}
            for i, t in score:
                ws = t.split()
                pairs = sorted(zip(ws, ws[1:]))
                if not pairs:
                    out[i] = (0, 0.0)
                    continue
                s = 0.0
                for p in sorted(set(pairs)):
                    n = pairs.count(p)
                    s += n * ((c1.get(p[0], 0) + v)
                              / (bg.get(p, 0) + 1.0))
                out[i] = (len(pairs), round(s / len(pairs), 6))
            return out

        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        tdf = spark.createDataFrame(train, "doc_id long, text string")
        for train_df, lm in ((None, docs), (tdf, train)):
            want = brute(docs, lm)
            got = {r.doc_id: (r.n_bigrams, r.mean_bigram_rarity)
                   for r in bigram_rarity_score(
                       sdf, train_df=train_df).collect()}
            assert got == want, f"seed={seed} heldout={train_df is not None}"


def test_hashed_classifier_matches_bruteforce(spark):
    """Exact agreement with a pure-Python mirror of the md5 hash
    trick + pseudo-weights + ordered mean-pool."""
    import hashlib
    import random

    from flink_skyline_qos_spark.functions.corpus import (
        hashed_classifier_score)

    n_buckets, seed_h, bias = 1 << 16, 7, -0.1
    rng = random.Random(3)
    vocab = ["alpha", "beta", "gamma", "zz"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 5))))
            for i in range(15)]

    def bucket(feat):
        h = hashlib.md5(f"{seed_h}|{feat}".encode()).hexdigest()
        return int(h[:8], 16) % n_buckets

    def brute(text):
        ws = text.split()
        feats = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        if not feats:
            return 0, round(bias, 6)
        from collections import Counter
        per = Counter(bucket(f) for f in feats)
        s = sum(n * (((b * 2654435761) % 1000003) / 1000003 - 0.5)
                for b, n in sorted(per.items()))
        return len(feats), round(s / len(feats) + bias, 6)

    want = {i: brute(t) for i, t in docs}
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_feats, r.margin)
           for r in hashed_classifier_score(
               sdf, n_buckets=n_buckets, bias=bias).collect()}
    assert got == want
