"""Corpus-level training-data operators: chunking, benchmark
contamination, TF-IDF term ranking.

The chunking/decontamination/term-weighting passes every large-scale
LLM data pipeline runs after cleaning and dedup (the reference engine
stops at QoS skylines — these extend the same documents table the dedup
suite covers).  All pure Column expressions (JVM whole-stage codegen,
no UDF) with exact DuckDB twins; tokenization is the whitespace
convention shared with :mod:`.text` (``vocab`` / ``repetition_stats``).

Scale shapes (100 TB):

* ``chunk_documents`` — narrow explode; output rows ≈ tokens/stride per
  doc, no shuffle at all.  The chunk boundary expression never
  materializes per-token rows — one ``sequence``/``slice`` pass per doc.
* ``contamination_check`` — distinct doc-grams (map-side combined) hash
  against the DISTINCT benchmark-gram set; the benchmark side is small
  by contract (eval suites, not corpora) and is broadcast, so the
  corpus never shuffles.
* ``tfidf_top_terms`` — two hash aggregates (the vocab shape) + one
  broadcast of the V-row document-frequency table back onto per-doc
  term counts; the per-doc top-k window partitions by doc_id, so the
  rank shuffle carries (doc, token, counts) rows, never text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "c4_rules",
    "c4_rules_sql",
    "unit_spans",
    "reassemble_spans",
    "chunk_documents",
    "chunk_documents_sql",
    "dedup_paragraphs",
    "dedup_paragraphs_sql",
    "contamination_check",
    "contamination_check_sql",
    "pack_sequences",
    "shard_manifest",
    "shard_manifest_sql",
    "pack_sequences_sql",
    "quality_floor",
    "quality_floor_sql",
    "remove_boilerplate_lines",
    "remove_boilerplate_lines_sql",
    "rarity_score",
    "rarity_score_sql",
    "bigram_rarity_score",
    "bigram_rarity_score_sql",
    "hashed_classifier_score",
    "hashed_classifier_score_sql",
    "tfidf_top_terms",
    "tfidf_top_terms_sql",
    "bm25_topk",
    "bm25_topk_sql",
]


def _clean_tokens(text):
    # vocab()'s convention: whitespace split, empty tokens dropped —
    # blank/whitespace-only text yields an empty array.
    return F.filter(F.split(F.trim(text), r"\s+"), lambda x: x != "")


_CLEAN_TOKENS_SQL = ("list_filter(string_split_regex(trim({c}), '\\s+'), "
                     "x -> x <> '')")


def chunk_documents(df: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text", size: int = 64,
                    stride: int = 48, min_tokens: int = 1) -> DataFrame:
    """Split each document into token windows of `size`, every `stride`
    tokens (stride < size ⇒ overlapping windows) — the
    fixed-context-window packing pass of a pre-training pipeline.

    Returns (id, chunk_idx, chunk_text, n_tokens): chunk_idx counts
    windows from 0; the last window may be short (≥ `min_tokens` or it
    is dropped, so empty documents emit nothing).

    Window starts are 0, stride, 2·stride, … ≤ n_tokens − 1; both the
    start sequence and the token slice are single Column expressions,
    so the plan is one narrow projection + explode — zero shuffle, and
    output size is rows × (n_tokens/stride), never a per-token blowup.
    """
    if size < 1 or stride < 1:
        raise ValueError("size and stride must be >= 1")
    toks = _clean_tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    chunks = F.transform(starts, lambda s: F.slice(toks, s + 1, size))
    exploded = df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "__c"),
    )
    return (
        exploded.select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.concat_ws(" ", "__c").alias("chunk_text"),
            F.size("__c").cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= min_tokens)
    )


def chunk_documents_sql(table: str, *, id_col: str = "doc_id",
                        text_col: str = "text", size: int = 64,
                        stride: int = 48, min_tokens: int = 1) -> str:
    """DuckDB twin of :func:`chunk_documents` (bit-identical windows).

    DuckDB list slices are 1-based inclusive and clamp, matching
    Spark's ``slice(toks, s+1, size)``; ``generate_series`` includes
    its stop like ``F.sequence``.
    """
    w = _CLEAN_TOKENS_SQL.format(c=text_col)
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {w} AS w FROM {table}
),
starts AS (
  SELECT id, w,
         unnest(generate_series(0, greatest(len(w) - 1, 0), {stride}))
           AS start
  FROM base
)
SELECT id AS {id_col},
       (start // {stride})::BIGINT AS chunk_idx,
       array_to_string(w[start + 1 : start + {size}], ' ') AS chunk_text,
       len(w[start + 1 : start + {size}])::BIGINT AS n_tokens
FROM starts
WHERE len(w[start + 1 : start + {size}]) >= {min_tokens}
""".strip()


def pack_sequences(chunks: DataFrame, seq_len: int = 2048, *,
                   order_cols=("doc_id", "chunk_idx"),
                   count_col: str = "n_tokens",
                   n_parts: int | None = None) -> DataFrame:
    """Assign chunks to fixed-length training sequences — the
    "pack tokens to context length" pass that turns a chunked corpus
    into model input rows.

    Chunks are laid end-to-end in `order_cols` order; each gets its
    global ``start_offset`` (tokens before it), the ``seq_id`` of the
    `seq_len`-token training sequence its first token lands in, and
    ``seq_offset`` within that sequence.  A chunk may span a sequence
    boundary (tokens stream across sequences, as in real pipelines);
    seq_id is where it starts.

    This is a global running sum — the textbook Spark anti-pattern is
    ``Window.orderBy`` with no partition key (one task does the whole
    corpus).  Instead, a two-level prefix sum over DETERMINISTIC
    buckets: the leading order column's [min, max] is cut into
    `n_parts` fixed-width buckets (a non-decreasing function of the
    order key, so bucket order IS global order), per-bucket token
    totals roll up to bucket offsets via a tiny n_parts-row window,
    and the within-bucket running sum is a window PARTITIONED by
    bucket — every stage parallel, all JVM.  NOT `repartitionByRange`:
    its sampled boundaries differ between the jobs of a multi-action
    plan (the r2 scatter-defect class); fixed-width buckets are pure
    functions of the data, so every pass agrees by construction.
    Bucket skew follows id-density skew — raise `n_parts` or pre-
    densify ids if the leading key is very lumpy.
    """
    if n_parts is None:
        n_parts = chunks.sparkSession.sparkContext.defaultParallelism
    oc = list(order_cols)
    # NULL order keys have no place in a total order: a NULL leading
    # key would fall out of the bucket equi-join while still inflating
    # offsets, and engines disagree on NULL sort position.  Excluded
    # explicitly, mirrored in the SQL twin.
    chunks = chunks.na.drop(subset=oc)
    lead = oc[0]

    bounds = chunks.agg(
        F.min(lead).cast("long").alias("__mn"),
        F.max(lead).cast("long").alias("__mx"))
    width = F.greatest(
        F.ceil((F.col("__mx") - F.col("__mn") + 1) / F.lit(n_parts))
        .cast("long"),
        F.lit(1))
    b = (chunks.crossJoin(F.broadcast(bounds))
         .withColumn("__bkt",
                     ((F.col(lead).cast("long") - F.col("__mn")) / width)
                     .cast("long"))
         .drop("__mn", "__mx"))

    totals = b.groupBy("__bkt").agg(F.sum(count_col).alias("__tot"))
    w_off = Window.orderBy("__bkt") \
        .rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__bkt",
        F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off"))

    w_in = Window.partitionBy("__bkt").orderBy(*oc) \
        .rowsBetween(Window.unboundedPreceding, -1)
    start = (F.col("__off")
             + F.coalesce(F.sum(count_col).over(w_in), F.lit(0)))
    return (
        b.join(F.broadcast(offsets), "__bkt")
        .withColumn("start_offset", start.cast("long"))
        .withColumn("seq_id",
                    F.floor(F.col("start_offset") / seq_len).cast("long"))
        .withColumn("seq_offset",
                    (F.col("start_offset") % seq_len).cast("long"))
        .drop("__bkt", "__off")
    )


def pack_sequences_sql(chunks_sql: str, seq_len: int = 2048, *,
                       order_cols=("doc_id", "chunk_idx"),
                       count_col: str = "n_tokens") -> str:
    """DuckDB twin of :func:`pack_sequences` (plain global running sum —
    the oracle may serialize; the Spark side must not)."""
    ob = ", ".join(order_cols)
    nn = " AND ".join(f"{c} IS NOT NULL" for c in order_cols)
    chunks_sql = f"SELECT * FROM ({chunks_sql}) WHERE {nn}"
    return f"""
SELECT *,
       (sum({count_col}) OVER (ORDER BY {ob} ROWS UNBOUNDED PRECEDING)
        - {count_col})::BIGINT AS start_offset,
       ((sum({count_col}) OVER (ORDER BY {ob} ROWS UNBOUNDED PRECEDING)
        - {count_col}) // {seq_len})::BIGINT AS seq_id,
       ((sum({count_col}) OVER (ORDER BY {ob} ROWS UNBOUNDED PRECEDING)
        - {count_col}) % {seq_len})::BIGINT AS seq_offset
FROM ({chunks_sql})
""".strip()


def _grams(text, n: int):
    """Word n-grams, repetition_stats()'s convention: docs with fewer
    than n tokens contribute one truncated gram."""
    toks = _clean_tokens(text)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def _grams_sql(col: str, n: int) -> str:
    w = _CLEAN_TOKENS_SQL.format(c=col)
    return (f"list_transform(generate_series(1, "
            f"greatest(len({w}) - {n - 1}, 1)), "
            f"i -> array_to_string(({w})[i : i + {n - 1}], ' '))")


def contamination_check(corpus: DataFrame, benchmark: DataFrame, *,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3) -> DataFrame:
    """Benchmark-contamination scan: for every corpus document, the
    fraction of its DISTINCT word `n`-grams that appear anywhere in the
    benchmark set — the standard eval-decontamination signal (n-gram
    collision against held-out test sets).

    Returns (id, n_grams, n_hits, contaminated_frac), one row per
    corpus doc (docs whose text produces no grams emit n_grams = 0,
    frac 0.0).

    The benchmark side is collapsed to its distinct gram set and
    broadcast (eval suites are small by contract); the corpus side
    aggregates map-side, so nothing heavier than (doc, gram) rows ever
    shuffles.  For a benchmark too large to broadcast, drop the hint
    and let AQE pick a shuffle hash join — the shape is otherwise
    unchanged.
    """
    doc_grams = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(_grams(F.col(text_col), n)))
        .alias("g"),
    ).filter(F.col("g") != "")
    bench = (
        benchmark.select(
            F.explode(_grams(F.col(text_col), n)).alias("g"))
        .filter(F.col("g") != "").distinct()
        .withColumn("__hit", F.lit(1))
    )
    hits = (
        doc_grams.join(F.broadcast(bench), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hits"),
        )
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0))
                .otherwise(F.col("n_hits") / F.col("n_grams")), 6)
            .alias("contaminated_frac"),
        )
    )


def contamination_check_sql(corpus_sql: str, benchmark_sql: str, *,
                            id_col: str = "doc_id", text_col: str = "text",
                            n: int = 3) -> str:
    """DuckDB twin of :func:`contamination_check`."""
    return f"""
WITH doc_grams AS (
  SELECT id, g FROM (
    SELECT {id_col} AS id,
           unnest(list_distinct({_grams_sql(text_col, n)})) AS g
    FROM ({corpus_sql})
  ) WHERE g <> ''
),
bench AS (
  SELECT DISTINCT g FROM (
    SELECT unnest({_grams_sql(text_col, n)}) AS g FROM ({benchmark_sql})
  ) WHERE g <> ''
),
hits AS (
  SELECT d.id, count(*) AS n_grams,
         sum(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) AS n_hits
  FROM doc_grams d LEFT JOIN bench b USING (g)
  GROUP BY d.id
)
SELECT c.{id_col},
       coalesce(h.n_grams, 0)::BIGINT AS n_grams,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       round(CASE WHEN coalesce(h.n_grams, 0) = 0 THEN 0.0
                  ELSE h.n_hits * 1.0 / h.n_grams END, 6)
         AS contaminated_frac
FROM ({corpus_sql}) c LEFT JOIN hits h ON h.id = c.{id_col}
""".strip()


def rarity_score(df: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-document mean token rarity — the log-free perplexity
    surrogate: how "surprising" a document's tokens are under the
    corpus unigram distribution.

    For each token occurrence, rarity = ``(T + 1) / (tf + 1)`` where
    ``tf`` is the token's corpus term frequency and ``T`` the corpus
    token count (inverse unigram probability, add-one smoothed);
    returns (id, n_tokens, round(mean rarity, 6)).  High values flag
    rare-token-dense documents (often noise), low values flag
    boilerplate — the same axis unigram log-perplexity measures, kept
    to one IEEE division + mean so the DuckDB twin is bit-identical
    (a ``log`` would tie correctness to libm rounding, as with
    :func:`tfidf_top_terms`).

    Shape: explode → per-(doc, token) counts → token frequencies over
    that aggregate → broadcast the V-row frequency table + 1-row total
    back onto the doc tokens → one per-doc average.  Nothing heavier
    than (doc, token, count) rows ever shuffles.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(_clean_tokens(F.col(text_col))).alias("token"),
    )
    per_doc = toks.groupBy("__id", "token").agg(
        F.count(F.lit(1)).alias("n"))
    tf = per_doc.groupBy("token").agg(F.sum("n").alias("tf"))
    total = tf.agg(F.sum("tf").alias("__t"))
    term = (F.col("n")
            * ((F.col("__t") + 1.0) / (F.col("tf") + 1.0))).alias("v")
    # float summation is ORDER-DEPENDENT; an unordered SUM would let
    # Spark's partial-agg order and DuckDB's sequential order disagree
    # in the last ulp and occasionally flip round(,6).  Fold the terms
    # in token order on both engines instead — bit-identical.
    scored = (
        per_doc.join(F.broadcast(tf), "token")
        .crossJoin(F.broadcast(total))
        .select("__id", "n", F.struct("token", term).alias("tv"))
        .groupBy("__id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("tv")),
                    F.lit(0.0), lambda acc, x: acc + x["v"],
                ) / F.sum("n"), 6).alias("mean_rarity"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored.withColumnRenamed("__id", id_col), id_col, "left")
        .select(id_col,
                F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                F.coalesce("mean_rarity", F.lit(0.0)).alias("mean_rarity"))
    )


def rarity_score_sql(table: str, *, id_col: str = "doc_id",
                     text_col: str = "text") -> str:
    """DuckDB twin of :func:`rarity_score`."""
    w = _CLEAN_TOKENS_SQL.format(c=text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS id, unnest({w}) AS token FROM {table}
),
per_doc AS (
  SELECT id, token, count(*)::BIGINT AS n FROM toks GROUP BY 1, 2
),
tf AS (SELECT token, sum(n)::BIGINT AS tf FROM per_doc GROUP BY 1),
tot AS (SELECT sum(tf)::BIGINT AS t FROM tf),
scored AS (
  SELECT id, sum(n)::BIGINT AS n_tokens,
         round(list_reduce(
                 list_prepend(0.0,
                   list(n * ((t + 1.0) / (tf + 1.0)) ORDER BY token)),
                 (a, b) -> a + b) / sum(n), 6)
           AS mean_rarity
  FROM per_doc JOIN tf USING (token), tot
  GROUP BY id
)
SELECT d.{id_col},
       coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(s.mean_rarity, 0.0) AS mean_rarity
FROM {table} d LEFT JOIN scored s ON s.id = d.{id_col}
""".strip()


_BIGRAMS_EXPR = (
    "transform(slice(__w, 1, greatest(size(__w) - 1, 0)), "
    "(x, i) -> struct(x AS w1, __w[i + 1] AS w2))")


def bigram_rarity_score(df: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text",
                        train_df: DataFrame | None = None) -> DataFrame:
    """Per-document mean bigram rarity — the log-free bigram-LM
    perplexity surrogate (the LM quality-filtering axis of CCNet,
    Wenzek et al. 2020; :func:`rarity_score` is the unigram version).

    For each adjacent token pair (w1, w2), rarity is the inverse of
    the add-one-smoothed conditional probability
    ``P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)``, i.e.
    ``(c(w1) + V) / (c(w1,w2) + 1)``, where ``c(w1)`` counts w1 as a
    bigram context over the LM corpus and ``V`` is the LM vocabulary
    size.  Returns (id, n_bigrams, round(mean rarity, 6)); documents
    with fewer than two tokens get (0, 0.0).  High values flag
    incoherent token sequences (the perplexity signal unigram rarity
    cannot see — it is blind to word ORDER), low values boilerplate.
    Log-free for the same reason as :func:`rarity_score`: a ``log``
    would tie the DuckDB twin to libm rounding.

    ``train_df`` is the LM training corpus (CCNet scores crawl text
    under a CLEAN reference LM — Wikipedia there); ``None`` trains on
    `df` itself (self-perplexity: outliers relative to the corpus).
    Bigrams absent from the LM smooth to ``c(w1,w2) = 0`` and
    contexts to ``c(w1) = 0`` — rarity ``(0 + V)/(0 + 1) = V`` for a
    fully-unseen pair, exactly the add-one limit; with
    ``train_df=None`` every scored bigram is in the LM, so the left
    joins reduce to the self-trained inner form.

    Shape: bigram structs are built per-doc as ONE array expression
    (a ``slice`` + index-lambda ``transform`` — no posexplode
    self-join) and exploded once.  Per-(doc, w1, w2) counts feed the
    LM bigram table; the context-count table (≤ vocab rows) and the
    1-row vocab size broadcast back.  The (doc-bigram ⋈ LM-bigram)
    join shuffles on (w1, w2) — the same key both aggregates already
    hash on, so AQE coalesces, and nothing wider than
    (doc, w1, w2, count) rows ever moves.  Float summation is pinned
    to (w1, w2) order on both engines (the :func:`rarity_score`
    ordered-fold discipline).
    """
    def _pairs(src: DataFrame) -> DataFrame:
        return (
            src.select(F.col(id_col).alias("__id"),
                       _clean_tokens(F.col(text_col)).alias("__w"))
            .select("__id", F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg"))
            .select("__id", F.col("bg.w1").alias("w1"),
                    F.col("bg.w2").alias("w2"))
        )

    per_doc = _pairs(df).groupBy("__id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("n"))
    lm = df if train_df is None else train_df
    if train_df is None:
        c12 = per_doc.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    else:
        c12 = _pairs(train_df).groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    voc = (lm.select(F.explode(_clean_tokens(F.col(text_col)))
                     .alias("token"))
           .agg(F.count_distinct("token").alias("__v")))
    term = (F.col("n")
            * ((F.coalesce("c1", F.lit(0)) + F.col("__v"))
               / (F.coalesce("c12", F.lit(0)) + 1.0))
            ).alias("v")
    scored = (
        per_doc.join(c12, ["w1", "w2"], "left")
        .join(F.broadcast(c1), "w1", "left")
        .crossJoin(F.broadcast(voc))
        .select("__id", "n", F.struct("w1", "w2", term).alias("tv"))
        .groupBy("__id")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("tv")),
                    F.lit(0.0), lambda acc, x: acc + x["v"],
                ) / F.sum("n"), 6).alias("mean_bigram_rarity"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored.withColumnRenamed("__id", id_col), id_col, "left")
        .select(id_col,
                F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                F.coalesce("mean_bigram_rarity", F.lit(0.0))
                .alias("mean_bigram_rarity"))
    )


def bigram_rarity_score_sql(table: str, *, id_col: str = "doc_id",
                            text_col: str = "text",
                            train_table: str | None = None) -> str:
    """DuckDB twin of :func:`bigram_rarity_score` (``train_table``
    mirrors ``train_df``; None = self-trained)."""
    w = _CLEAN_TOKENS_SQL.format(c=text_col)
    if train_table is None:
        lm_docs = "docs"
        c12 = ("c12 AS (SELECT w1, w2, sum(n)::BIGINT AS c12 "
               "FROM per_doc GROUP BY 1, 2)")
    else:
        lm_docs = "lm_docs"
        c12 = f"""lm_docs AS (
  SELECT {id_col} AS id, {w} AS w FROM {train_table}
),
lm_pairs0 AS (
  SELECT id, unnest(list_transform(range(1, length(w)),
                i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS bg
  FROM lm_docs
),
c12 AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*)::BIGINT AS c12
        FROM lm_pairs0 GROUP BY 1, 2)"""
    return f"""
WITH docs AS (
  SELECT {id_col} AS id, {w} AS w FROM {table}
),
pairs0 AS (
  SELECT id, unnest(list_transform(range(1, length(w)),
                i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS bg
  FROM docs
),
pairs AS (SELECT id, bg.w1 AS w1, bg.w2 AS w2 FROM pairs0),
per_doc AS (
  SELECT id, w1, w2, count(*)::BIGINT AS n FROM pairs GROUP BY 1, 2, 3
),
{c12},
c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY 1),
voc AS (SELECT count(DISTINCT token)::BIGINT AS v
        FROM (SELECT unnest(w) AS token FROM {lm_docs})),
scored AS (
  SELECT id, sum(n)::BIGINT AS n_bigrams,
         round(list_reduce(
                 list_prepend(0.0,
                   list(n * ((coalesce(c1, 0) + v) / (coalesce(c12, 0) + 1.0))
                        ORDER BY w1, w2)),
                 (a, b) -> a + b) / sum(n), 6)
           AS mean_bigram_rarity
  FROM per_doc LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1), voc
  GROUP BY id
)
SELECT d.{id_col},
       coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(s.mean_bigram_rarity, 0.0) AS mean_bigram_rarity
FROM {table} d LEFT JOIN scored s ON s.id = d.{id_col}
""".strip()


def hashed_classifier_score(df: DataFrame, *,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            weights: DataFrame | None = None,
                            n_buckets: int = 1 << 20,
                            seed: int = 7,
                            bias: float = 0.0) -> DataFrame:
    """Linear text-classifier INFERENCE with the hashing trick — the
    fastText-style quality-filter plumbing (Joulin et al. 2016;
    feature hashing per Weinberger et al. 2009) every
    CCNet/Dolma/DCLM-shaped pipeline runs to score documents against
    a trained model at corpus scale.

    Features are unigrams plus adjacent word-bigrams, each hashed
    into ``n_buckets`` via the repo's content-stable md5 bucket
    (:func:`~..operators.sampling.hash_bucket` and its documented
    bit-identical SQL twin, reused directly so there is ONE copy of
    the bucketing scheme).  The document score is
    the MEAN weight over feature occurrences plus ``bias`` — the
    pre-link margin.  No sigmoid: the link is monotone, so filter
    thresholds compose with the margin directly, and ``exp`` would
    tie the twin to libm rounding (the :func:`rarity_score` rule).

    ``weights`` is a (bucket BIGINT, weight DOUBLE) frame — a trained
    model imported from anywhere; it joins broadcast (a model is ≤
    ``n_buckets`` rows — MBs, never corpus-sized).  When ``None``, a
    deterministic integer-arithmetic pseudo-weight
    ``(bucket * 2654435761 mod 1000003) / 1000003 - 0.5`` stands in,
    so the full inference path — feature extraction, hash trick,
    model lookup, ordered mean-pool — is exercised and
    oracle-checkable without shipping a binary model (no trained
    artifact could live in this repo anyway).

    Returns (id, n_feats, margin, label) with margin rounded to 6
    places and label = 1 iff the ROUNDED margin > 0 (both engines
    compare the identical rounded value, so the threshold cannot
    flip on a last-ulp).  Empty documents score margin = bias.

    Scale shape: one explode to (doc, bucket) rows, per-(doc, bucket)
    counts map-side combined, the model broadcast, one ordered
    per-doc fold.  The corpus never shuffles text — only
    (doc, bucket, count) triples.
    """
    from ..operators.sampling import hash_bucket

    feats = (
        df.select(F.col(id_col).alias("__id"),
                  _clean_tokens(F.col(text_col)).alias("__w"))
        .select("__id", F.explode(F.expr(
            "concat(__w, transform(slice(__w, 1, greatest(size(__w) - 1, 0)), "
            "(x, i) -> concat(x, ' ', __w[i + 1])))")).alias("feat"))
    )
    bucket = (hash_bucket(["feat"], seed) % n_buckets).alias("bucket")
    per_doc = (feats.select("__id", bucket)
               .groupBy("__id", "bucket")
               .agg(F.count(F.lit(1)).alias("n")))
    if weights is None:
        wexpr = ((F.col("bucket") * F.lit(2654435761))
                 % 1000003).cast("double") / 1000003.0 - 0.5
        looked = per_doc.withColumn("weight", wexpr)
    else:
        looked = (per_doc.join(F.broadcast(weights), "bucket", "left")
                  .withColumn("weight",
                              F.coalesce("weight", F.lit(0.0))))
    scored = (
        looked
        .select("__id", "n",
                F.struct("bucket",
                         (F.col("n") * F.col("weight")).alias("v"))
                .alias("tv"))
        .groupBy("__id")
        .agg(
            F.sum("n").cast("long").alias("n_feats"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("tv")),
                    F.lit(0.0), lambda acc, x: acc + x["v"],
                ) / F.sum("n") + F.lit(float(bias)), 6).alias("margin"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored.withColumnRenamed("__id", id_col), id_col, "left")
        .select(id_col,
                F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
                F.coalesce("margin", F.round(F.lit(float(bias)), 6))
                .alias("margin"))
        .withColumn("label", (F.col("margin") > 0.0).cast("int"))
    )


def hashed_classifier_score_sql(table: str, *, id_col: str = "doc_id",
                                text_col: str = "text",
                                weights_sql: str | None = None,
                                n_buckets: int = 1 << 20,
                                seed: int = 7,
                                bias: float = 0.0) -> str:
    """DuckDB twin of :func:`hashed_classifier_score`.

    ``weights_sql`` is a subquery yielding (bucket, weight) when a
    model frame was passed; None mirrors the pseudo-weight path.
    """
    from ..operators.sampling import _bucket_sql

    w = _CLEAN_TOKENS_SQL.format(c=text_col)
    if weights_sql is None:
        looked = """
looked AS (
  SELECT id, bucket, n,
         ((bucket * 2654435761) % 1000003)::DOUBLE / 1000003.0 - 0.5
           AS weight
  FROM per_doc
)"""
    else:
        looked = f"""
looked AS (
  SELECT p.id, p.bucket, p.n, coalesce(m.weight, 0.0) AS weight
  FROM per_doc p LEFT JOIN ({weights_sql}) m ON m.bucket = p.bucket
)"""
    return f"""
WITH docs AS (
  SELECT {id_col} AS id, {w} AS w FROM {table}
),
feats AS (
  SELECT id, unnest(w || list_transform(range(1, length(w)),
                i -> w[i] || ' ' || w[i + 1])) AS feat
  FROM docs
),
per_doc AS (
  SELECT id,
         {_bucket_sql(["feat"], seed)} % {n_buckets} AS bucket,
         count(*)::BIGINT AS n
  FROM feats GROUP BY 1, 2
),{looked},
scored AS (
  SELECT id, sum(n)::BIGINT AS n_feats,
         round(list_reduce(
                 list_prepend(0.0, list(n * weight ORDER BY bucket)),
                 (a, b) -> a + b) / sum(n) + {float(bias)!r}, 6)
           AS margin
  FROM looked GROUP BY id
)
SELECT d.{id_col},
       coalesce(s.n_feats, 0)::BIGINT AS n_feats,
       coalesce(s.margin, round({float(bias)!r}, 6)) AS margin,
       (coalesce(s.margin, round({float(bias)!r}, 6)) > 0.0)::INT
         AS label
FROM {table} d LEFT JOIN scored s ON s.id = d.{id_col}
""".strip()


def remove_boilerplate_lines(df: DataFrame, *, id_col: str = "doc_id",
                             text_col: str = "text", min_docs: int = 3,
                             delimiter: str = "\n") -> DataFrame:
    """Strip corpus-level boilerplate: delete every `delimiter`-bounded
    unit (lines by default) that appears verbatim in at least
    `min_docs` DISTINCT documents — the C4-style pass that removes nav
    bars, cookie banners and license headers shared across a crawl.

    Returns (id, clean_text, n_lines, n_removed); unit order is
    preserved, documents whose every unit is boilerplate keep an empty
    ``clean_text``.  `delimiter` is a literal string (escaped before it
    reaches Spark's regex split); rejoining uses the same literal.

    Scale shape: units explode once, the unit→doc-frequency aggregate
    is map-side combined on the unit hash, and the boilerplate set
    (units crossing the threshold — tiny by definition) joins back
    un-hinted so AQE broadcasts it when small; reassembly is one
    groupBy(id) with an ordered in-group sort.  Nothing ever carries
    more than (id, unit) rows.
    """
    import re as _re

    t = F.col(text_col)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(t, _re.escape(delimiter)))
        .alias("pos", "line"),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("ldf"))
        .filter(F.col("ldf") >= min_docs)
        .select("line", F.lit(True).alias("__boiler"))
    )
    marked = lines.join(boiler, "line", "left").select(
        id_col, "pos", "line",
        F.coalesce("__boiler", F.lit(False)).alias("__boiler"),
    )
    arr = F.array_sort(
        F.collect_list(F.struct("pos", "line", "__boiler")))
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(arr, lambda x: ~x["__boiler"]),
                lambda x: x["line"],
            ), delimiter,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("__boiler").cast("long")).alias("n_removed"),
    )


def remove_boilerplate_lines_sql(table: str, *, id_col: str = "doc_id",
                                 text_col: str = "text",
                                 min_docs: "int | str" = 3,
                                 delimiter: str = "\n") -> str:
    """DuckDB twin of :func:`remove_boilerplate_lines`.

    `min_docs` may be a SQL expression string (e.g. a scalar subquery
    computing a corpus-relative threshold) — it is interpolated into
    the HAVING clause verbatim.
    """
    if delimiter == "\n":
        d = "chr(10)"
    else:
        d = "'" + delimiter.replace("'", "''") + "'"
    return f"""
WITH base AS (
  SELECT {id_col} AS id, string_split({text_col}, {d}) AS sp
  FROM {table}
),
lines AS (
  SELECT id, i - 1 AS pos, sp[i] AS line
  FROM (SELECT id, sp, unnest(generate_series(1, len(sp))) AS i FROM base)
),
boiler AS (
  SELECT line FROM lines GROUP BY line
  HAVING count(DISTINCT id) >= {min_docs}
),
marked AS (
  SELECT l.id, l.pos, l.line, b.line IS NOT NULL AS is_boiler
  FROM lines l LEFT JOIN boiler b ON b.line = l.line
)
SELECT id AS {id_col},
       coalesce(string_agg(line, {d} ORDER BY pos)
                FILTER (WHERE NOT is_boiler), '') AS clean_text,
       count(*)::BIGINT AS n_lines,
       coalesce(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END), 0)::BIGINT
         AS n_removed
FROM marked GROUP BY id
""".strip()


def tfidf_top_terms(df: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 5,
                    min_df: int = 1) -> DataFrame:
    """Per-document top-`k` terms by TF-IDF.

    Returns (id, token, tf, df, tfidf, rank), rank 1..k under
    (tfidf DESC, token ASC) — a total order, so top-k is deterministic.

    The idf is the log-free Robertson–Spärck-Jones rarity weight
    ``(N − df + 0.5) / (df + 0.5)`` (the BM25 idf numerator): one IEEE
    division and one multiply, so Spark and the DuckDB oracle produce
    the bit-identical double — a ``log`` would tie correctness to libm
    rounding, which neither engine pins.  Monotone decreasing in df,
    like every idf.

    Physical shape: explode → per-(doc, token) counts (map-side
    combined) → per-token doc frequencies over that aggregate (never
    re-reading text) → broadcast the V-row df table + the 1-row corpus
    count back onto the per-doc counts → per-doc top-k window.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(_clean_tokens(F.col(text_col))).alias("token"),
    )
    per_doc = toks.groupBy("__id", "token").agg(
        F.count(F.lit(1)).alias("tf"))
    dfreq = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("df")).filter(F.col("df") >= min_df)
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        per_doc.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("__id").alias(id_col), "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(
                F.col("tf")
                * ((F.col("__n") - F.col("df") + 0.5)
                   / (F.col("df") + 0.5)), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("token"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def tfidf_top_terms_sql(table: str, *, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        min_df: int = 1) -> str:
    """DuckDB twin of :func:`tfidf_top_terms` (bit-identical doubles:
    the score is one division + one multiply in the same operation
    order)."""
    w = _CLEAN_TOKENS_SQL.format(c=text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS id, unnest({w}) AS token FROM {table}
),
per_doc AS (
  SELECT id, token, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
),
dfreq AS (
  SELECT token, count(*)::BIGINT AS df FROM per_doc GROUP BY 1
  HAVING count(*) >= {min_df}
),
n AS (SELECT count(*)::BIGINT AS n_docs FROM {table})
SELECT id AS {id_col}, token, tf, df,
       round(tf * ((n_docs - df + 0.5) / (df + 0.5)), 6) AS tfidf,
       row_number() OVER (
         PARTITION BY id
         ORDER BY round(tf * ((n_docs - df + 0.5) / (df + 0.5)), 6) DESC,
                  token ASC
       )::INTEGER AS rank
FROM per_doc JOIN dfreq USING (token), n
QUALIFY rank <= {k}
""".strip()


def bm25_topk(df: DataFrame, queries: DataFrame, *,
              id_col: str = "doc_id", text_col: str = "text",
              query_id_col: str = "query_id", query_col: str = "query",
              k: int = 10, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Lexical retrieval: top-`k` documents per query by BM25, the
    lookup a training-data pipeline uses for decontamination and
    nearest-neighbour audits.  Returns (query_id, doc_id, score, rank), rank 1..k under
    (score DESC, doc_id ASC) — a total order.

    Scoring: Okapi BM25 with the log-free Robertson–Spärck-Jones idf
    ``(N − df + 0.5)/(df + 0.5)`` — the same idf convention as
    :func:`tfidf_top_terms` and for the same reason: one division and
    one multiply give the bit-identical double on both engines, where
    a ``log`` would tie correctness to libm rounding.  Per-term
    contributions are rounded to 6 dp and summed as DECIMAL(38,6)
    (exact integer arithmetic, ORDER-INDEPENDENT — an IEEE double sum
    would make the score depend on Spark's vs DuckDB's reduction
    order).  Query
    terms are DISTINCT (the qtf component is omitted, the common BM25
    simplification; duplicate query words don't double-count).

    Physical shape (scale-safe): ONE explode + map-side-combined
    aggregate over the corpus builds (doc, token, tf) and per-doc
    lengths; document frequencies come from that aggregate, never a
    re-read; the V-row df table and the 1-row (N, avgdl) aggregate
    broadcast back; the query-term set (tiny) broadcasts onto the
    postings, so the only data-sized shuffle is the (query, doc)
    partial-sum aggregate, bounded by postings of the query terms —
    the corpus is never joined against itself and never shuffled on a
    data-dependent key.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(_clean_tokens(F.col(text_col))).alias("token"))
    per_doc = toks.groupBy("__id", "token").agg(
        F.count(F.lit(1)).alias("tf"))
    # doc lengths and document frequencies both DERIVE from per_doc —
    # its exchange is then shared by all three consumers (Spark's
    # ReuseExchange), so the corpus is tokenized exactly once; an
    # explode-side dlen aggregate would be a second full tokenize pass
    # (review r9, pass 2)
    dlen = per_doc.groupBy("__id").agg(
        F.sum("tf").cast("long").alias("__dl"))
    dfreq = per_doc.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = df.select(F.count(F.lit(1)).alias("__n")).crossJoin(
        dlen.agg(F.avg("__dl").alias("__avgdl")))
    q_terms = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.explode(_clean_tokens(F.col(query_col))).alias("token"),
    ).distinct()
    contrib = (
        per_doc.join(F.broadcast(q_terms), "token")
        .join(F.broadcast(dfreq), "token")
        .join(dlen, "__id")
        .crossJoin(F.broadcast(stats))
        .select(
            "__qid", "__id",
            F.round(
                ((F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b
                                       + b * F.col("__dl")
                                       / F.col("__avgdl"))), 6)
            .cast("decimal(38,6)").alias("__c"),
        )
    )
    scored = contrib.groupBy("__qid", "__id").agg(
        F.round(F.sum("__c").cast("double"), 6).alias("score"))
    w = Window.partitionBy("__qid").orderBy(
        F.desc("score"), F.asc("__id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("__qid").alias(query_id_col),
                    F.col("__id").alias(id_col), "score", "rank"))


def bm25_topk_sql(table: str, queries_sql: str, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  query_id_col: str = "query_id", query_col: str = "query",
                  k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin of :func:`bm25_topk` — identical operation order per
    contribution (round 6 dp → DECIMAL(38,6) → exact sum → 6 dp)."""
    w = _CLEAN_TOKENS_SQL.format(c=text_col)
    wq = _CLEAN_TOKENS_SQL.format(c=query_col)
    idf = "((n_docs - df + 0.5) / (df + 0.5))"
    tf_part = (f"(tf * ({float(k1)!r} + 1.0)) / (tf + {float(k1)!r} * "
               f"(1.0 - {float(b)!r} + {float(b)!r} * __dl / __avgdl))")
    return f"""
WITH toks AS (
  SELECT {id_col} AS id, unnest({w}) AS token FROM {table}
),
per_doc AS (
  SELECT id, token, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
),
dlen AS (SELECT id, sum(tf)::BIGINT AS __dl FROM per_doc GROUP BY 1),
dfreq AS (SELECT token, count(*)::BIGINT AS df FROM per_doc GROUP BY 1),
stats AS (
  SELECT (SELECT count(*)::BIGINT FROM {table}) AS n_docs,
         (SELECT avg(__dl) FROM dlen) AS __avgdl
),
qt AS (
  SELECT DISTINCT {query_id_col} AS qid, unnest({wq}) AS token
  FROM ({queries_sql})
),
contrib AS (
  SELECT qt.qid, p.id,
         round({idf} * {tf_part}, 6)::DECIMAL(38,6) AS c
  FROM per_doc p
  JOIN qt USING (token)
  JOIN dfreq USING (token)
  JOIN dlen ON dlen.id = p.id
  CROSS JOIN stats
),
scored AS (
  SELECT qid, id, round(sum(c)::DOUBLE, 6) AS score
  FROM contrib GROUP BY 1, 2
)
SELECT qid AS {query_id_col}, id AS {id_col}, score,
       row_number() OVER (
         PARTITION BY qid ORDER BY score DESC, id ASC
       )::INTEGER AS rank
FROM scored
QUALIFY rank <= {k}
""".strip()


def quality_floor(df: DataFrame, score_col: str, *,
                  group_col: str | None = None,
                  q: float = 0.1) -> DataFrame:
    """Relative quality gate: keep rows whose score is at or above the
    per-group q-quantile — "drop the worst decile per language", the
    distribution-relative form of the absolute-threshold gate the
    capstones use (an absolute cutoff misfires when score
    distributions differ by language/source; FineWeb-style pipelines
    gate on percentiles for exactly this reason).

    The cutoff is the exact interpolated percentile rounded to 6 dp on
    both engines (the repo's proven cross-engine float convention, cf.
    `profile_events`); NULL scores drop.  Scale shape: the cutoff
    aggregate is one row per group, broadcast back — the corpus is
    scanned twice but never sorted or shuffled on score.  At 100 TB,
    substitute :func:`~..operators.sketches.histogram_quantiles` for
    the exact percentile to make pass 1 sketch-bounded; the gate then
    moves by at most one bin width.
    """
    if not 0.0 < float(q) < 1.0:
        raise ValueError("q must be in (0, 1)")
    # NaN must drop BEFORE the percentile: Spark's percentile sorts
    # NaN as the largest value while DuckDB's quantile_cont ignores
    # it, so an unfiltered NaN shifts the two engines' cutoffs apart
    sc = F.col(score_col).cast("double")
    ok = df.where(F.col(score_col).isNotNull() & ~F.isnan(sc))
    cut = F.round(F.expr(f"percentile({score_col}, {float(q)!r})"), 6) \
        .alias("__cut")
    if group_col:
        cuts = ok.groupBy(group_col).agg(cut)
        joined = ok.join(F.broadcast(cuts), on=group_col)
    else:
        joined = ok.crossJoin(F.broadcast(ok.agg(cut)))
    return joined.filter(F.col(score_col) >= F.col("__cut")) \
        .drop("__cut")


def quality_floor_sql(table_sql: str, score_col: str, *,
                      group_col: str | None = None,
                      q: float = 0.1) -> str:
    """DuckDB twin of :func:`quality_floor` (quantile_cont ≡ Spark's
    exact `percentile`, both rounded to 6 dp before the comparison)."""
    if not 0.0 < float(q) < 1.0:
        raise ValueError("q must be in (0, 1)")
    ok = (f"(SELECT * FROM ({table_sql}) WHERE {score_col} IS NOT NULL "
          f"AND NOT isnan(CAST({score_col} AS DOUBLE)))")
    cut = f"round(quantile_cont({score_col}, {float(q)!r}), 6)"
    if group_col:
        return (
            f"SELECT t.* FROM {ok} t JOIN "
            f"(SELECT {group_col}, {cut} AS __cut FROM {ok} "
            f"GROUP BY {group_col}) c USING ({group_col}) "
            f"WHERE t.{score_col} >= c.__cut")
    return (
        f"SELECT t.* FROM {ok} t CROSS JOIN "
        f"(SELECT {cut} AS __cut FROM {ok}) c "
        f"WHERE t.{score_col} >= c.__cut")


def shard_manifest(df: DataFrame, budget: int, *,
                   id_col: str = "doc_id",
                   count_col: str = "n_tokens",
                   n_parts: int | None = None) -> DataFrame:
    """Token-budget shard assignment manifest — the "write the corpus
    as ~budget-token training shards" planning pass.  Documents are
    laid end-to-end in `id_col` order and a document belongs wholly to
    the shard its FIRST token lands in (real shard writers keep
    documents intact, so shard sizes wobble around the budget by at
    most one document).

    Returns one row per shard: `shard_id`, `n_docs`, `n_tokens`,
    `min_{id}` / `max_{id}` (each shard is a contiguous id range, so
    the manifest row is exactly the predicate a writer needs to
    extract its shard with partition pruning).

    Scale shape: the global running sum reuses
    :func:`pack_sequences`'s two-level prefix sum over deterministic
    fixed-width id buckets — every stage parallel, no global-sort
    window, no driver state; the manifest itself is |shards| rows.
    """
    packed = pack_sequences(df, seq_len=budget, order_cols=(id_col,),
                            count_col=count_col, n_parts=n_parts)
    return (packed
            .groupBy(F.col("seq_id").alias("shard_id"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(count_col).cast("long").alias("n_tokens"),
                 F.min(id_col).alias(f"min_{id_col}"),
                 F.max(id_col).alias(f"max_{id_col}")))


def shard_manifest_sql(docs_sql: str, budget: int, *,
                       id_col: str = "doc_id",
                       count_col: str = "n_tokens") -> str:
    """DuckDB twin of :func:`shard_manifest` (plain global window)."""
    packed = pack_sequences_sql(docs_sql, seq_len=budget,
                                order_cols=(id_col,),
                                count_col=count_col)
    return f"""
SELECT seq_id AS shard_id, count(*) AS n_docs,
       sum({count_col})::BIGINT AS n_tokens,
       min({id_col}) AS min_{id_col}, max({id_col}) AS max_{id_col}
FROM ({packed})
GROUP BY seq_id
""".strip()

def unit_spans(text: Column, unit_tokens: int) -> Column:
    """Array of consecutive non-overlapping `unit_tokens`-token spans —
    the unit grid of :func:`dedup_paragraphs`.  Empty/blank text yields
    an empty array."""
    u = int(unit_tokens)
    toks = _clean_tokens(text)
    n_units = F.ceil(F.size(toks) / F.lit(float(u))).cast("int")
    return F.when(F.size(toks) == 0,
                  F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_units - 1),
            lambda i: F.array_join(F.slice(toks, i * u + 1, u), " "),
        ))


def dedup_paragraphs(df: DataFrame, *, id_col: str = "doc_id",
                     text_col: str = "text",
                     unit_tokens: int = 8) -> DataFrame:
    """Corpus-wide unit-level exact dedup (the C4 "three-sentence span"
    / RefinedWeb paragraph pass): the text is cut into consecutive
    non-overlapping `unit_tokens`-token units, and for every distinct
    unit string only its FIRST occurrence corpus-wide — ordered by
    (id, position) — survives; each document is reassembled from its
    surviving units in order.  Unlike :func:`remove_boilerplate_lines`
    (which deletes ALL occurrences of units crossing a doc-frequency
    threshold), this keeps exactly one copy of every repeated span, the
    semantics training pipelines want for intra-corpus repetition.

    Returns (id, clean_text, n_units, n_dupes); documents whose every
    unit occurred earlier elsewhere keep an empty ``clean_text``.

    Scale shape (100 TB): units explode once (rows ≈ tokens/unit_tokens
    per doc); the first-occurrence winner per unit is a single
    map-side-combined ``groupBy(unit).agg(min(struct(id, pos)))`` —
    no window over a skewed unit partition, so a pathological unit
    repeated a billion times costs one partial-agg cell per task, not a
    single-task sort.  The winner set joins back on the unit hash
    (AQE handles skew), reassembly is one groupBy(id), and the final
    left join restores empty/all-duplicate docs carrying only
    (id, clean_text) rows.
    """
    units = df.select(F.col(id_col),
                      F.posexplode(unit_spans(F.col(text_col),
                                              unit_tokens))
                      .alias("pos", "unit"))
    first = (units.groupBy("unit")
             .agg(F.min(F.struct(id_col, "pos")).alias("__first")))
    marked = units.join(first, "unit").select(
        id_col, "pos", "unit",
        ((F.col("__first")[id_col] == F.col(id_col))
         & (F.col("__first")["pos"] == F.col("pos"))).alias("__keep"),
    )
    return reassemble_spans(marked, df.select(id_col), id_col=id_col)


def reassemble_spans(marked: DataFrame, ids: DataFrame, *,
                     id_col: str = "doc_id") -> DataFrame:
    """Tail of :func:`dedup_paragraphs`: rebuild (id, clean_text,
    n_units, n_dupes) from marked span rows (`id_col`, pos, unit,
    __keep) in original order, restoring span-less ids from `ids`
    (single-column frame of every input id) with ('', 0, 0)."""
    arr = F.array_sort(F.collect_list(F.struct("pos", "unit", "__keep")))
    agg = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.filter(arr, lambda x: x["__keep"]),
                        lambda x: x["unit"]), " ").alias("clean_text"),
        F.count(F.lit(1)).alias("n_units"),
        F.sum((~F.col("__keep")).cast("long")).alias("n_dupes"),
    )
    return ids.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_units", F.lit(0)).cast("long").alias("n_units"),
        F.coalesce("n_dupes", F.lit(0)).cast("long").alias("n_dupes"),
    )


def dedup_paragraphs_sql(table: str, *, id_col: str = "doc_id",
                         text_col: str = "text",
                         unit_tokens: int = 8) -> str:
    """DuckDB twin of :func:`dedup_paragraphs` (window row_number
    emulates the min-struct first-occurrence winner — identical
    (id, pos) order)."""
    u = int(unit_tokens)
    toks = _CLEAN_TOKENS_SQL.format(c=text_col)
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {toks} AS toks FROM {table}
),
units AS (
  SELECT id, i AS pos,
         array_to_string(toks[(i*{u}+1):((i+1)*{u})], ' ') AS unit
  FROM (SELECT id, toks,
               unnest(generate_series(
                 0, cast(ceil(len(toks) / {u}.0) AS bigint) - 1)) AS i
        FROM base)
),
marked AS (
  SELECT id, pos, unit,
         row_number() OVER (PARTITION BY unit ORDER BY id, pos) = 1
           AS keep
  FROM units
),
agg AS (
  SELECT id,
         coalesce(string_agg(unit, ' ' ORDER BY pos)
                  FILTER (WHERE keep), '') AS clean_text,
         count(*)::BIGINT AS n_units,
         sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dupes
  FROM marked GROUP BY id
)
SELECT d.{id_col}, coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.n_units, 0)::BIGINT AS n_units,
       coalesce(a.n_dupes, 0)::BIGINT AS n_dupes
FROM {table} d LEFT JOIN agg a ON a.id = d.{id_col}
""".strip()


# Rule names in evaluation order (fixed so the `failed` string is
# deterministic and engine-identical).
_C4_RULES = ("short", "long", "tok_len", "repeat", "stopword")


def c4_rules(df: DataFrame, *, id_col: str = "doc_id",
             text_col: str = "text", min_tokens: int = 24,
             max_tokens: int = 112,
             tok_len_band: "tuple[float, float]" = (4.25, 4.8),
             max_repeat: float = 0.14, min_stopword: float = 0.02,
             lang: str = "en") -> DataFrame:
    """Rule-based quality filter in the C4 / Gopher-rules shape: every
    document is scored against five cheap lexical rules and returned
    with the list of rules it failed —

    * ``short``    — fewer than `min_tokens` tokens,
    * ``long``     — more than `max_tokens` tokens,
    * ``tok_len``  — mean token length outside `tok_len_band`,
    * ``repeat``   — most frequent token exceeds `max_repeat` of all
      tokens (the Gopher repetition gate),
    * ``stopword`` — stopword density below `min_stopword` (Gopher's
      "no function words ⇒ not natural language" symbol test).

    Returns one row per input document: (id, n_tokens, mean_tok_len,
    top_tok_ratio, stop_ratio, failed, kept) where ``failed`` is the
    comma-joined failing rule names in fixed order ('' when clean) and
    ``kept`` is the boolean a downstream filter consumes.  Keeping the
    rejected rows (instead of filtering them out) is deliberate: at
    crawl scale the rejection-reason histogram IS the observability a
    pipeline owner tunes thresholds with.

    Scale shape: one explode over tokens, then two hash aggregates —
    ``groupBy(id, tok)`` (map-side combined) and ``groupBy(id)`` that
    folds counts, length-weighted sums, the stopword mass and the max
    token count in a single pass, so the per-doc mode needs no join and
    no window; the final left join restores empty documents.
    """
    from .text import STOPWORDS

    lo, hi = float(tok_len_band[0]), float(tok_len_band[1])
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    toks = df.select(F.col(id_col),
                     F.explode(_clean_tokens(F.col(text_col))).alias("tok"))
    per_tok = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    stats = per_tok.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.length("tok") * F.col("c")).cast("long").alias("__sum_len"),
        F.sum(F.when(F.array_contains(sw, F.lower(F.col("tok"))),
                     F.col("c")).otherwise(F.lit(0)))
        .cast("long").alias("__stop"),
        F.max("c").cast("long").alias("__top"),
    )
    joined = df.select(id_col).join(stats, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("__sum_len", F.lit(0)).alias("__sum_len"),
        F.coalesce("__stop", F.lit(0)).alias("__stop"),
        F.coalesce("__top", F.lit(0)).alias("__top"),
    )
    n = F.col("n_tokens")
    mean_len = F.when(n == 0, F.lit(0.0)) \
        .otherwise(F.col("__sum_len").cast("double") / n)
    top_ratio = F.when(n == 0, F.lit(0.0)) \
        .otherwise(F.col("__top").cast("double") / n)
    stop_ratio = F.when(n == 0, F.lit(0.0)) \
        .otherwise(F.col("__stop").cast("double") / n)
    fails = {
        "short": n < min_tokens,
        "long": n > max_tokens,
        "tok_len": (mean_len < lo) | (mean_len > hi),
        "repeat": top_ratio > max_repeat,
        "stopword": stop_ratio < min_stopword,
    }
    failed = F.concat_ws(
        ",", *[F.when(fails[r], F.lit(r)) for r in _C4_RULES])
    return joined.select(
        id_col,
        "n_tokens",
        F.round(mean_len, 6).alias("mean_tok_len"),
        F.round(top_ratio, 6).alias("top_tok_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        failed.alias("failed"),
        (failed == "").alias("kept"),
    )


def c4_rules_sql(table: str, *, id_col: str = "doc_id",
                 text_col: str = "text", min_tokens: int = 24,
                 max_tokens: int = 112,
                 tok_len_band: "tuple[float, float]" = (4.25, 4.8),
                 max_repeat: float = 0.14, min_stopword: float = 0.02,
                 lang: str = "en") -> str:
    """DuckDB twin of :func:`c4_rules` (same two-aggregate shape; the
    rule predicates are the same IEEE double comparisons)."""
    from .text import STOPWORDS

    lo, hi = float(tok_len_band[0]), float(tok_len_band[1])
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    toks = _CLEAN_TOKENS_SQL.format(c=text_col)
    fails = {
        "short": f"n < {int(min_tokens)}",
        "long": f"n > {int(max_tokens)}",
        "tok_len": f"(mean_len < {lo!r} OR mean_len > {hi!r})",
        "repeat": f"top_ratio > {float(max_repeat)!r}",
        "stopword": f"stop_ratio < {float(min_stopword)!r}",
    }
    failed = ("concat_ws(',', "
              + ", ".join(f"CASE WHEN {fails[r]} THEN '{r}' END"
                          for r in _C4_RULES) + ")")
    return f"""
WITH per_tok AS (
  SELECT id, tok, count(*) AS c
  FROM (SELECT {id_col} AS id, unnest({toks}) AS tok FROM {table})
  GROUP BY id, tok
),
stats AS (
  SELECT id, sum(c)::BIGINT AS n_tokens,
         sum(length(tok) * c)::BIGINT AS sum_len,
         sum(CASE WHEN list_contains([{lst}], lower(tok)) THEN c
                  ELSE 0 END)::BIGINT AS stop_cnt,
         max(c)::BIGINT AS top_cnt
  FROM per_tok GROUP BY id
),
joined AS (
  SELECT d.{id_col} AS id,
         coalesce(s.n_tokens, 0)::BIGINT AS n,
         coalesce(s.sum_len, 0)::BIGINT AS sum_len,
         coalesce(s.stop_cnt, 0)::BIGINT AS stop_cnt,
         coalesce(s.top_cnt, 0)::BIGINT AS top_cnt
  FROM {table} d LEFT JOIN stats s ON s.id = d.{id_col}
),
ratios AS (
  SELECT id, n,
         CASE WHEN n = 0 THEN 0.0 ELSE sum_len * 1.0 / n END AS mean_len,
         CASE WHEN n = 0 THEN 0.0 ELSE top_cnt * 1.0 / n END AS top_ratio,
         CASE WHEN n = 0 THEN 0.0 ELSE stop_cnt * 1.0 / n END AS stop_ratio
  FROM joined
)
SELECT id AS {id_col}, n AS n_tokens,
       round(mean_len, 6) AS mean_tok_len,
       round(top_ratio, 6) AS top_tok_ratio,
       round(stop_ratio, 6) AS stop_ratio,
       {failed} AS failed,
       ({failed} = '') AS kept
FROM ratios
""".strip()
