"""AI transform family — the reference's post-extraction NLP chain
elements (src/chat.cpp, summarize.cpp, detect_sentiment.cpp,
classify.cpp, extract_keywords.cpp, embed.cpp, local_ai_task.cpp),
re-expressed for a corpus engine.

Two layers, mirroring the reference's split between transport and
task:

1. **Model-backend transforms** (``chat_transform`` /
   ``embed_transform``): the generic "run every document through a
   model endpoint" operators.  map_batches feeds documents to a
   pluggable backend (kernel/ai_backend.py) — ONE keep-alive
   connection per partition, Arrow-batched transfer, no per-row
   Python dispatch overhead; inference concurrency equals partition
   parallelism, which is the correct 100-TB topology for a
   rate-limited external endpoint (scale the partition count to the
   endpoint's concurrency budget, not the corpus size).  These carry
   the reference's exact wire semantics and are exercised end-to-end
   in tests against a local mock server (the reference tests its
   http elements the same way).

2. **Deterministic task analogs**, registered as oracle queries: the
   classical model-free baseline for each task the reference
   delegates to an LLM — lexicon polarity scoring for
   ``detect_sentiment``, keyword-lexicon argmax for ``classify``
   (answering "with the category name only, exactly as it was
   written", classify.cpp:29), tf/rarity-ranked per-document keyword
   extraction for ``extract_keywords``, centroid extractive segment
   selection for ``summarize`` (Radev et al. 2004's centroid method,
   integer-exact), and a feature-hashing text embedder for ``embed``
   (the Vowpal-Wabbit hashing trick).  All arithmetic is
   BIGINT-exact so every query is bit-identical across engines,
   partitionings, and row orders — the property that lets DuckDB
   replay each one as the oracle.

Scale notes: sentiment and classify are pure map-side codegen (zero
shuffle — inference throughput equals scan throughput, exactly like
ops/classify.py).  Keywords/summarize explode per document (output
bounded by document length), aggregate with map-side partials, join
document-frequency statistics on a vocabulary-keyed equi-join, and
window only within one document's rows.  The embedder is one explode
and two hash-aggregations whose state is bounded by documents x 64
buckets.  No corpus-wide windows, no cartesian products (gated in
tests/test_plan_audit.py), no Python in any deterministic path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, StringType, StructField, StructType,
)

from docwire_spark.spark.session import map_batches

from .bloom import hash_expr
from .common import (
    STOP_EN, TOKENS_EXPR, TOKENS_SQL, let_expr, load, with_tokens,
)

# --------------------------------------------------------------------------
# model-backend transforms (the chat.cpp / embed.cpp chain elements)
# --------------------------------------------------------------------------


def _backend_transform(df: DataFrame, backend_factory, text_col: str,
                       out_col: str, out_type, method: str,
                       who: str) -> DataFrame:
    """``df`` plus ``out_col``: each batch's ``text_col`` values through
    ``backend.<method>``, with the backend built once per partition on
    the executor and closed when the partition ends."""
    if text_col not in df.columns:
        raise KeyError(f"{who}: no column {text_col!r} in {df.columns}")
    if out_col in df.columns:
        raise ValueError(f"{who}: output column {out_col!r} already exists")
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, out_type)]
    )

    def _backend_batches(batches):
        backend = backend_factory()
        try:
            for batch in batches:
                cols = dict(zip(batch.schema.names, batch.columns))
                cols[out_col] = getattr(backend, method)(
                    batch.column(text_col).to_pylist()
                )
                yield cols
        finally:
            close = getattr(backend, "close", None)
            if close is not None:
                close()

    return map_batches(df, _backend_batches, schema)


def chat_transform(
    df: DataFrame,
    backend_factory,
    text_col: str = "text",
    out_col: str = "completion",
) -> DataFrame:
    """Run every row's ``text_col`` through a chat backend — the
    ``openai::chat`` chain element (chat.cpp:160-190) and every
    fixed-prompt element derived from it (summarize, translate_to,
    classify, ...; pass the matching kernel/ai_backend.py prompt to
    the backend).  ``backend_factory`` is a picklable zero-arg
    callable constructed PER PARTITION on the executor, so the
    backend's connection never crosses the driver/executor boundary.
    NULL payloads pass through as NULL completions (the chain
    element's non-data_source pass-through, chat.cpp:162-163)."""
    return _backend_transform(df, backend_factory, text_col, out_col,
                              StringType(), "complete", "chat_transform")


def embed_transform(
    df: DataFrame,
    backend_factory,
    text_col: str = "text",
    out_col: str = "embedding",
) -> DataFrame:
    """``openai::embed`` (embed.cpp:118-130) as a batched column
    transform: text in, ``array<double>`` embedding out."""
    return _backend_transform(df, backend_factory, text_col, out_col,
                              ArrayType(DoubleType()), "embed",
                              "embed_transform")


# --------------------------------------------------------------------------
# deterministic task analogs
# --------------------------------------------------------------------------

#: polarity lexicons (AFINN-style; entries drawn from the corpus
#: vocabulary so the synthetic testdata exercises every branch)
POS_WORDS = ("fast", "big", "fresh", "good", "great", "best")
NEG_WORDS = ("slow", "small", "dup", "bad", "poor", "worst")

#: classify categories IN DECLARED ORDER with their keyword lexicons;
#: the argmax tie-break is "first declared" — the deterministic
#: stand-in for the model's choice.  The prompt-side contract is
#: classify.cpp:28-30 (answer = the category name exactly as written).
CATEGORIES = (
    ("storage", ("table", "row", "column", "part", "key")),
    ("execution", ("scan", "filter", "join", "agg", "sort")),
    ("streaming", ("stream", "window", "batch", "line")),
    ("analytics", ("query", "group", "order", "vector", "hash")),
)

N_KEYWORDS = 5     # extract_keywords.cpp's max_keywords parameter
SEG_W = 8          # summarize: segment width in tokens
N_SUMMARY_SEGS = 2  # summarize: segments selected per document
EMB_DIM = 64       # embed: feature-hash buckets


def _in_list(words) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


def _hits(words: str, size_fn: str, filter_fn: str) -> str:
    """count of tokens in ``words`` — same text in both engines up to
    the size/filter function names."""
    return (
        f"CAST({size_fn}({filter_fn}(tokens, t -> t IN {words}))"
        " AS BIGINT)"
    )


def ai_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``openai::detect_sentiment`` analog (detect_sentiment.cpp:23):
    lexicon polarity — integer hit counts against positive/negative
    word lists, label by sign.  Zero-shuffle map-side codegen; at
    10^12 documents sentiment throughput IS scan throughput."""
    docs = load(spark, sf_dir, "documents")
    pos = _hits(_in_list(POS_WORDS), "size", "filter")
    neg = _hits(_in_list(NEG_WORDS), "size", "filter")
    return docs.selectExpr(
        "doc_id", f"{TOKENS_EXPR} AS tokens"
    ).selectExpr(
        "doc_id", f"{pos} AS pos_hits", f"{neg} AS neg_hits"
    ).selectExpr(
        "doc_id", "pos_hits", "neg_hits",
        "pos_hits - neg_hits AS score_int",
        "CASE WHEN pos_hits > neg_hits THEN 'positive'"
        " WHEN neg_hits > pos_hits THEN 'negative'"
        " ELSE 'neutral' END AS sentiment",
    )


def _sentiment_sql() -> str:
    pos = _hits(_in_list(POS_WORDS), "len", "list_filter")
    neg = _hits(_in_list(NEG_WORDS), "len", "list_filter")
    return f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
s AS (SELECT doc_id, {pos} AS pos_hits, {neg} AS neg_hits FROM t)
SELECT doc_id, pos_hits, neg_hits,
       pos_hits - neg_hits AS score_int,
       CASE WHEN pos_hits > neg_hits THEN 'positive'
            WHEN neg_hits > pos_hits THEN 'negative'
            ELSE 'neutral' END AS sentiment
FROM s
"""


AI_SENTIMENT_SQL = _sentiment_sql()


def _category_case() -> str:
    """argmax over the declared category order: the CASE arms test
    each category against all LATER ones (>= keeps the earlier
    declaration on ties) — identical text in both engines."""
    names = [n for n, _ in CATEGORIES]
    arms = []
    for i, name in enumerate(names[:-1]):
        conds = " AND ".join(
            f"s{i} >= s{j}" for j in range(i + 1, len(names))
        )
        arms.append(f"WHEN {conds} THEN '{name}'")
    return "CASE " + " ".join(arms) + f" ELSE '{names[-1]}' END"


def ai_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``openai::classify`` analog (classify.cpp:28-34): score each
    declared category by keyword-lexicon hits and answer with the
    winning category name exactly as written.  Map-side codegen,
    zero shuffle."""
    docs = load(spark, sf_dir, "documents")
    scores = [
        f"{_hits(_in_list(kws), 'size', 'filter')} AS s{i}"
        for i, (_, kws) in enumerate(CATEGORIES)
    ]
    greatest = ", ".join(f"s{i}" for i in range(len(CATEGORIES)))
    return docs.selectExpr(
        "doc_id", f"{TOKENS_EXPR} AS tokens"
    ).selectExpr("doc_id", *scores).selectExpr(
        "doc_id",
        f"{_category_case()} AS category",
        f"greatest({greatest}) AS score",
    )


def _classify_sql() -> str:
    scores = ",\n       ".join(
        f"{_hits(_in_list(kws), 'len', 'list_filter')} AS s{i}"
        for i, (_, kws) in enumerate(CATEGORIES)
    )
    greatest = ", ".join(f"s{i}" for i in range(len(CATEGORIES)))
    return f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
s AS (SELECT doc_id,
       {scores}
FROM t)
SELECT doc_id,
       {_category_case()} AS category,
       greatest({greatest}) AS score
FROM s
"""


AI_CLASSIFY_SQL = _classify_sql()


def ai_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``openai::extract_keywords`` analog (extract_keywords.cpp):
    the N "most important" terms per document — stopwords removed,
    ranked by (term frequency DESC, corpus document frequency ASC,
    term ASC): frequent-in-this-document, rare-in-the-corpus.  The
    integer (tf, df, term) rank is the exact-arithmetic form of
    tf-idf ordering (log(N/df) is monotone decreasing in df), chosen
    so both engines rank bit-identically — float idf differs in ULPs
    across engines and can flip ranks.  The answer is the formatted
    keyword list, mirroring the reference's single text reply.

    Scale: explode bounded by document length; tf/df are hash-aggs
    with map-side partials; the df join is a vocabulary-keyed
    equi-join (AQE broadcasts it when the vocabulary is small); the
    row_number window partitions by doc_id — state bounded by one
    document's distinct terms, never the corpus."""
    from pyspark.sql import Window

    docs = with_tokens(load(spark, sf_dir, "documents", parallelize=True))
    tok = docs.select(
        "doc_id", F.explode("tokens").alias("token")
    ).where(f"token NOT IN ({STOP_EN})")
    tf = tok.groupBy("doc_id", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    top = (
        tf.join(dfreq, "token")
        .select("doc_id", "token", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= N_KEYWORDS)
    )
    agg = top.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_keywords"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(rn,"
            " token))), x -> x.token), ', ')"
        ).alias("keywords"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_keywords", F.lit(0)).cast("bigint")
            .alias("n_keywords"),
            F.coalesce("keywords", F.lit("")).alias("keywords"),
        )
    )


AI_KEYWORDS_SQL = f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
tok AS (
  SELECT doc_id, unnest(tokens) AS token FROM t
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE token NOT IN ({STOP_EN})
  GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
),
rk AS (
  SELECT doc_id, token,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf DESC, df ASC, token ASC) AS rn
  FROM tf JOIN dfreq USING (token)
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_keywords,
         string_agg(token, ', ' ORDER BY rn) AS keywords
  FROM rk WHERE rn <= {N_KEYWORDS} GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(n_keywords, 0) AS n_keywords,
       coalesce(keywords, '') AS keywords
FROM t LEFT JOIN agg USING (doc_id)
"""


#: non-overlapping SEG_W-token segments as token arrays (the chunk
#: slicing pattern of ops/dedup.py, let_expr-bound against the
#: Catalyst alias-inlining hazard)
_SEGMENTS_EXPR = let_expr(
    "tokens", "ts",
    f"CASE WHEN size(ts) >= {SEG_W} THEN"
    f" transform(sequence(0, cast(floor(size(ts) / {SEG_W}) as int) - 1),"
    f" i -> slice(ts, i * {SEG_W} + 1, {SEG_W}))"
    " ELSE array() END",
)


def ai_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``openai::summarize`` analog (summarize.cpp:23): centroid
    extractive summarization (Radev et al. 2004) — select the
    N_SUMMARY_SEGS most representative SEG_W-token segments per
    document, where a segment's score is the sum of corpus document
    frequencies of its distinct non-stopword tokens, and emit them
    joined in original document order.  Fixed-width segments rather
    than sentence splits: the segmenter must be engine-identical,
    and regex sentence splitting diverges between Java regex and
    RE2 on real text (lookbehind, \\s classes); on natural-language
    corpora swap _SEGMENTS_EXPR for a punctuation splitter.

    All-integer scoring — bit-identical across engines and row
    orders.  Scale: segments explode bounded by document length, the
    df join is vocabulary-keyed, the selection window partitions by
    doc_id; segment count rides map-side (floor(n_tokens/W)), so no
    second corpus pass."""
    from pyspark.sql import Window

    docs = with_tokens(load(spark, sf_dir, "documents", parallelize=True))
    seg = docs.select(
        "doc_id", F.posexplode(F.expr(_SEGMENTS_EXPR)).alias("i", "seg")
    )
    seg_tok = seg.select(
        "doc_id", "i", F.explode(F.array_distinct("seg")).alias("token")
    ).where(f"token NOT IN ({STOP_EN})")
    dfreq = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct("tokens")).alias("token"),
        )
        .where(f"token NOT IN ({STOP_EN})")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
    scores = seg_tok.join(dfreq, "token").groupBy("doc_id", "i").agg(
        F.sum("df").cast("bigint").alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("i").asc()
    )
    ranked = (
        seg.select(
            "doc_id", "i", F.expr("array_join(seg, ' ')").alias("seg_text")
        )
        .join(scores, ["doc_id", "i"], "left")
        .select(
            "doc_id", "i", "seg_text",
            F.coalesce("score", F.lit(0)).cast("bigint").alias("score"),
        )
        .select(
            "doc_id", "i", "seg_text", "score",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= N_SUMMARY_SEGS)
    )
    agg = ranked.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(i,"
            " seg_text))), x -> x.seg_text), ' ')"
        ).alias("summary"),
        F.sum("score").cast("bigint").alias("summary_score"),
    )
    return (
        docs.selectExpr(
            "doc_id",
            f"CAST(floor(size(tokens) / {SEG_W}) AS BIGINT)"
            " AS n_segments",
        )
        .join(agg, "doc_id", "left")
        .select(
            "doc_id", "n_segments",
            F.coalesce("summary", F.lit("")).alias("summary"),
            F.coalesce("summary_score", F.lit(0)).cast("bigint")
            .alias("summary_score"),
        )
    )


AI_SUMMARIZE_SQL = f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
seg AS (
  SELECT doc_id, i,
         tokens[(i * {SEG_W} + 1):(i * {SEG_W} + {SEG_W})] AS seg
  FROM t, unnest(range(CAST(floor(len(tokens) / {SEG_W}) AS BIGINT)))
       AS u(i)
),
st AS (
  SELECT doc_id, i, unnest(list_distinct(seg)) AS token FROM seg
),
dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT doc_id, unnest(list_distinct(tokens)) AS token FROM t) dt
  WHERE token NOT IN ({STOP_EN})
  GROUP BY token
),
sc AS (
  SELECT doc_id, i, CAST(sum(df) AS BIGINT) AS score
  FROM st JOIN dfreq USING (token)
  WHERE token NOT IN ({STOP_EN})
  GROUP BY doc_id, i
),
rk AS (
  SELECT seg.doc_id, seg.i,
         list_reduce(seg.seg, (a, b) -> a || ' ' || b) AS seg_text,
         CAST(coalesce(score, 0) AS BIGINT) AS score,
         row_number() OVER (PARTITION BY seg.doc_id
                            ORDER BY coalesce(score, 0) DESC, seg.i ASC)
           AS rn
  FROM seg LEFT JOIN sc ON sc.doc_id = seg.doc_id AND sc.i = seg.i
),
agg AS (
  SELECT doc_id,
         string_agg(seg_text, ' ' ORDER BY i) AS summary,
         CAST(sum(score) AS BIGINT) AS summary_score
  FROM rk WHERE rn <= {N_SUMMARY_SEGS} GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(floor(len(tokens) / {SEG_W}) AS BIGINT) AS n_segments,
       coalesce(summary, '') AS summary,
       coalesce(summary_score, 0) AS summary_score
FROM t LEFT JOIN agg USING (doc_id)
"""


def embed_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text embedder — the model-free analog of
    ``openai::embed`` (embed.cpp:118-130) and the classical baseline
    it stands in for (the Vowpal-Wabbit / scikit-learn hashing
    trick): every token hashes into one of EMB_DIM buckets and the
    document's embedding is the bucket-count vector.  Counts stay
    BIGINT (no float normalization) so vectors are bit-identical
    across engines; downstream cosine ops normalize at use.

    Returns the full column set including ``emb`` as
    ``array<bigint>``; the registered query projects the canonical
    CSV form (see ai_embed_hash).  Scale: one explode + a
    (doc, bucket) hash-agg + a per-doc hash-agg — state bounded by
    documents x EMB_DIM, no window, no join: explode_outer keeps a
    NULL-token row for empty documents (bucket -1, excluded from the
    counts), so zero-filling needs no join back to the corpus —
    without it the plan carries a corpus-sized primary-key join just
    to re-emit token-free rows."""
    docs = with_tokens(load(spark, sf_dir, "documents", parallelize=True))
    bucket = hash_expr("token", 0, EMB_DIM)
    cnt = (
        docs.select("doc_id", F.explode_outer("tokens").alias("token"))
        .selectExpr(
            "doc_id",
            f"CASE WHEN token IS NULL THEN CAST(-1 AS BIGINT)"
            f" ELSE {bucket} END AS bucket",
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.sum(F.expr("IF(bucket = -1, CAST(0 AS BIGINT), c)"))
        .cast("bigint").alias("n_tokens"),
        F.sum(F.expr("IF(bucket = -1, CAST(0 AS BIGINT), c * c)"))
        .cast("bigint").alias("norm_sq"),
        # collect_list drops the NULLed sentinel entries, so an empty
        # document yields an empty map -> all-zero vector
        F.expr(
            "map_from_entries(collect_list("
            "IF(bucket = -1, NULL, struct(bucket, c))))"
        ).alias("m"),
    ).selectExpr(
        "doc_id", "n_tokens", "norm_sq",
        f"transform(sequence(0, {EMB_DIM - 1}),"
        " b -> coalesce(element_at(m, CAST(b AS BIGINT)),"
        " CAST(0 AS BIGINT))) AS emb",
    )


def ai_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embed_hashing projected to driver-hashable scalars: the
    vector rides as a canonical CSV string (engine-independent,
    unlike native array stringification)."""
    return embed_hashing(spark, sf_dir).selectExpr(
        "doc_id", "n_tokens", "norm_sq",
        "array_join(transform(emb, x -> CAST(x AS STRING)), ',')"
        " AS emb_csv",
    )


def _embed_hash_sql() -> str:
    bucket = hash_expr("token", 0, EMB_DIM)
    return f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents),
tok AS (SELECT doc_id, unnest(tokens) AS token FROM t),
cnt AS (
  SELECT doc_id, {bucket} AS bucket, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY doc_id, bucket
),
per AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(c * c) AS BIGINT) AS norm_sq
  FROM cnt GROUP BY doc_id
),
grid AS (
  SELECT t.doc_id, g.b FROM t, unnest(range({EMB_DIM})) AS g(b)
),
full_grid AS (
  SELECT grid.doc_id, grid.b, coalesce(cnt.c, 0) AS c
  FROM grid LEFT JOIN cnt
    ON cnt.doc_id = grid.doc_id AND cnt.bucket = grid.b
),
emb AS (
  SELECT doc_id,
         string_agg(CAST(c AS VARCHAR), ',' ORDER BY b) AS emb_csv
  FROM full_grid GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(per.n_tokens, 0) AS n_tokens,
       coalesce(per.norm_sq, 0) AS norm_sq,
       emb.emb_csv AS emb_csv
FROM t
JOIN emb USING (doc_id)
LEFT JOIN per USING (doc_id)
"""


AI_EMBED_HASH_SQL = _embed_hash_sql()


QUERIES = {
    "ai_sentiment": ai_sentiment,
    "ai_classify": ai_classify,
    "ai_keywords": ai_keywords,
    "ai_summarize": ai_summarize,
    "ai_embed_hash": ai_embed_hash,
}
ORACLES = {
    "ai_sentiment": AI_SENTIMENT_SQL,
    "ai_classify": AI_CLASSIFY_SQL,
    "ai_keywords": AI_KEYWORDS_SQL,
    "ai_summarize": AI_SUMMARIZE_SQL,
    "ai_embed_hash": AI_EMBED_HASH_SQL,
}
