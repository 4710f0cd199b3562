"""Corpus-level quality filtering and keyword search.

``corpus_quality_filter`` composes the Gopher-style document rules
(Rae et al. 2021 §A1.1; also C4, Raffel et al. 2020) into a single
keep/drop verdict with per-rule flags — the standard pre-training
data-cleaning pass.  ``bm25_search`` is corpus keyword retrieval
(Robertson & Walker BM25) for a fixed query-term set.

Both are pure Catalyst (no Python eval nodes) and designed for
cross-engine determinism against the DuckDB oracle:

- the filter emits ONLY integer flags — rule comparisons happen on
  doubles produced by one exact-int division, which is bit-identical
  across IEEE-754 engines, and the comparison result is an int;
- BM25 uses the log-free Robertson idf ``(N - df + .5)/(df + .5)``
  (a documented monotone variant: ``ln`` differs by ULPs between
  libm and the JVM) and a FIXED left-assoc summation order over the
  fixed term list, so scores are bit-identical across engines and
  the top-k set needs no rounding to agree.

Scale shape (10^12 docs): the filter is one map-side pass — no
shuffle at all.  BM25 is the two-pass textbook shape: a slim
stats aggregate (one row: N, sum(dl), per-term df) broadcast back
over a second pass, then global top-k via TakeOrdered (no
single-partition sort).  Per-term tf is computed by codegen
``size(filter(...))`` on the token array — no explode, because the
query-term list is fixed and small; an inverted-index (explode +
groupBy term) is the right shape only for large/ad-hoc term sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import (
    BIGRAMS_OF_TS, TOKENS_EXPR, TOKENS_SQL, bigrams_sql, let_expr, load,
    max_multiplicity_expr, persist_tracked, with_tokens,
)

# ---------------------------------------------------------------------------
# Gopher-style quality filter
# ---------------------------------------------------------------------------

#: rule thresholds, tuned non-degenerate for the synthetic corpus
#: (Gopher's originals in comments where they differ)
MIN_TOKENS = 50          # Gopher: 50
MAX_TOKENS = 100_000     # Gopher: 100k
MIN_AVG_TOKEN_LEN = 4.3  # Gopher: 3 (corpus range is 3.7-5.3)
MAX_AVG_TOKEN_LEN = 10.0
MIN_STOPWORDS = 2        # Gopher: >= 2 stopword hits
MAX_SHORT_TOKEN_FRAC = 0.05   # analog of Gopher's 80%-alpha-words rule
MAX_TOP_BIGRAM_FRAC = 0.08    # Gopher: top-2-gram <= 0.18

from .common import STOP_EN as _STOP_EN  # single home: ops/common.py

#: per-document stats over the let-bound ``ts`` (tokens) and ``bg``
#: (bigrams); the divisions are guarded by a non-empty token array:
#: ANSI mode (Spark 4 default) raises DIVIDE_BY_ZERO instead of
#: returning NULL, so an empty document would otherwise kill the job
_STATS_OF_TS_BG = (
    "named_struct("
    "'n_tok', CAST(size(ts) AS BIGINT),"
    " 'avg_len', CASE WHEN size(ts) > 0 THEN CAST(aggregate("
    "transform(ts, t -> length(t)), 0L, (acc, x) -> acc + x) AS DOUBLE)"
    " / CAST(size(ts) AS BIGINT) END,"
    f" 'stops', size(filter(ts, t -> t IN ({_STOP_EN}))),"
    " 'short_frac', CASE WHEN size(ts) > 0 THEN"
    " CAST(size(filter(ts, t -> length(t) = 1)) AS DOUBLE)"
    " / CAST(size(ts) AS BIGINT) END,"
    " 'n_bg', size(bg),"
    f" 'top_bg', {max_multiplicity_expr('bg')})"
)


#: the int flag columns ``quality_flags`` appends before ``keep``
FLAG_COLS = (
    "pass_n_tokens", "pass_avg_token_len", "pass_stopwords",
    "pass_short_tokens", "pass_top_bigram",
)


def _num(v) -> str:
    """A threshold as a Spark SQL literal: a bare ``4.3`` would be a
    DECIMAL, so floats get the double suffix."""
    return f"{v!r}D" if isinstance(v, float) else str(int(v))


def quality_flags(
    docs: DataFrame,
    *,
    min_tokens: int = MIN_TOKENS,
    max_tokens: int = MAX_TOKENS,
    min_avg_token_len: float = MIN_AVG_TOKEN_LEN,
    max_avg_token_len: float = MAX_AVG_TOKEN_LEN,
    min_stopwords: int = MIN_STOPWORDS,
    max_short_token_frac: float = MAX_SHORT_TOKEN_FRAC,
    max_top_bigram_frac: float = MAX_TOP_BIGRAM_FRAC,
) -> DataFrame:
    """``docs`` (with a ``text`` column) plus the ``FLAG_COLS`` int
    flags and their product ``keep``, in one map-side pass.

    Thresholds are keyword-overridable per corpus (a filter tuned for
    one crawl is degenerate on another); the module defaults are the
    oracle-pinned spec (QUALITY_FILTER_SQL) — change those only with
    the DuckDB side in lockstep.

    Tokens, bigrams, stats and flags are one expression with each
    step bound by ``common.let_expr``, so a ``keep == 1`` filter that
    Catalyst pushes into the scan tokenizes each row once (separate
    columns would have the tokenizer substituted into every flag)."""
    conds = {
        "pass_n_tokens":
            f"m.n_tok >= {_num(min_tokens)} AND m.n_tok <= {_num(max_tokens)}",
        "pass_avg_token_len":
            f"m.avg_len >= {_num(min_avg_token_len)}"
            f" AND m.avg_len <= {_num(max_avg_token_len)}",
        "pass_stopwords": f"m.stops >= {_num(min_stopwords)}",
        "pass_short_tokens": f"m.short_frac <= {_num(max_short_token_frac)}",
        "pass_top_bigram":
            "CASE WHEN m.n_bg = 0 THEN true ELSE CAST(m.top_bg AS DOUBLE)"
            f" / m.n_bg <= {_num(max_top_bigram_frac)} END",
    }
    # flags coalesce NULL -> 0 so empty/NULL-text documents fail every
    # rule instead of propagating NULL into keep (0/0 guards yield NULL)
    flags = "named_struct(" + ", ".join(
        f"'{c}', coalesce(CAST(({conds[c]}) AS INT), 0)" for c in FLAG_COLS
    ) + ")"
    keep = " * ".join(f"f.{c}" for c in FLAG_COLS)
    with_keep = (
        "named_struct(" + "".join(f"'{c}', f.{c}, " for c in FLAG_COLS)
        + f"'keep', CAST({keep} AS INT))"
    )
    q = let_expr(TOKENS_EXPR, "ts", let_expr(
        BIGRAMS_OF_TS, "bg", let_expr(
            _STATS_OF_TS_BG, "m", let_expr(flags, "f", with_keep))))
    return docs.select(*docs.columns, F.expr(q).alias("_q")).select(
        *docs.columns, "_q.*"
    )


def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rule flags and ``keep`` at the oracle-pinned
    thresholds (see ``quality_flags``); every output column is an int
    flag."""
    docs = load(spark, sf_dir, "documents", parallelize=True)
    return quality_flags(docs).select("doc_id", *FLAG_COLS, "keep")


QUALITY_FILTER_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents
), b AS (
  SELECT doc_id, tokens, {bigrams_sql("tokens")} AS bg
  FROM t
), m AS (
  SELECT doc_id,
         len(tokens) AS n_tok,
         CAST(list_sum(list_transform(tokens, t -> length(t))) AS DOUBLE)
           / len(tokens) AS avg_len,
         len(list_filter(tokens, t -> t IN ({_STOP_EN}))) AS stops,
         CAST(len(list_filter(tokens, t -> length(t) = 1)) AS DOUBLE)
           / len(tokens) AS short_frac,
         len(bg) AS n_bg,
         coalesce(list_max(list_transform(list_distinct(bg),
             x -> len(list_filter(bg, y -> y = x)))), 0) AS top_bg
  FROM b
), r AS (
  -- coalesce(.., 0): a zero-token doc has NULL avg_len/short_frac
  -- (0/0) and must FAIL those rules, matching the Spark side's
  -- explicit coalesce-to-0 flag contract
  SELECT doc_id,
    CAST(n_tok >= {MIN_TOKENS} AND n_tok <= {MAX_TOKENS} AS INT)
      AS pass_n_tokens,
    coalesce(CAST(avg_len >= {MIN_AVG_TOKEN_LEN}
                  AND avg_len <= {MAX_AVG_TOKEN_LEN} AS INT), 0)
      AS pass_avg_token_len,
    CAST(stops >= {MIN_STOPWORDS} AS INT) AS pass_stopwords,
    coalesce(CAST(short_frac <= {MAX_SHORT_TOKEN_FRAC} AS INT), 0)
      AS pass_short_tokens,
    CAST(n_bg = 0 OR CAST(top_bg AS DOUBLE) / n_bg <= {MAX_TOP_BIGRAM_FRAC}
         AS INT) AS pass_top_bigram
  FROM m
)
SELECT *,
       CAST(pass_n_tokens * pass_avg_token_len * pass_stopwords
            * pass_short_tokens * pass_top_bigram AS INT) AS keep
FROM r
"""

# ---------------------------------------------------------------------------
# BM25 keyword search
# ---------------------------------------------------------------------------

QUERY_TERMS = ("join", "vector", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 100


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``BM25_TOP_K`` documents for the fixed ``QUERY_TERMS``.

    Pass 1 aggregates corpus stats to ONE row (N, sum dl, per-term
    df); pass 2 broadcasts that row back over the slim per-doc
    projection and scores in codegen.  The base projection is
    persisted so the corpus is scanned once, not twice."""
    docs = with_tokens(load(spark, sf_dir, "documents", parallelize=True))
    tf_cols = [
        F.expr(f"size(filter(tokens, t -> t = '{t}'))")
        .cast("bigint").alias(f"tf_{t}")
        for t in QUERY_TERMS
    ]
    base = persist_tracked(
        docs.select(
            "doc_id", F.size("tokens").cast("bigint").alias("dl"), *tf_cols
        )
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("bigint")).alias(f"df_{t}")
            for t in QUERY_TERMS
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    # identical arithmetic tree to BM25_SEARCH_SQL below (see module
    # docstring: bit-identical doubles is the oracle contract)
    score_terms = [
        f"(((CAST(n_docs - df_{t} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf_{t} AS DOUBLE) * ({BM25_K1} + 1.0))"
        f" / (CAST(tf_{t} AS DOUBLE) + {BM25_K1} * ((1.0 - {BM25_B})"
        f" + {BM25_B} * (CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))"
        for t in QUERY_TERMS
    ]
    matched = " + ".join(f"tf_{t}" for t in QUERY_TERMS)
    return (
        scored.withColumn("score", F.expr(" + ".join(score_terms)))
        .filter(F.expr(matched) > 0)
        .select(
            "doc_id", "dl",
            *[f"tf_{t}" for t in QUERY_TERMS],
            "score",
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOP_K)
    )


def _bm25_sql() -> str:
    tf_exprs = ",\n         ".join(
        f"CAST(len(list_filter(tokens, t -> t = '{t}')) AS BIGINT) AS tf_{t}"
        for t in QUERY_TERMS
    )
    df_exprs = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{t}"
        for t in QUERY_TERMS
    )
    score_terms = " + ".join(
        f"(((CAST(n_docs - df_{t} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf_{t} AS DOUBLE) * ({BM25_K1} + 1.0))"
        f" / (CAST(tf_{t} AS DOUBLE) + {BM25_K1} * ((1.0 - {BM25_B})"
        f" + {BM25_B} * (CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))"
        for t in QUERY_TERMS
    )
    matched = " + ".join(f"tf_{t}" for t in QUERY_TERMS)
    tf_names = ", ".join(f"tf_{t}" for t in QUERY_TERMS)
    return f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents
), base AS (
  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl,
         {tf_exprs}
  FROM t
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl,
         {df_exprs}
  FROM base
)
SELECT doc_id, dl, {tf_names},
       {score_terms} AS score
FROM base, stats
WHERE {matched} > 0
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP_K}
"""


BM25_SEARCH_SQL = _bm25_sql()


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------

#: per-stratum keep rates: source index 0-4 keep all, 5-9 half,
#: 10-14 quarter, 15+ a tenth — the importance-resampling shape of
#: training-data mixes (keep high-value strata, downsample the tail)
SAMPLE_RATES = ((5, 1.0), (10, 0.5), (15, 0.25), (10**9, 0.1))


def _rate_thresholds():
    """Each rate as an 8-hex-digit threshold: keep iff the first 8 md5
    hex chars of the doc key compare lexicographically below it.
    String comparison of lowercase hex is engine-neutral — no integer
    parse of hex needed (Spark's conv() and DuckDB's hex casts
    disagree on types, strings don't)."""
    out = []
    for bound, rate in SAMPLE_RATES:
        t = min(int(rate * 2**32), 2**32 - 1) if rate < 1.0 else 2**32 - 1
        out.append((bound, format(t, "08x") if rate < 1.0 else "g" * 8))
        # "gggggggg" sorts above every hex digit -> rate 1.0 keeps all
    return out


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold sampling per source stratum: one
    map-side pass, zero shuffle, reproducible across runs/engines
    (md5 of the doc key, not rand()).  At any corpus size the sample
    decision is embarrassingly parallel and restart-stable — the
    property replayable training-data pipelines need."""
    docs = load(spark, sf_dir, "documents", parallelize=True)
    # try_cast + the otherwise-chain: a NULL or non-'srcN' source
    # (unknown stratum) deterministically samples at the TAIL rate in
    # both engines — never a NULL keep flag, never an ANSI cast error
    src_idx = F.expr("TRY_CAST(substring(source, 4) AS INT)")
    u8 = F.expr("substring(md5(CAST(doc_id AS STRING)), 1, 8)")
    thr = None
    for bound, hexthr in reversed(_rate_thresholds()):
        lit = F.lit(hexthr)
        thr = lit if thr is None else F.when(src_idx < bound, lit).otherwise(thr)
    return docs.select(
        "doc_id",
        "source",
        u8.alias("u8"),
        (u8 < thr).cast("int").alias("keep"),
    )


def _sample_sql() -> str:
    # last bound (10^9, the tail rate) is the ELSE so a NULL /
    # unparseable source lands in the tail stratum exactly like the
    # Spark otherwise-chain, instead of CASE -> NULL
    thresholds = _rate_thresholds()
    cases = []
    for bound, hexthr in thresholds[:-1]:
        cases.append(f"WHEN TRY_CAST(substring(source, 4) AS INT)"
                     f" < {bound} THEN '{hexthr}'")
    case = ("CASE " + " ".join(cases)
            + f" ELSE '{thresholds[-1][1]}' END")
    return f"""
SELECT doc_id, source,
       substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS u8,
       CAST(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < {case}
            AS INT) AS keep
FROM documents
"""


SAMPLE_STRATIFIED_SQL = _sample_sql()


# ---------------------------------------------------------------------------
# benchmark decontamination (train/eval n-gram overlap — the GPT-3 /
# PaLM appendix-style leakage check: flag training documents sharing
# any DECON_N-token n-gram with the held-out eval slice)
# ---------------------------------------------------------------------------

DECON_N = 8           # the standard 8-gram decontamination window
DECON_EVAL_MOD = 10   # eval slice: doc_id % 10 == 7 (deterministic stand-in
DECON_EVAL_REM = 7    # for a real benchmark table at the same join shape)

#: overlapping DECON_N-token n-grams (let_expr-bound: see common.let_expr)
_NGRAMS_EXPR = let_expr(
    "tokens", "ts",
    f"CASE WHEN size(ts) >= {DECON_N} THEN"
    f" transform(sequence(0, size(ts) - {DECON_N}),"
    f" i -> array_join(slice(ts, i + 1, {DECON_N}), ' '))"
    " ELSE array() END",
)


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-document contamination stats against the eval
    slice.

    Scale shape: explode both sides to slim (doc_id, ngram) rows;
    the eval n-gram set is distinct-ed (shuffle on ngram) and joined
    to the distinct train rows by an equi-join on the ngram key —
    the same distributed topology whatever the eval corpus is.  No
    broadcast hint: the eval set is O(eval corpus), so the hint is
    left to AQE's measured size (tiny eval sets still broadcast at
    runtime; a big one degrades to the bucketed shuffle join).
    contam_frac is an exact int/int double division — bit-identical
    across engines, no rounding needed."""
    docs = with_tokens(load(spark, sf_dir, "documents", parallelize=True))
    is_eval = (F.col("doc_id") % DECON_EVAL_MOD) == DECON_EVAL_REM
    ex = docs.select(
        "doc_id", is_eval.alias("is_eval"),
        F.explode_outer(F.expr(_NGRAMS_EXPR)).alias("ng"),
    )
    eval_ng = ex.filter("is_eval AND ng IS NOT NULL").select("ng").distinct()
    train = (
        ex.filter("NOT is_eval AND ng IS NOT NULL")
        .select("doc_id", "ng").distinct()
    )
    per_doc = train.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_ngrams")
    )
    hits = (
        train.join(eval_ng, "ng")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_contaminated"))
    )
    return (
        docs.filter(~is_eval).select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).cast("bigint").alias("n_ngrams"),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("bigint").alias("n_contaminated"),
            F.when(
                F.coalesce("n_ngrams", F.lit(0)) > 0,
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_ngrams"),
            ).otherwise(F.lit(0.0)).alias("contam_frac"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0)
            .cast("int").alias("contaminated"),
        )
    )


DECONTAMINATE_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents
), ex AS (
  SELECT doc_id, (doc_id % {DECON_EVAL_MOD}) = {DECON_EVAL_REM} AS is_eval,
         unnest(list_transform(range(len(tokens) - {DECON_N - 1}),
                i -> list_reduce(tokens[(i + 1):(i + {DECON_N})],
                                 (a, b) -> a || ' ' || b))) AS ng
  FROM t WHERE len(tokens) >= {DECON_N}
), ev AS (
  SELECT DISTINCT ng FROM ex WHERE is_eval
), tr AS (
  SELECT DISTINCT doc_id, ng FROM ex WHERE NOT is_eval
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams FROM tr GROUP BY doc_id
), hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
  FROM tr JOIN ev USING (ng) GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(n_ngrams, 0) AS n_ngrams,
       coalesce(n_contaminated, 0) AS n_contaminated,
       CASE WHEN coalesce(n_ngrams, 0) > 0
            THEN CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_ngrams
            ELSE 0.0 END AS contam_frac,
       CAST(coalesce(n_contaminated, 0) > 0 AS INT) AS contaminated
FROM t
LEFT JOIN per_doc USING (doc_id)
LEFT JOIN hits USING (doc_id)
WHERE (t.doc_id % {DECON_EVAL_MOD}) <> {DECON_EVAL_REM}
"""


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: patterns shared by both engines.  Restricted to the syntax subset
#: where Java regex (Spark) and RE2 (DuckDB) agree: explicit classes,
#: bounded repeats, no backrefs/lookaround/word-boundaries.  The email
#: class is explicitly mixed-case ([A-Za-z], not a case-insensitive
#: flag — flag syntax differs between the engines) and the TLD bound
#: covers the long generic TLDs (.online, .agency, .international —
#: the longest delegated TLD is 24 chars): a privacy pass that lets
#: John.Doe@Example.COM through is silently broken (ADVICE r3).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,24}"
PII_PHONE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}"
PII_IPV4 = r"([0-9]{1,3}\.){3}[0-9]{1,3}"

#: deterministic PII injection: the synthetic corpus carries no PII,
#: so both engines append the same doc_id-derived contact block and
#: the redactor is exercised on real positive matches (the alternative
#: — an all-zero-counts oracle — would green-light a broken regex)
_INJECT = (
    "text || ' contact user' || CAST(doc_id AS {s}) || '@ex'"
    " || CAST(doc_id % 7 AS {s}) || '.com or +1-555-'"
    " || lpad(CAST(doc_id % 10000 AS {s}), 4, '0')"
    " || ' at 10.' || CAST(doc_id % 256 AS {s}) || '.0.'"
    " || CAST(doc_id % 100 AS {s})"
)
_INJECT_SPARK = _INJECT.format(s="STRING")
_INJECT_DUCK = _INJECT.format(s="VARCHAR")


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails / phone numbers / IPv4 addresses, count each kind.

    One map-side pass, three chained ``regexp_replace`` calls in
    codegen — the standard pre-training PII pass (emails first so the
    later numeric patterns cannot eat an address's digits).  No
    shuffle; at 10^12 docs this pipelines into whatever pass already
    reads the text."""
    docs = load(spark, sf_dir, "documents", parallelize=True)
    # patterns go through the COLUMN API only: embedding them in an
    # F.expr SQL literal would strip the backslashes at parse time
    # ('\.' -> '.') and silently diverge from the RE2 oracle
    out = docs.select("doc_id", F.expr(_INJECT_SPARK).alias("raw"))
    # one redactor implementation: the pipeline's redact_pii_column is
    # also what the oracle checks here (patterns AND order shared)
    red = redact_pii_column(out, text_col="raw")
    return red.select(
        "doc_id",
        F.col("raw").alias("redacted"),
        F.col("n_pii_emails").alias("n_emails"),
        F.col("n_pii_phones").alias("n_phones"),
        F.col("n_pii_ips").alias("n_ips"),
    )


def redact_pii_column(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Reusable redactor for REAL corpora (no injection): replaces the
    ``text_col`` in place and appends per-kind match counts.  Same
    patterns/order as the oracle-checked ``pii_redact`` query."""
    raw = F.col(text_col)
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, PII_EMAIL, "<EMAIL>"),
            PII_PHONE, "<PHONE>",
        ),
        PII_IPV4, "<IP>",
    )
    return df.select(
        *[c for c in df.columns if c != text_col],
        F.size(F.regexp_extract_all(text_col, F.lit(PII_EMAIL), 0))
        .cast("bigint").alias("n_pii_emails"),
        F.size(F.regexp_extract_all(text_col, F.lit(PII_PHONE), 0))
        .cast("bigint").alias("n_pii_phones"),
        F.size(F.regexp_extract_all(text_col, F.lit(PII_IPV4), 0))
        .cast("bigint").alias("n_pii_ips"),
        red.alias(text_col),
    )


PII_REDACT_SQL = f"""
WITH t AS (
  SELECT doc_id, {_INJECT_DUCK} AS raw FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(raw, '{PII_EMAIL}', '<EMAIL>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g'),
         '{PII_IPV4}', '<IP>', 'g') AS redacted,
       CAST(len(regexp_extract_all(raw, '{PII_EMAIL}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(raw, '{PII_PHONE}')) AS BIGINT)
         AS n_phones,
       CAST(len(regexp_extract_all(raw, '{PII_IPV4}')) AS BIGINT) AS n_ips
FROM t
"""


# ---------------------------------------------------------------------------
# Training-mix planner
# ---------------------------------------------------------------------------

#: integer quality key: stopword hits dominate, document length breaks
#: ties — all-bigint so the decile assignment is exact cross-engine
#: (no float compares anywhere in the ranking)
_QSCORE = (
    "CAST(size(filter(tokens, t -> t IN ({stops}))) AS BIGINT)"
    " * 1000000000 + size(tokens)"
)


def corpus_mix_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budget by (lang, quality decile) with cumulative share —
    the table a pre-training data-mix decision reads: "taking the top
    q deciles of each language gives this many tokens".

    Deciles via ``ntile(10)`` partitioned by lang, ordered by the
    exact integer quality key descending with doc_id tiebreak (total
    order -> deterministic decile for every doc).  Shares are
    bigint/bigint divisions rounded at the end, so both engines emit
    identical doubles.

    Scale note: ntile needs a per-language sort; language corpus sizes
    are web-scale-skewed, so at 10^12 docs swap the exact ntile for
    decile BOUNDARIES from approx_percentile over the integer key and
    a map-side join — same output schema, sort-free.  The exact form
    here is the oracle-checkable spec of that plan."""
    from pyspark.sql import Window

    docs = with_tokens(
        load(spark, sf_dir, "documents", parallelize=True)
    ).select(
        "doc_id", "lang",
        F.expr(_QSCORE.format(stops=_STOP_EN)).alias("q"),
        F.size("tokens").cast("bigint").alias("n_tok"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("q").desc(), F.col("doc_id")
    )
    decd = docs.withColumn("decile", F.ntile(10).over(w))
    agg = decd.groupBy("lang", "decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    w_lang = Window.partitionBy("lang")
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.select(
        "lang", "decile", "n_docs", "n_tokens",
        F.round(
            F.col("n_tokens").cast("double")
            / F.sum("n_tokens").over(w_lang),
            6,
        ).alias("token_share"),
        F.round(
            F.sum("n_tokens").over(w_cum).cast("double")
            / F.sum("n_tokens").over(w_lang),
            6,
        ).alias("cum_token_share"),
    )


MIX_PLANNER_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {TOKENS_SQL} AS tokens FROM documents
), scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(tokens, x -> x IN ({_STOP_EN})))
              AS BIGINT) * 1000000000 + len(tokens) AS q,
         CAST(len(tokens) AS BIGINT) AS n_tok
  FROM t
), decd AS (
  SELECT lang, n_tok,
         ntile(10) OVER (PARTITION BY lang ORDER BY q DESC, doc_id)
           AS decile
  FROM scored
), agg AS (
  SELECT lang, decile,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM decd GROUP BY lang, decile
)
SELECT lang, decile, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE)
             / sum(n_tokens) OVER (PARTITION BY lang), 6) AS token_share,
       round(CAST(sum(n_tokens) OVER (
                PARTITION BY lang ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) AS DOUBLE)
             / sum(n_tokens) OVER (PARTITION BY lang), 6)
         AS cum_token_share
FROM agg
"""


# ---------------------------------------------------------------------------
# Language-balanced resampling
# ---------------------------------------------------------------------------

#: per-language cap as a fraction of the ORIGINAL corpus token budget
#: (numerator/denominator kept integer so the cap itself is exact)
BALANCE_NUM, BALANCE_DEN = 1, 4


def lang_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the mix decision: cap every language at NUM/DEN of the
    corpus token budget, keeping a deterministic random subset.

    All arithmetic is INTEGER: documents are ordered inside each
    language by ``(md5(doc_id), doc_id)`` (a deterministic shuffle,
    same trick as sample_stratified), the running token sum along that
    order is a bigint, and the cap is ``total_tokens DIV den * num`` —
    keep while the running sum fits.  No doubles anywhere, so the
    keep set is bit-identical on any engine and any partitioning.

    Scale shape: one shuffle on lang for the running-sum window (group
    size = language corpus; at 10^12 docs swap for the two-pass
    variant — per-bucket partial sums, then a bucket-offset join —
    same keep set, bounded partitions); the 1-row total joins in as a
    broadcast."""
    from pyspark.sql import Window

    docs = with_tokens(
        load(spark, sf_dir, "documents", parallelize=True)
    ).select(
        "doc_id", "lang",
        F.size("tokens").cast("bigint").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    total = docs.agg(
        F.sum("n_tok").cast("bigint").alias("total_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.crossJoin(F.broadcast(total))  # 1 row: always legal
        .withColumn("cum_tok", F.sum("n_tok").over(w).cast("bigint"))
        .select(
            "doc_id", "lang", "n_tok",
            F.expr(
                f"CAST(cum_tok <= total_tok DIV {BALANCE_DEN}"
                f" * {BALANCE_NUM} AS INT)"
            ).alias("keep"),
        )
    )


LANG_BALANCE_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), tot AS (
  SELECT CAST(sum(n_tok) AS BIGINT) AS total_tok FROM t
), c AS (
  SELECT doc_id, lang, n_tok,
         CAST(sum(n_tok) OVER (
           PARTITION BY lang ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tok
  FROM t
)
SELECT doc_id, lang, n_tok,
       CAST(cum_tok <= total_tok // {BALANCE_DEN} * {BALANCE_NUM} AS INT)
         AS keep
FROM c CROSS JOIN tot
"""


QUERIES = {
    "corpus_quality_filter": corpus_quality_filter,
    "bm25_search": bm25_search,
    "sample_stratified": sample_stratified,
    "decontaminate": decontaminate,
    "pii_redact": pii_redact,
    "corpus_mix_planner": corpus_mix_planner,
    "lang_balance": lang_balance,
}

ORACLES = {
    "corpus_quality_filter": QUALITY_FILTER_SQL,
    "bm25_search": BM25_SEARCH_SQL,
    "sample_stratified": SAMPLE_STRATIFIED_SQL,
    "decontaminate": DECONTAMINATE_SQL,
    "pii_redact": PII_REDACT_SQL,
    "corpus_mix_planner": MIX_PLANNER_SQL,
    "lang_balance": LANG_BALANCE_SQL,
}
