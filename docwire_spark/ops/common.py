"""Shared helpers for the ops layer.

Tokenization spec (identical in Spark and the DuckDB oracles):
``tokens = regexp_extract_all(lower(text), '[a-z0-9]+')`` — ASCII
alnum runs over lowercased text.  Chosen because it is expressible
bit-identically in both engines (RE2 and Java regex agree on this
pattern class).

The DuckDB side spells it with ``lower()`` (``TOKENS_SQL``).  The Spark
side (``tokens_expr``) never calls ``lower()``, whose first use in a JVM
starts ICU's case mappings (~1 s inside a timed pass).  A token keeps
only ``[a-z0-9]`` characters, so a case mapping matters only where it
produces one of them, and just three sources do: ``A-Z``, U+0130
(lowercases to ``i`` + U+0307 COMBINING DOT ABOVE, which then ends the
token) and U+212A KELVIN SIGN (``k``).  Every other character
lowercases to non-ASCII characters only (final sigma's context rule
included), which split tokens exactly as the original does.  So
rewriting U+0130 as ``i`` + U+0307 and then translating ``A-Z`` and
U+212A to ``a-z`` and ``k`` yields the same ``[a-z0-9]+`` runs as
``lower(text)`` under either setting of
``spark.sql.icu.caseMappings.enabled`` (``tests/test_case_mappings.py``
checks every Unicode scalar value).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

#: the only characters whose lowercase lands in the token alphabet
#: (U+0130 is rewritten first: it lowercases to two characters)
_TOKEN_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ\u212a"
_TOKEN_LOWER = "abcdefghijklmnopqrstuvwxyzk"


def tokens_expr(col: str) -> str:
    """Spark SQL expression: the token array of string expression
    ``col`` — ``regexp_extract_all(lower(col), '[a-z0-9]+')`` without
    ``lower()`` (see the module docstring).  coalesce-to-empty: NULL
    text means ZERO tokens in BOTH engines — without it Spark's
    size(NULL) = -1 while DuckDB's len(NULL) is NULL, so every
    token-derived column silently diverges on any crawl corpus carrying
    a NULL text row (tests/test_hostile_parity.py)."""
    return (
        "coalesce(regexp_extract_all(translate("
        f"replace({col}, '\u0130', 'i\u0307'),"
        f" '{_TOKEN_UPPER}', '{_TOKEN_LOWER}'), '[a-z0-9]+', 0), array())"
    )


#: Spark SQL expression producing the token array from a `text` column.
TOKENS_EXPR = tokens_expr("text")
#: Same tokenizer in DuckDB (group index defaults to 0 there).
TOKENS_SQL = (
    "coalesce(regexp_extract_all(lower(text), '[a-z0-9]+'), [])"
)

#: Spark SQL body: the bigrams ``"a b"`` of the token array bound to
#: lambda variable ``ts`` (bind it with :func:`let_expr`).  The CASE
#: guard matters: Spark's sequence(1, 0) yields a DESCENDING [1, 0]
#: (not empty like SQL generate_series), so the unguarded form crashes
#: element_at on 0/1-token documents.
BIGRAMS_OF_TS = (
    "CASE WHEN size(ts) >= 2 THEN"
    " transform(sequence(1, size(ts) - 1),"
    " i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"
    " ELSE array() END"
)


def bigrams_sql(tokens: str) -> str:
    """The same bigrams in DuckDB over the list expression ``tokens``."""
    return (
        f"list_transform(generate_series(1, greatest(len({tokens}) - 1, 0)),"
        f" i -> {tokens}[i] || ' ' || {tokens}[i + 1])"
    )

# English stopword list shared by the quality score (ops/textstats.py)
# and the corpus quality filter (ops/corpus_filter.py) plus their
# DuckDB oracles — one home so the two can never desynchronize.
STOP_EN = "'the','a','and','of','to','in','is','it','on','for'"

#: GPT2-style coarse pre-tokenizer: letter runs | single digits | punct.
BPE_EXPR = (
    "coalesce(regexp_extract_all(lower(text),"
    " '[a-z]+|[0-9]|[^a-z0-9 ]', 0), array())"
)
BPE_SQL = (
    "coalesce(regexp_extract_all(lower(text),"
    " '[a-z]+|[0-9]|[^a-z0-9 ]'), [])"
)


def ntz_epoch_us(col: str) -> str:
    """Spark SQL expression: exact microseconds since 1970-01-01 for a
    TIMESTAMP_NTZ column, computed by PURE FIELD EXTRACTION — the only
    genuinely session-timezone-proof form.

    Both ``unix_timestamp`` and (non-obviously) ``timestampdiff``
    resolve NTZ operands through the SESSION timezone: under e.g.
    America/New_York, 2024-03-10 02:15 — a wall-clock minute that
    never existed on spring-forward night — gets bumped +3600 s, so a
    29-minute NTZ gap reads as 89 minutes and diverges from DuckDB's
    tz-free ``epoch_us()`` (pinned by tests/test_dst_sessions.py).
    ``unix_date``/``hour``/``minute``/``extract(SECOND)`` are field
    reads with no instant conversion anywhere."""
    return (
        f"(CAST(unix_date(to_date({col})) AS BIGINT) * 86400000000"
        f" + CAST(hour({col}) AS BIGINT) * 3600000000"
        f" + CAST(minute({col}) AS BIGINT) * 60000000"
        f" + CAST(extract(SECOND FROM {col}) * 1000000 AS BIGINT))"
    )


def load(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    parallelize: bool = False,
) -> DataFrame:
    """Read a testdata table.  ``parallelize=True`` right-sizes the
    scan for CPU-heavy per-row work (numpy/extraction kernels, regex
    stats): a small single-row-group parquet file yields ONE scan
    partition, which would serialize the whole kernel onto one core —
    measured: the entire sf0.1 MinHash signature pass ran
    single-threaded before this.  The repartition only fires when the
    scan has fewer partitions than the cluster's parallelism, so at
    real scale (thousands of splits) it is a no-op — never an
    unconditional shuffle."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    return right_size(df) if parallelize else df


def right_size(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to the cluster's parallelism when its scan
    has fewer partitions (``load``'s ``parallelize`` rule)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


#: Row caps for the size-gated broadcast hint below.  SLIM rows carry a
#: couple of int64s (band keys, member ids); HEAVY rows carry an array
#: payload (shingle set, 64-double vector) — ~2 KiB worst case, so the
#: heavy cap keeps the broadcast build side well under 1 GiB.  Above
#: the cap the hint is omitted and the join degrades gracefully to a
#: shuffled equi-join on the key (the bucketed-join shape that is the
#: right plan at 10^12 docs); AQE may still promote it to broadcast at
#: runtime if the measured size allows.
BROADCAST_SLIM_ROW_LIMIT = 4_000_000
BROADCAST_HEAVY_ROW_LIMIT = 400_000


def broadcast_if_small(df: DataFrame, n_rows: int, row_limit: int) -> DataFrame:
    """Apply an explicit ``F.broadcast`` hint only when the side table
    is measured small.

    Corpus-derived side tables (one row per distinct shingle set /
    simhash / vector) are O(corpus): an unconditional hint OOMs the
    driver at cluster scale and is exactly the thing AQE will not
    demote.  Callers pass the *measured* row count of the (persisted)
    table — a single aggregate job, amortized across the many plan
    branches the table feeds."""
    return F.broadcast(df) if n_rows <= row_limit else df


#: Handles persisted by query builders, released via release_persisted().
_PERSISTED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() with a module-level handle so long-lived sessions can
    release cached tables between queries (ADVICE r2: persist without
    unpersist accumulates executor storage until LRU eviction)."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


#: (session, name) of the memory-sink tables streaming queries drained
#: into; each holds its rows in the driver until its view is dropped.
_SINKS: list[tuple[SparkSession, str]] = []


def track_sink(spark: SparkSession, name: str) -> None:
    """Register a memory-sink table for the next release_persisted()."""
    _SINKS.append((spark, name))


def release_persisted() -> None:
    """Unpersist every table cached by query builders since the last
    release, drop tracked memory-sink views, and purge tracked scratch
    dirs.  Harnesses (bench.py, tools/check_oracles.py) call this after
    consuming each query's result — so a returned DataFrame may lazily
    read from a tracked sink or scratch dir, but only until the harness
    moves to the next query."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:
            pass
    while _SINKS:
        spark, name = _SINKS.pop()
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
    _purge_scratch()


#: Scratch dirs created by query builders (WARC exports etc.), removed
#: at the next release_persisted() and, as a fallback for harnesses
#: that never call it (the driver's own runner), at process exit.
_SCRATCH: list[str] = []


def scratch_dir(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(d)
    return d


def _purge_scratch() -> None:
    while _SCRATCH:
        shutil.rmtree(_SCRATCH.pop(), ignore_errors=True)


atexit.register(_purge_scratch)


def let_expr(binding: str, var: str, body: str) -> str:
    """SQL "let": evaluate ``binding`` ONCE per row and bind it to
    lambda variable ``var`` inside ``body``.

    This is a barrier against a Catalyst alias-substitution hazard:
    filter pushdown (and project collapse) substitutes an alias's
    defining expression into every reference — INCLUDING references
    inside higher-order-function lambda bodies, where the substituted
    expression is then re-evaluated PER ELEMENT.  Composing e.g.
    ``corpus_quality_filter(...).filter("keep = 1")`` inlined
    ``tokens = regexp_extract_all(text, ...)`` into the bigram
    lambda ``i -> concat(element_at(tokens, i), ...)``, turning an
    O(n) pass into O(n^2) full-regex re-tokenizations per document —
    observed as a single 260 KB crawl page pinning an executor core
    for ~8 minutes (jstack: RegExpExtractAll inside ArrayTransform
    inside the pushed GeneratedClass$SpecificPredicate).

    ``element_at(transform(array(binding), var -> body), 1)`` fixes
    the class of bug structurally: ``binding`` sits in an ARGUMENT
    position (evaluated once per row no matter what gets inlined) and
    lambda variables are not attributes, so no optimizer rule can
    substitute into the body.  Use for every lambda body that needs
    to reference a non-trivial outer column (token arrays, etc.)."""
    return f"element_at(transform(array({binding}), {var} -> {body}), 1)"


def max_multiplicity_expr(arr: str) -> str:
    """Spark SQL expression: the max multiplicity of any element in
    ``arr`` (0 for empty), computed LINEARLY as the longest
    equal-adjacent run of the sorted array.

    Replaces the naive ``transform(array_distinct(a), x ->
    size(filter(a, y -> y = x)))`` form, which is O(distinct * n)
    interpreted-lambda evaluations per row — measured to hang a task
    for minutes on a single oversized crawl page (100k bigrams ->
    ~10^10 lambda steps).  The DuckDB oracles keep the naive spec
    form: oracles state WHAT, plans decide HOW.

    ``sort_array`` rather than ``array_sort``: the latter's default
    comparator runs as an interpreted lambda.  The two order NULLs
    differently (first vs last), which leaves every run length the
    same."""
    return (
        f"aggregate(sort_array({arr}),"
        " named_struct('prev', CAST(NULL AS STRING), 'run', 0L,"
        " 'best', 0L),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x <=> acc.prev, acc.run + 1L, 1L),"
        "   'best', greatest(acc.best,"
        "                    IF(x <=> acc.prev, acc.run + 1L, 1L))),"
        " acc -> acc.best)"
    )


def with_tokens(df: DataFrame, distinct: bool = False) -> DataFrame:
    out = df.withColumn("tokens", F.expr(TOKENS_EXPR))
    if distinct:
        out = out.withColumn("tokens", F.array_distinct(F.col("tokens")))
    return out
