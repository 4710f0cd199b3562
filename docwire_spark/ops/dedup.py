"""Deduplication operators over ``documents`` (and ``embeddings``).

Eleven oracle-checked queries:

- ``dedup_exact``          hash-groupBy on the normalized-token md5
- ``dedup_minhash_lsh``    125-hash MinHash signatures (numpy kernel)
                           -> 25-band LSH equi-join -> exact-Jaccard
                           verify.  Measured pair recall vs the exact
                           ground truth at threshold 0.7: 0.999
                           (b=25, r=5: P(candidate | j=0.7) = 0.99).
- ``dedup_jaccard_exact``  brute-force n-gram Jaccard ground truth
                           (small-scale validation of the LSH recall;
                           O(n^2) crossJoin — the ONLY intentional
                           all-pairs op in this registry; do NOT run
                           at full scale)
- ``dedup_simhash``        64-bit (60 used) SimHash signature per doc,
                           computed entirely map-side (no shuffle)
- ``dedup_simhash_pairs``  near-dup pairs by Hamming distance via
                           pigeonhole block equi-join (EXACT: 13
                           blocks over 60 bits guarantee any pair at
                           distance <= 12 shares a block)
- ``dedup_embedding``      embedding-cosine near-dup pairs via banded
                           sign-LSH equi-join + verify
- ``dedup_chunk_exact``    per-doc duplicate-chunk statistics over
                           aligned 5-token chunks, keep-first
- ``dedup_chunk_rewrite``  each doc's text rebuilt from its surviving
                           chunks
- ``dedup_components``     connected components over the verified
                           MinHash pair graph, keep-min per component
- ``dedup_canonical_select`` the longest member of each component
- ``dedup_substring``      sliding-window exact-substring coverage

Scale notes (the 100-TB posture):

* No all-pairs product anywhere except the labeled ground-truth
  validator.  Candidate generation is always an equi-join on a
  band/block key — at cluster scale that key is the shuffle key and
  each bucket is a local problem.
* The MinHash, SimHash and embedding pair queries share one pair
  engine: a ``(band, key)`` self equi-join that keeps a pair only in
  the FIRST band whose keys agree (``_band_pairs``; no second shuffle
  to deduplicate candidates), size-gated back-joins of the payload
  onto both pair ends (``_join_ends``) and, for the collapse-then-
  expand plans, one rep-to-member expansion (``_member_pairs``).
* Signatures are computed in vectorized numpy kernels over Arrow
  batches (``session.map_batches``) — no per-row Python, no
  interpreted Catalyst lambdas in the hot path.
* This corpus is template-generated and near-dup-dense (~40% of ALL
  pairs are true positives at 0.7), so the OUTPUT itself is
  quadratic; candidate pruning is bounded below by output size here.
  On real web corpora (background Jaccard ~0) the same plan prunes
  to ~linear.

Cross-engine determinism: token hashes are the first 15 md5 hex chars
(60-bit, fits signed int64 in both engines); the 125 MinHash
permutations are affine maps ``(a_i * h + b_i) mod 2^64`` with
driver-side md5-derived constants (numpy uint64 wraparound == DuckDB
HUGEINT mod 2^64); band keys are md5 over the '|'-joined decimal
signature values.  Reference parity: the reference engine has no
dedup operators — these are the training-data-pipeline extensions
required by the build brief.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from docwire_spark.ops.common import (
    BROADCAST_HEAVY_ROW_LIMIT,
    BROADCAST_SLIM_ROW_LIMIT,
    TOKENS_SQL,
    broadcast_if_small,
    let_expr,
    load,
    persist_tracked,
    right_size,
    with_tokens,
)
from docwire_spark.spark.session import map_batches

NUM_HASHES = 125
BAND_SIZE = 5          # r: rows per band
N_BANDS = 25           # b: bands (b * r = NUM_HASHES)
JACCARD_THRESHOLD = 0.7
HAMMING_THRESHOLD = 12
COSINE_THRESHOLD = 0.3
MOD64 = 1 << 64

#: affine MinHash permutation constants, fixed by spec (md5-derived so
#: both engines can inline the identical literals)
_A = [int(hashlib.md5(f"a{i}".encode()).hexdigest()[:16], 16) | 1
      for i in range(NUM_HASHES)]
_B = [int(hashlib.md5(f"b{i}".encode()).hexdigest()[:16], 16)
      for i in range(NUM_HASHES)]

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


#: the exact-duplicate key: md5 of the space-joined token array
_EXACT_FP = "md5(concat_ws(' ', tokens))"


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_tokens(load(spark, sf_dir, "documents", parallelize=True))
    return (
        docs.select("doc_id", F.expr(_EXACT_FP).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_firsts(docs: DataFrame) -> DataFrame:
    """The rows of ``docs`` that ``dedup_exact`` keeps: the lowest
    ``doc_id`` of each token fingerprint, found by one window over the
    fingerprint instead of an aggregate joined back."""
    from pyspark.sql import Window

    first = F.min("doc_id").over(Window.partitionBy("_fp"))
    return (
        with_tokens(docs)
        .select(*docs.columns, F.expr(_EXACT_FP).alias("_fp"))
        .withColumn("_first", first)
        .filter(F.col("doc_id") == F.col("_first"))
        .select(*docs.columns)
    )


DEDUP_EXACT_SQL = f"""
-- coalesce: DuckDB array_to_string([], ' ') is NULL where Spark's
-- concat_ws is '' — zero-token docs must share md5('') in both engines
SELECT md5(coalesce(array_to_string({TOKENS_SQL}, ' '), '')) AS fp,
       min(doc_id) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# the pair engine: band join, pair-end back-joins, member expansion
# ---------------------------------------------------------------------------


def _band_pairs(table: DataFrame, id_col: str, keys,
                first_band: str) -> DataFrame:
    """Candidate pairs of ``table`` rows that share a band key: one row
    per ``(band, key)`` of the ``keys`` array, a self equi-join on
    ``(band, key, a.id < b.id)``, and only the pair's FIRST agreeing
    band kept, so each pair comes out once with no second shuffle.
    ``first_band`` is the family's flat CASE chain over the ``a``/``b``
    columns (direct integer or array-index tests compile in whole-stage
    codegen; a zip_with/array_position form runs in the interpreted
    lambda evaluator and cost ~3x on the candidate stream).  The result
    keeps the ``a``/``b`` aliases for the caller's select."""
    bands = table.select("*", F.posexplode(keys).alias("band", "key"))
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(F.expr(first_band) == F.col("a.band"))
    )


def _join_ends(pairs: DataFrame, side: DataFrame, n_rows: int,
               row_limit: int, *ends) -> DataFrame:
    """``pairs`` with ``side`` (a key column, then payload columns)
    joined onto each pair end in turn; each of ``ends`` names the side
    table's columns for one end, its key first (the pair column the
    join uses).  The side table is broadcast only while its measured
    ``n_rows`` stays under ``row_limit``: past it the hint is omitted
    and the back-join is a shuffled equi-join on the key, the right
    plan at 10^12 rows, where an unconditional O(corpus) broadcast
    would OOM the driver.  Callers pass ``row_limit`` from their own
    module globals."""
    for names in ends:
        pairs = pairs.join(
            broadcast_if_small(side.toDF(*names), n_rows, row_limit),
            names[0],
        )
    return pairs


def _member_pairs(groups: DataFrame, n_groups: int, rep_pairs: DataFrame,
                  score: str, intra_score) -> DataFrame:
    """Member pairs ``(doc_a, doc_b, score)`` of a collapse-then-expand
    plan: ``groups`` holds one row per distinct signature (``gid``, the
    min member, and ``members``), ``rep_pairs`` the verified
    ``(ga, gb, score)`` rep pairs.  Each rep pair expands to the cross
    product of its two member lists, and every group with several
    members adds its own pairs with the ``intra_score`` column (an
    identical signature needs no verify)."""
    cross = (
        _join_ends(rep_pairs, groups.select("gid", "members"), n_groups,
                   BROADCAST_SLIM_ROW_LIMIT, ("ga", "ma"), ("gb", "mb"))
        .select(F.explode("ma").alias("a"), "mb", score)
        .select("a", F.explode("mb").alias("b"), score)
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            score,
        )
    )
    intra = (
        groups.filter(F.size("members") > 1)
        .select(F.explode("members").alias("doc_a"), "members")
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(score, intra_score)
    )
    return cross.unionByName(intra)


def _jaccard_pairs(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """``(id_a, id_b, jaccard)`` of the ``pairs`` whose shingle sets
    ``sha``/``shb`` reach ``JACCARD_THRESHOLD`` (rounded to 6)."""
    return (
        pairs.withColumn("n_inter", F.size(F.array_intersect("sha", "shb")))
        .withColumn("n_union", F.size("sha") + F.size("shb") - F.col("n_inter"))
        .withColumn(
            # union=0 guard (two empty-token docs): ANSI mode raises
            # on /0; NULL jaccard drops the pair at the filter below
            "jaccard",
            F.when(
                F.col("n_union") > 0,
                F.round(
                    F.col("n_inter").cast("double") / F.col("n_union"), 6
                ),
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(id_a, id_b, "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH -> verified Jaccard pairs
# ---------------------------------------------------------------------------

_MH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sh", ArrayType(StringType())),
        StructField("keys", ArrayType(LongType())),
    ]
)


def _minhash_batches(batches):
    """Vectorized signature kernel: per doc, 60-bit md5 token hashes ->
    125 affine permutations (uint64 wraparound) -> column mins -> 25
    per-band 60-bit md5 keys.  One (T x 125) numpy multiply per doc;
    token hashes are cached across the batch (Zipfian token reuse)."""
    import hashlib
    import re

    import numpy as np

    token_re = re.compile(r"[a-z0-9]+")
    A = np.array(_A, dtype=np.uint64)
    B = np.array(_B, dtype=np.uint64)
    cache: dict[str, int] = {}

    def tok_hash(t: str) -> int:
        v = cache.get(t)
        if v is None:
            v = cache[t] = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        return v

    for batch in batches:
        shs, keys_col = [], []
        for text in batch.column("text").to_pylist():
            toks = sorted(set(token_re.findall((text or "").lower())))
            shs.append(toks)
            if not toks:
                keys_col.append([])
                continue
            hs = np.array([tok_hash(t) for t in toks], dtype=np.uint64)
            sig = (hs[:, None] * A[None, :] + B[None, :]).min(axis=0)
            keys_col.append(
                [
                    int(
                        hashlib.md5(
                            "|".join(
                                str(int(v))
                                for v in sig[b * BAND_SIZE:(b + 1) * BAND_SIZE]
                            ).encode()
                        ).hexdigest()[:15],
                        16,
                    )
                    for b in range(N_BANDS)
                ]
            )
        yield {"doc_id": batch.column("doc_id"), "sh": shs, "keys": keys_col}


#: first agreeing band as a flat CASE chain over direct array indexing
#: (GetArrayItem compiles in whole-stage codegen, see ``_band_pairs``)
_FIRST_BAND = "CASE " + " ".join(
    f"WHEN a.keys[{i}] = b.keys[{i}] THEN {i}" for i in range(N_BANDS)
) + " END"


def _minhash_rep_pairs(docs: DataFrame):
    """Shared collapse-then-verify front end of the MinHash-LSH plan
    over ``docs`` (``doc_id``, ``text``; right-sized for the kernel):
    returns ``(groups, n_groups, verified)`` where ``groups`` is the
    checkpointed one-row-per-distinct-shingle-set table and ``verified``
    the rep-level near-dup pairs (ga < gb, jaccard >= threshold).
    ``dedup_minhash_lsh`` expands these to member pairs;
    ``dedup_components`` clusters them — both at REP level, so the
    quadratic member cliques of template corpora never enter a join.

    Plan: (1) signature kernel (numpy, map_batches); (2) COLLAPSE to
    one representative per distinct shingle set; (3) band equi-join at
    REP level with slim payload (ids + 25 int64 keys); (4) pair dedup
    WITHOUT a shuffle — keep a pair only in its first agreeing band;
    (5) verify once per rep pair (shingles joined back; rep table tiny
    after collapse so AQE picks a broadcast join at bench scale — at
    10^12 docs it degrades gracefully to a shuffled join on gid)."""
    sigs = map_batches(
        right_size(docs.select("doc_id", "text")), _minhash_batches, _MH_SCHEMA
    )
    # a fixed-width exchange on the group key (it serves the aggregate
    # too): the checkpoint of a plain groupBy keeps AQE's coalesced
    # read, one partition for a small table, and every branch below
    # would then run on one core (3x the sf0.1 wall on 4 cores)
    n_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    groups = (
        sigs.filter(F.size("sh") > 0)
        .withColumn("fp", F.expr("md5(concat_ws(' ', sh))"))
        .repartition(n_parts, "fp")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("gid"),
            F.collect_list("doc_id").alias("members"),
            F.first("sh").alias("sh"),
            F.first("keys").alias("keys"),
        )
        # the groups table feeds SEVEN plan branches (both join sides,
        # two shingle back-joins, two member expansions, intra pairs);
        # without materializing it each branch recomputes the signature
        # kernel + groupBy (column pruning defeats Spark's ReuseExchange
        # because each branch prunes a different column set).  The
        # table is compact (one row per distinct shingle set).
    )
    # one eager checkpoint job materializes the table AND observes the
    # rep count that gates the broadcast hints below (no second action)
    obs = Observation()
    groups = groups.observe(
        obs, F.count(F.lit(1)).alias("n")
    ).localCheckpoint()
    n_groups = obs.get["n"]
    cand = _band_pairs(
        groups.select("gid", "keys"), "gid", "keys", _FIRST_BAND
    ).select(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"))
    # the rep tables are compact after collapse -> broadcast to the
    # candidate stream (no shuffle of the multi-million-pair side)
    # while the measured rep count stays under the heavy cap
    verified = _jaccard_pairs(
        _join_ends(cand, groups.select("gid", "sh"), n_groups,
                   BROADCAST_HEAVY_ROW_LIMIT, ("ga", "sha"), ("gb", "shb")),
        "ga", "gb",
    )
    return groups, n_groups, verified


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: the shared collapse-then-verify rep
    pipeline (see _minhash_rep_pairs), then EXPAND verified rep pairs
    to member pairs and emit intra-group pairs (identical shingle
    sets) directly with jaccard 1.0 — no verification needed.  On
    template-heavy web corpora the collapse removes the quadratic
    candidate cliques the duplicates would otherwise form (sf0.1:
    62.6M -> 23.3M join rows).  Output is identical to the direct
    banded plan (candidacy is a function of the signature, which is a
    function of the shingle set), so the oracle does not model the
    collapse."""
    groups, n_groups, verified = _minhash_rep_pairs(
        load(spark, sf_dir, "documents")
    )
    return _member_pairs(groups, n_groups, verified, "jaccard", F.lit(1.0))


def _minhash_sql() -> str:
    a_lit = "[" + ",".join(str(v) for v in _A) + "]::HUGEINT[]"
    b_lit = "[" + ",".join(str(v) for v in _B) + "]::HUGEINT[]"
    band_key = (
        "('0x' || substr(md5("
        + " || '|' || ".join(
            f"m[{BAND_SIZE} * b + {j + 1}]::VARCHAR" for j in range(BAND_SIZE)
        )
        + "), 1, 15))::UBIGINT::BIGINT"
    )
    return f"""
WITH consts AS (SELECT {a_lit} AS ca, {b_lit} AS cb),
t AS (
  SELECT doc_id, list_sort(list_distinct({TOKENS_SQL})) AS sh FROM documents
),
h AS (
  SELECT doc_id, sh,
         list_transform(sh, tok ->
           ('0x' || substr(md5(tok), 1, 15))::UBIGINT::HUGEINT) AS hs
  FROM t
),
sig AS (
  SELECT doc_id, sh,
         list_transform(generate_series(1, {NUM_HASHES}), i ->
           list_min(list_transform(hs, x ->
             (ca[i] * x + cb[i]) % {MOD64}::HUGEINT))) AS m
  FROM h, consts
),
bk AS (
  SELECT doc_id, sh,
         list_transform(generate_series(0, {N_BANDS - 1}), b ->
           {band_key}) AS keys
  FROM sig
),
bands AS (
  SELECT doc_id, sh, keys, g.band, keys[g.band + 1] AS key
  FROM bk, generate_series(0, {N_BANDS - 1}) g(band)
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sha, b.sh AS shb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  WHERE list_position(list_transform(generate_series(1, {N_BANDS}),
          i -> a.keys[i] = b.keys[i]), true) - 1 = a.band
),
verified AS (
  SELECT doc_a, doc_b,
         round(CAST(len(list_intersect(sha, shb)) AS DOUBLE)
               / (len(sha) + len(shb) - len(list_intersect(sha, shb))),
               6) AS jaccard
  FROM cand
)
SELECT doc_a, doc_b, jaccard FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


DEDUP_MINHASH_SQL = _minhash_sql()

# ---------------------------------------------------------------------------
# brute-force Jaccard (ground truth at small scale)
# ---------------------------------------------------------------------------


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): sorted distinct unigram shingle set per doc."""
    return with_tokens(load(spark, sf_dir, "documents", parallelize=True)).select(
        "doc_id",
        F.array_sort(F.array_distinct("tokens")).alias("sh"),
    )


def dedup_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUND-TRUTH VALIDATOR: intentional O(n^2) crossJoin, used by
    tests to measure LSH recall.  Never run at scale."""
    docs = _shingled(spark, sf_dir)
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    return _jaccard_pairs(
        a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b")),
        "doc_a", "doc_b",
    )


DEDUP_JACCARD_SQL = f"""
WITH t AS (
  SELECT doc_id, list_sort(list_distinct({TOKENS_SQL})) AS sh FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
             6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
      >= {JACCARD_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# SimHash (60-bit, from md5 of tokens with multiplicity)
# ---------------------------------------------------------------------------

# Spec: bit b (0..59) of a token's hash = bit b of the integer value
# of the first 15 md5 hex chars (equivalently: bit (b % 4) of the hex
# digit at 1-based position (15 - b div 4)).  simhash bit b is set iff
# the multiset-weighted ±1 vote over tokens is positive.
#
# Implemented as an Arrow-batched ``map_batches`` kernel (a "custom
# sketch" operator): Catalyst higher-order functions are interpreted
# per lambda step (~60 bits x n_tokens tree-walks per row), while the
# numpy bit-unpack below is two vectorized ops per document.  The
# DuckDB oracle implements the identical hex-digit spec in SQL.

_SIMHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("simhash", LongType())]
)


def _simhash_batches_fn(n_bits: int):
    """Arrow-batch kernel factory: n_bits of md5-derived simhash per
    document.  60 is the oracle spec; 64 is the production width
    (Manku WWW'07 fingerprints) — a 64-bit value with bit 63 set wraps
    to a negative LongType, which is fine: the block join and
    XOR-popcount verify are two's-complement-safe."""
    n_hex = n_bits // 4

    def batches(iterator):
        import hashlib
        import re

        import numpy as np

        token_re = re.compile(r"[a-z0-9]+")
        bits = np.arange(n_bits, dtype=np.uint64)

        def one(text: str) -> int:
            toks = token_re.findall((text or "").lower())
            if not toks:
                return 0
            hs = np.array(
                [int(hashlib.md5(t.encode()).hexdigest()[:n_hex], 16)
                 for t in toks],
                dtype=np.uint64,
            )
            votes = ((hs[:, None] >> bits) & 1).astype(np.int32)
            score = (2 * votes - 1).sum(axis=0)
            v = int(((score > 0).astype(np.uint64) << bits).sum())
            return v - MOD64 if v >= (1 << 63) else v

        for batch in iterator:
            yield {
                "doc_id": batch.column("doc_id"),
                "simhash": [one(t) for t in batch.column("text").to_pylist()],
            }

    return batches


def simhash_table(docs: DataFrame, n_bits: int = 64) -> DataFrame:
    """Production entry point: ``(doc_id, text)`` -> ``(doc_id,
    simhash)`` at the requested width (default: the 64-bit Manku
    fingerprint that pairs with simhash_pairs' production block
    decomposition)."""
    return map_batches(
        docs.select("doc_id", "text"), _simhash_batches_fn(n_bits),
        _SIMHASH_SCHEMA,
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents", parallelize=True)
    return simhash_table(docs, 60)


DEDUP_SIMHASH_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_transform({TOKENS_SQL}, t -> substr(md5(t), 1, 15)) AS hxs
  FROM documents
)
SELECT doc_id,
       CAST(list_sum(list_transform(generate_series(0, 59), b ->
         CASE WHEN list_sum(list_transform(hxs, h ->
                2 * (((strpos('0123456789abcdef',
                              substr(h, 15 - b // 4, 1)) - 1)
                      >> (b % 4)) & 1) - 1)) > 0
              THEN (1::BIGINT << b) ELSE 0::BIGINT END))
       AS BIGINT) AS simhash
FROM t
"""

# Pigeonhole blocks for Hamming <= 12 over 60 bits: 13 disjoint blocks
# (8 x 5 bits + 5 x 4 bits); any pair within distance 12 differs in at
# most 12 blocks, so at least one block is IDENTICAL -> equi-join on
# (block_id, block_value) finds every true pair (recall is exactly
# 1.0, so the brute-force oracle below remains byte-identical).  This
# is the Manku/WWW'07 table decomposition, PARAMETERIZED (round 4):
# the reusable operator defaults to the production shape — 64-bit
# simhash, 4 x 16-bit blocks, d <= 3 — where each (block, value)
# bucket holds ~n/2^16 reps instead of the demo's ~n/2^4..2^5, i.e.
# ~2^11 fewer candidates per bucket: the difference between a linear
# and a quadratic candidate join at 10^12 documents.  The 60-bit
# 13-block demo shape remains the oracle config (DuckDB replays the
# 60-bit hash spec exactly).

#: production decomposition (Manku et al., WWW'07 "Detecting
#: Near-Duplicates for Web Crawling": f = 64-bit fingerprints, k = 3)
PROD_BLOCK_WIDTHS = (16, 16, 16, 16)
PROD_HAMMING_THRESHOLD = 3

#: demo/oracle decomposition over the 60-bit hash spec
DEMO_BLOCK_WIDTHS = (5,) * 8 + (4,) * 5
DEMO_HAMMING_THRESHOLD = HAMMING_THRESHOLD  # 12


def _block_exprs(widths) -> tuple[str, str]:
    """(blocks_expr, first_block_xor_expr) for a block decomposition.

    shiftrightunsigned keeps bit-63 blocks correct when a 64-bit
    simhash lands in the sign bit of the LongType column."""
    offs = [sum(widths[:i]) for i in range(len(widths))]
    blocks = "array(" + ",".join(
        f"CAST((shiftrightunsigned(simhash, {o}) & {(1 << w) - 1})"
        " AS BIGINT)"
        for o, w in zip(offs, widths)
    ) + ")"
    # first agreeing block, computed directly from xor(ha, hb) — a
    # flat CASE chain of integer masks that whole-stage-codegen
    # compiles, instead of an interpreted zip_with over block arrays
    first = "CASE " + " ".join(
        f"WHEN ((a.simhash ^ b.simhash) & {_signed64(((1 << w) - 1) << o)})"
        f" = 0 THEN {i}"
        for i, (o, w) in enumerate(zip(offs, widths))
    ) + " END"
    return blocks, first


def _signed64(v: int) -> int:
    """Two's-complement literal for a 64-bit mask (the top 16-bit
    block's mask has bit 63 set, which overflows a BIGINT literal)."""
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash_pairs(
    s: DataFrame,
    widths=PROD_BLOCK_WIDTHS,
    hamming_threshold: int = PROD_HAMMING_THRESHOLD,
) -> DataFrame:
    """Hamming-<=d pairs over a ``(doc_id, simhash)`` frame via
    pigeonhole block equi-join, with the same collapse-then-expand
    shape as dedup_minhash_lsh: docs sharing an identical simhash form
    a group (intra pairs have hamming 0 by definition), one rep per
    distinct simhash enters the block join, and verified rep pairs
    expand back to member pairs.  Join rows carry only (gid, simhash);
    pair dedup and the hamming verify are pure int ops on xor(ha, hb)
    inside codegen.

    Pigeonhole validity requires len(widths) > hamming_threshold: a
    pair at distance d differs in at most d blocks, so at least one of
    the k > d blocks is identical — recall is exactly 1.0."""
    if len(widths) <= hamming_threshold:
        raise ValueError(
            f"pigeonhole needs more blocks ({len(widths)}) than the "
            f"hamming threshold ({hamming_threshold})"
        )
    blocks_expr, first_block_xor = _block_exprs(widths)
    groups = (
        s.groupBy("simhash")
        .agg(
            F.min("doc_id").alias("gid"),
            F.collect_list("doc_id").alias("members"),
        )
    )
    # one row per distinct simhash; feeds 5 branches.  count()
    # materializes the cache and gates the broadcast hints below.
    groups = persist_tracked(groups)
    n_groups = groups.count()
    rep_pairs = (
        _band_pairs(groups.select("gid", "simhash"), "gid",
                    F.expr(blocks_expr), first_block_xor)
        .select(
            F.col("a.gid").alias("ga"),
            F.col("b.gid").alias("gb"),
            F.expr(
                "CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)"
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_threshold)
    )
    return _member_pairs(groups, n_groups, rep_pairs, "hamming",
                         F.lit(0).cast("bigint"))


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the 60-bit demo decomposition over the oracle
    hash spec (the production shape is simhash_pairs' default — see
    PROD_BLOCK_WIDTHS)."""
    return simhash_pairs(
        dedup_simhash(spark, sf_dir),
        widths=DEMO_BLOCK_WIDTHS,
        hamming_threshold=DEMO_HAMMING_THRESHOLD,
    )


# the pigeonhole join is EXACT, so the oracle stays the brute-force
# definition — identical output set by construction
DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH s AS ({DEDUP_SIMHASH_SQL})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# embedding-cosine near-dup via banded sign-LSH
# ---------------------------------------------------------------------------

EMB_DIM = 64
EMB_BAND_SIZE = 4      # planes per band
EMB_N_BANDS = 24       # 96 planes total

#: Validity guard shared by EVERY embeddings scan (Spark + oracle): a
#: 10^12-row embedding table WILL carry NULL, wrong-dimension and
#: NULL-element and NaN/inf-element rows (failed encoder calls, schema
#: drift), and a single one must be dropped — not kill the job (numpy
#: kernels crash on ragged input, codegen indexes past the array) or
#: skew the math (a NULL element makes Spark's norms NaN or NULL, while
#: DuckDB's list_sum skips it; a NaN or inf element makes the row's
#: norm and cosines NaN, on which the two engines' results differ).
#: Both engines filter with the same predicate so row counts stay
#: oracle-true.
EMB_VALID_SQL = (
    f"embedding IS NOT NULL AND len(embedding) = {EMB_DIM}"
    " AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0"
)
_EMB_VALID_EXPR = (
    f"embedding IS NOT NULL AND size(embedding) = {EMB_DIM}"
    " AND size(filter(embedding, x -> x IS NULL OR isnan(x)"
    " OR abs(x) = double('Infinity'))) = 0"
)


def load_valid_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, v array<double>)``: every embedding row that passes
    the validity guard, its float elements widened to double (the
    element type both engines compute in)."""
    return (
        load(spark, sf_dir, "embeddings", parallelize=True)
        .filter(F.expr(_EMB_VALID_EXPR))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )


def _emb_planes() -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign from md5('emb:{p}:{d}')
    nibble, inlined as literals in both engines."""
    return [
        [
            1
            if int(hashlib.md5(f"emb:{p}:{d}".encode()).hexdigest()[0], 16) < 8
            else -1
            for d in range(EMB_DIM)
        ]
        for p in range(EMB_BAND_SIZE * EMB_N_BANDS)
    ]


_EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("v", ArrayType(DoubleType())),
        StructField("keys", ArrayType(IntegerType())),
        # 24 4-bit band keys packed into two int64 (12 nibbles each):
        # lets the first-agreeing-band pair-dedup filter run as flat
        # integer CASE logic inside codegen instead of an interpreted
        # zip_with over the keys arrays
        StructField("k1", LongType()),
        StructField("k2", LongType()),
        # left-fold L2 norm computed in the same numpy pass — saves an
        # interpreted sqrt(aggregate(...)) fold per row per join side
        StructField("norm", DoubleType()),
    ]
)


def _emb_band_batches(iterator):
    """Sign-LSH band keys: 96 ±1 projections per vector (one numpy
    product per row-chunk), left-fold (cumsum) accumulation so the
    projection sign matches DuckDB's sequential list_sum exactly.
    ``v`` is read as an (n, EMB_DIM) view of the list values (the
    validity guard has dropped NULL elements) and passes through as the
    input column."""
    import numpy as np

    W = np.array(_emb_planes(), dtype=np.float64)  # (96, 64)
    shifts = np.arange(EMB_BAND_SIZE, dtype=np.int64)
    nibbles = 4 * np.arange(12, dtype=np.int64)
    CH = 256

    for batch in iterator:
        v = batch.column("v")
        vs = v.flatten().to_numpy(zero_copy_only=False)
        vs = vs.reshape(len(v), EMB_DIM)
        ks = np.empty((len(vs), EMB_N_BANDS), dtype=np.int64)
        for lo in range(0, len(vs), CH):
            chunk = vs[lo:lo + CH]                     # (c, 64)
            prods = chunk[:, None, :] * W[None, :, :]  # (c, 96, 64)
            proj = prods.cumsum(axis=2)[:, :, -1]      # left fold
            bits = (proj > 0).astype(np.int64)         # (c, 96)
            grouped = bits.reshape(len(chunk), EMB_N_BANDS, EMB_BAND_SIZE)
            ks[lo:lo + CH] = (grouped << shifts[None, None, :]).sum(axis=2)
        yield {
            "vec_id": batch.column("vec_id"),
            "v": v,
            "keys": ks.tolist(),
            "k1": (ks[:, :12] << nibbles).sum(axis=1),
            "k2": (ks[:, 12:] << nibbles).sum(axis=1),
            # cumsum = the left fold the DuckDB oracle's sequential
            # list_sum performs — bit-identical accumulation order
            "norm": np.sqrt((vs * vs).cumsum(axis=1)[:, -1]),
        }


def banded_embeddings(spark: SparkSession,
                      sf_dir: str) -> tuple[DataFrame, int]:
    """The valid embeddings with their band keys, packed keys and norm
    (``_EMB_SCHEMA``), persisted, and their count.  The banded table
    feeds several plan branches of each caller (both join sides and
    the vector back-joins), so it is materialized once; the count
    gates the callers' broadcast hints."""
    banded = persist_tracked(map_batches(
        load_valid_embeddings(spark, sf_dir), _emb_band_batches, _EMB_SCHEMA
    ))
    return banded, banded.count()


def cos_expr(a: str, b: str, na: str, nb: str) -> str:
    """Spark SQL: cosine of the vector columns ``a``/``b`` with norms
    ``na``/``nb``, rounded to 6 (scores rank and compare rounded, so
    ordering is stable across engines).  A sequential left fold, the
    order the DuckDB oracles replay.  Zero-norm guard: ANSI mode raises
    on /0, and a non-ANSI 0/0 is NaN, which compares >= any threshold
    in Spark's ordering (silent wrong drops) while DuckDB gives NULL;
    the CASE makes both engines yield NULL, which every filter rejects.

    Three verify forms were measured at sf0.1 (1.5M candidate pairs x
    64 dims): (a) this interpreted zip_with/aggregate lambda, 9.4 s;
    (b) a numpy Arrow-batch dot kernel, 23 s (the Arrow round-trip of
    both vector payloads dominates); (c) a flat 64-term GetArrayItem
    sum, 27 s (the ~250-node tree exceeds the codegen method budget and
    falls back to interpreted eval)."""
    return (
        f"CASE WHEN {na} * {nb} > 0 THEN"
        f" round(aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D,"
        f" (acc, x) -> acc + x) / ({na} * {nb}), 6) END"
    )


#: cosine of a scored pair: query/left vector ``qv`` against ``nv``
_COS = cos_expr("qv", "nv", "qnorm", "nnorm")
#: left-fold L2 norm of the vector column ``v`` (the fold the oracles'
#: sequential list_sum replays)
NORM_FOLD = "sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))"


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs ``(vec_a, vec_b, cos_sim)`` at cosine
    >= ``COSINE_THRESHOLD``: sign-LSH band join, then an exact verify.

    Measured at sf0.01 vs the brute-force ground truth: recall 0.967 at
    threshold 0.3.  NOTE: cos 0.3 is only ~0.10 above random in
    plane-agreement probability (0.60 vs 0.50), so ANY sign-LSH prunes
    weakly at this threshold; at production near-dup thresholds
    (cos >= 0.8-0.9, agreement 0.80-0.90) the identical plan prunes
    candidates by orders of magnitude."""
    banded, n_vecs = banded_embeddings(spark, sf_dir)
    # slim band rows: ids + 24 int keys only — the 64-double vectors do
    # NOT ride the candidate join; first agreeing band from the packed
    # nibbles k1/k2 as flat integer CASE logic
    first_band_xor = "CASE " + " ".join(
        f"WHEN ((a.k1 ^ b.k1) & {0xF << (4 * b)}) = 0 THEN {b}"
        for b in range(12)
    ) + " " + " ".join(
        f"WHEN ((a.k2 ^ b.k2) & {0xF << (4 * (b - 12))}) = 0 THEN {b}"
        for b in range(12, EMB_N_BANDS)
    ) + " END"
    cand = _band_pairs(
        banded.select("vec_id", "keys", "k1", "k2"), "vec_id", "keys",
        first_band_xor,
    ).select(
        F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
    )
    # the vectors are broadcast onto the candidate pairs while they fit
    # (sort-merge here shuffles every candidate row WITH both 64-double
    # payloads — measured 3x the whole query's cost at sf0.1)
    return (
        _join_ends(cand, banded.select("vec_id", "v", "norm"), n_vecs,
                   BROADCAST_HEAVY_ROW_LIMIT, ("vec_a", "qv", "qnorm"),
                   ("vec_b", "nv", "nnorm"))
        .withColumn("cos_sim", F.expr(_COS))
        .filter(F.col("cos_sim") >= COSINE_THRESHOLD)
        .select("vec_a", "vec_b", "cos_sim")
    )


def dot_sql(a: str, b: str) -> str:
    """DuckDB: the sequential dot product of two ``EMB_DIM`` lists."""
    return (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        f" i -> {a}[i] * {b}[i]))"
    )


#: DuckDB CTE ``e(vec_id, v, norm)``: the valid vectors as DOUBLE[]
#: with their sequential norm
EMB_VECS_SQL = f"""e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
           AS norm
  FROM embeddings
  WHERE {EMB_VALID_SQL}
)"""

_EMB_PLANES_VALUES = ",".join(
    "(" + str(p) + ", [" + ",".join(str(w) for w in row) + "])"
    for p, row in enumerate(_emb_planes())
)

#: DuckDB CTEs ``w`` (the planes), ``e`` and ``proj(vec_id, band,
#: key)``: each valid vector's sign-LSH band keys
EMB_BAND_CTES = f"""w(p, wts) AS (VALUES {_EMB_PLANES_VALUES}),
{EMB_VECS_SQL},
proj AS (
  SELECT e.vec_id, p // {EMB_BAND_SIZE} AS band,
         CAST(sum(CASE WHEN {dot_sql('v', 'wts')} > 0
                       THEN (1 << (p % {EMB_BAND_SIZE})) ELSE 0 END)
              AS INT) AS key
  FROM e, w GROUP BY e.vec_id, p // {EMB_BAND_SIZE}
)"""

DEDUP_EMBEDDING_SQL = f"""
WITH {EMB_BAND_CTES},
k AS (
  SELECT vec_id, list(key ORDER BY band) AS keys FROM proj GROUP BY vec_id
),
bands AS (
  SELECT e.vec_id, e.v, e.norm, k.keys, g.band, k.keys[g.band + 1] AS key
  FROM e JOIN k USING (vec_id), generate_series(0, {EMB_N_BANDS - 1}) g(band)
),
cand AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         round({dot_sql('x.v', 'y.v')} / (x.norm * y.norm), 6) AS cos_sim
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
  WHERE list_position(list_transform(generate_series(1, {EMB_N_BANDS}),
          i -> x.keys[i] = y.keys[i]), true) - 1 = x.band
)
SELECT vec_a, vec_b, cos_sim FROM cand
WHERE cos_sim >= {COSINE_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# exact substring-chunk dedup (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better": remove repeated token spans
# corpus-wide, keeping the first occurrence).  Suffix-array span
# matching is approximated by non-overlapping CHUNK_K-token chunks —
# the SlimPajama / Dolma production simplification of the same idea.
# ---------------------------------------------------------------------------

CHUNK_K = 5

#: non-overlapping CHUNK_K-token chunks, joined to a single string key
#: (let_expr-bound: see common.let_expr for the O(n^2) inlining hazard)
_CHUNKS_EXPR = let_expr(
    "tokens", "ts",
    f"CASE WHEN size(ts) >= {CHUNK_K} THEN"
    f" transform(sequence(0, cast(floor(size(ts) / {CHUNK_K}) as int) - 1),"
    f" i -> array_join(slice(ts, i * {CHUNK_K} + 1, {CHUNK_K}), ' '))"
    " ELSE array() END",
)


def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-chunk statistics under a keep-first
    policy: an occurrence of a chunk survives only in the document
    with the minimal ``(doc_id, position)`` corpus-wide.

    Scale shape: explode to one slim row per chunk occurrence
    (doc_id, position, ~40-byte chunk string), ONE shuffle on the
    chunk key for both window functions (count + row_number share the
    partitioning), then a groupBy shuffle on doc_id.  Chunk groups
    are duplicate-cluster-sized (tiny), so no skew; no broadcast of
    anything corpus-sized.  At 10^12 docs this is the same topology
    as production chunk-dedup: a distributed sort/group on the chunk
    hash."""
    from pyspark.sql import Window

    docs = with_tokens(load(spark, sf_dir, "documents", parallelize=True))
    occ = docs.select(
        "doc_id", F.posexplode(F.expr(_CHUNKS_EXPR)).alias("i", "chunk")
    )
    w_cnt = Window.partitionBy("chunk")
    w_rn = Window.partitionBy("chunk").orderBy("doc_id", "i")
    stats = occ.select(
        "doc_id",
        F.count("*").over(w_cnt).alias("cnt"),
        F.row_number().over(w_rn).alias("rn"),
    )
    per_doc = stats.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
        .cast("bigint").alias("n_dup_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_kept_chunks"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("bigint").alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0))
            .cast("bigint").alias("n_dup_chunks"),
            F.when(
                F.coalesce("n_chunks", F.lit(0)) > 0,
                F.round(
                    F.col("n_dup_chunks").cast("double") / F.col("n_chunks"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("dup_chunk_frac"),
            F.coalesce("n_kept_chunks", F.lit(0))
            .cast("bigint").alias("n_kept_chunks"),
        )
    )


DEDUP_CHUNK_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents
), occ AS (
  SELECT doc_id, i,
         list_reduce(tokens[(i * {CHUNK_K} + 1):(i * {CHUNK_K} + {CHUNK_K})],
                     (a, b) -> a || ' ' || b) AS chunk
  FROM t, unnest(range(CAST(floor(len(tokens) / {CHUNK_K}) AS BIGINT))) AS u(i)
), s AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY chunk) AS cnt,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, i) AS rn
  FROM occ
), per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks,
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept_chunks
  FROM s GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(n_chunks, 0) AS n_chunks,
       coalesce(n_dup_chunks, 0) AS n_dup_chunks,
       CASE WHEN coalesce(n_chunks, 0) > 0
            THEN round(CAST(n_dup_chunks AS DOUBLE) / n_chunks, 6)
            ELSE 0.0 END AS dup_chunk_frac,
       coalesce(n_kept_chunks, 0) AS n_kept_chunks
FROM t LEFT JOIN per_doc USING (doc_id)
"""


def dedup_chunk_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk-dedup TRANSFORM (not just stats): emit each document's
    text rebuilt from only its surviving chunks (keep-first corpus-wide,
    same policy as dedup_chunk_exact) — what a training-data pipeline
    actually writes back out.

    Scale shape: same slim chunk-occurrence shuffle as
    dedup_chunk_exact, then order-preserving reconstruction WITHOUT a
    sort-within-groups shuffle: collect_list(struct(i, chunk)) per doc
    and array_sort locally — per-document state only, so group size is
    bounded by document length, never corpus size."""
    from pyspark.sql import Window

    docs = with_tokens(load(spark, sf_dir, "documents", parallelize=True))
    occ = docs.select(
        "doc_id", F.posexplode(F.expr(_CHUNKS_EXPR)).alias("i", "chunk")
    )
    w_rn = Window.partitionBy("chunk").orderBy("doc_id", "i")
    kept = (
        occ.withColumn("rn", F.row_number().over(w_rn))
        .filter(F.col("rn") == 1)
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(i, chunk))),"
                   " s -> s.chunk)"),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("bigint").alias("n_kept_chunks"),
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept_chunks", F.lit(0))
            .cast("bigint").alias("n_kept_chunks"),
        )
    )


DEDUP_CHUNK_REWRITE_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents
), occ AS (
  SELECT doc_id, i,
         list_reduce(tokens[(i * {CHUNK_K} + 1):(i * {CHUNK_K} + {CHUNK_K})],
                     (a, b) -> a || ' ' || b) AS chunk
  FROM t, unnest(range(CAST(floor(len(tokens) / {CHUNK_K}) AS BIGINT))) AS u(i)
), s AS (
  SELECT doc_id, i, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, i) AS rn
  FROM occ
), r AS (
  SELECT doc_id, string_agg(chunk, ' ' ORDER BY i) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept_chunks
  FROM s WHERE rn = 1 GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       coalesce(r.n_kept_chunks, 0) AS n_kept_chunks
FROM documents d LEFT JOIN r USING (doc_id)
"""

# ---------------------------------------------------------------------------
# connected components over the near-dup graph (cluster dedup)
# ---------------------------------------------------------------------------

CC_MAX_ROUNDS = 50


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """Large-star step (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node links its LARGER neighbors to
    the minimum of its closed neighborhood.  One groupBy + one join on
    the edge set — at cluster scale both shuffle on the node id."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """Small-star step: orient edges large->small; every node links
    its smaller neighbors (and itself) to their minimum."""
    dir_ = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = dir_.groupBy("u").agg(F.min("v").alias("m"))
    relinked = (
        dir_.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_link = mins.select("u", F.col("m").alias("v"))
    return relinked.unionByName(self_link).distinct()


def _cc_converge(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """Alternate large-star/small-star until the edge set is stable
    (O(log n) rounds).  Each round materializes via localCheckpoint —
    truncating the logical plan is what keeps an iterative DataFrame
    algorithm analyzable (and, on a cluster, keeps lineage recovery
    bounded).  Convergence is checked with an order-independent
    (count, bit_xor(xxhash64)) checksum observed on the checkpoint job
    itself: one action per round, no exceptAll shuffle, and bit_xor
    cannot overflow under ANSI."""
    def checkpoint(df):
        obs = Observation()
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("x"),
        ).localCheckpoint()
        return df, (obs.get["n"], obs.get["x"])

    # materialize the input once: round 0 symmetrizes via a 2-branch
    # union, which would otherwise evaluate the (expensive, unpersisted)
    # upstream pair pipeline twice.  Its checksum seeds the fixpoint
    # test, so an input that is already a star labeling (the empty
    # edge set among them) is done after one round, or none.
    edges, prev = checkpoint(edges)
    rounds = max_edges = 0
    while prev[0]:
        if rounds == CC_MAX_ROUNDS:
            raise RuntimeError(f"connected components: no fixpoint in "
                               f"{CC_MAX_ROUNDS} rounds")
        edges, sig = checkpoint(_cc_small_star(_cc_large_star(edges)))
        rounds += 1
        max_edges = max(max_edges, sig[0])
        if sig == prev:
            break
        prev = sig
    if stats is not None:
        stats["rounds"] = rounds
        stats["max_edges"] = max_edges
    return edges


def near_dup_components(docs: DataFrame) -> DataFrame:
    """``docs`` (``doc_id``, ``text``, ...) plus ``component_id`` and
    ``keep_flag``: near-duplicate CLUSTER dedup, connected components
    over the verified MinHash-LSH pair graph, keep-min per component — the
    step a web-scale pipeline runs after LSH so that a chain
    A~B, B~C drops both B and C even when A~C itself is below
    threshold.  Components via the alternating star algorithm (no
    driver-side graph, no collect; every step is an equi-join/groupBy
    on node id, so the plan scales exactly like the LSH join).  At
    convergence the edge set IS the star labeling (node -> component
    min).

    Clustering runs at REP level (one node per distinct shingle set):
    a member's component is its rep's star label, because gid is
    already the min doc_id of its group, so min-gid over a rep
    component equals min-doc_id over the expanded cluster.  Member
    pairs never form edges — the template cliques that dominate web
    corpora cost nothing here (measured 42.7s -> ~12s at sf0.1).
    Reference parity: the reference engine has no dedup operators —
    training-data-pipeline extension per the build brief."""
    groups, _, verified = _minhash_rep_pairs(docs)
    edges = verified.select(F.col("ga").alias("u"), F.col("gb").alias("v"))
    stars = _cc_converge(edges)
    labels = stars.select(F.col("u").alias("gid"), F.col("v").alias("cid"))
    members = (
        groups.select("gid", F.explode("members").alias("doc_id"))
        .join(labels, "gid", "left")
        .select("doc_id", F.coalesce("cid", "gid").alias("cid"))
    )
    return docs.join(members, "doc_id", "left").select(
        *docs.columns,
        F.coalesce("cid", "doc_id").alias("component_id"),
        (F.coalesce("cid", "doc_id") == F.col("doc_id"))
        .cast("int").alias("keep_flag"),
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document near-duplicate cluster and keep flag (see
    ``near_dup_components``)."""
    docs = load(spark, sf_dir, "documents")
    return near_dup_components(docs.select("doc_id", "text")).select(
        "doc_id", "component_id", "keep_flag"
    )


#: min-label reachability fixpoint — the oracle-side definition of
#: "component id = min doc_id reachable in the undirected pair graph".
#: MATERIALIZED: DuckDB inlines multiply-referenced CTEs by default,
#: which re-runs the whole MinHash pipeline per reference (6x cost
#: measured).  The recursion seeds ONE label per node (its closed-
#:  neighborhood min) and only propagates labels smaller than the
#: receiving node — the component min is smaller than every member,
#: so it always survives the pruning, while the label fan-out that
#: made the naive all-pairs reach quadratic per clique is cut.
_COMPONENTS_CTES = f"""
WITH RECURSIVE
pairs AS MATERIALIZED ({DEDUP_MINHASH_SQL}),
sym AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT u AS node, least(u, min(v)) AS label FROM sym GROUP BY u
  UNION
  SELECT s.v AS node, r.label FROM reach r JOIN sym s ON s.u = r.node
  WHERE r.label < s.v
),
comp AS (SELECT node, min(label) AS component_id FROM reach GROUP BY node)
"""

DEDUP_COMPONENTS_SQL = f"""{_COMPONENTS_CTES}
SELECT d.doc_id,
       coalesce(c.component_id, d.doc_id) AS component_id,
       CAST(CASE WHEN coalesce(c.component_id, d.doc_id) = d.doc_id
            THEN 1 ELSE 0 END AS INT) AS keep_flag
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


def dedup_canonical_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: within every near-duplicate
    cluster, keep the HIGHEST-QUALITY member instead of the arbitrary
    min-id one — the policy step real curation runs after clustering
    (near-dup web pages differ by truncation, boilerplate residue,
    pagination; keeping the longest/cleanest copy beats keeping the
    first).  Quality here is the deterministic (n_chars, -doc_id)
    order (longest wins, stable tie-break); production swaps in any
    per-doc score (ml_quality_score, lm_perplexity) without changing
    the plan.

    Scale shape: reuses dedup_components' cluster labels, joins the
    slim (doc_id, n_chars) quality table, then ONE window over
    component_id — per-group state is the cluster size, and LSH
    clusters are capped by construction (a cluster is a set of
    verified near-dups, not a hash bucket), so no skew pass is
    needed; the keep-everything singleton majority flows through the
    same window untouched."""
    from pyspark.sql import Window

    comp = dedup_components(spark, sf_dir).select("doc_id", "component_id")
    docs = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", "CAST(coalesce(n_chars, -1) AS BIGINT) AS quality"
    )
    w = (
        Window.partitionBy("component_id")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
    )
    ranked = comp.join(docs, "doc_id").select(
        "doc_id", "component_id", "quality",
        F.row_number().over(w).alias("rn"),
        F.first("doc_id").over(w).alias("canonical_doc_id"),
    )
    return ranked.select(
        "doc_id", "component_id", "canonical_doc_id",
        (F.col("rn") == 1).cast("int").alias("is_canonical"),
    )


DEDUP_CANONICAL_SQL = f"""{_COMPONENTS_CTES},
labeled AS (
  SELECT d.doc_id,
         coalesce(c.component_id, d.doc_id) AS component_id,
         CAST(coalesce(d.n_chars, -1) AS BIGINT) AS quality
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
ranked AS (
  SELECT doc_id, component_id,
         row_number() OVER (PARTITION BY component_id
                            ORDER BY quality DESC, doc_id) AS rn,
         first_value(doc_id) OVER (PARTITION BY component_id
                                   ORDER BY quality DESC, doc_id)
           AS canonical_doc_id
  FROM labeled
)
SELECT doc_id, component_id, canonical_doc_id,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM ranked
"""


SUBSTR_K = 15


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): a SLIDING ``SUBSTR_K``-token window is *duplicated*
    if its exact token sequence occurs anywhere else in the corpus
    (another document OR the same one), and a document's duplicated
    span coverage is the union of its duplicated windows.  This
    catches what the aligned chunk dedup (dedup_chunk_exact) cannot:
    a copied paragraph at an arbitrary token offset.

    Scale shape (the suffix-array step of the paper re-expressed as
    joins): explode to one slim row per window start (doc_id, i,
    16-hex md5 window key — ~28 bytes/token), persist it, then
    (1) groupBy(key) count — MAP-SIDE COMBINE crushes the viral-
        boilerplate key ("click here to subscribe" x 10^8) before the
        shuffle, which is why this is a groupBy + join-back and NOT a
        count-over-window like the chunk op (window partitioning has
        no partial aggregation);
    (2) inner equi-join occurrences to the >1 keys (AQE skew-join
        splits any residual hot key);
    (3) one window over doc_id merges overlapping spans into an exact
        union size via the sorted-starts fold
        ``least(K, next_start - start)``.
    No cartesian product; every shuffle is keyed."""
    from pyspark.sql import Window

    docs = with_tokens(load(spark, sf_dir, "documents", parallelize=True))
    # greatest(size, 0): Spark size(NULL) is -1 where DuckDB len(NULL)
    # is NULL — a NULL-text crawl row must report 0 in BOTH engines
    base = persist_tracked(
        docs.select(
            "doc_id",
            F.expr("greatest(size(tokens), 0)").alias("n_tokens"),
            "tokens",
        )
    )
    occ = persist_tracked(
        base.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(tokens) >= {SUBSTR_K} THEN"
                    f" sequence(1, size(tokens) - {SUBSTR_K} + 1)"
                    " ELSE array() END"
                )
            ).alias("i"),
            "tokens",
        ).select(
            "doc_id",
            "i",
            F.expr(
                "substring(md5(array_join("
                f"slice(tokens, i, {SUBSTR_K}), ' ')), 1, 16)"
            ).alias("k"),
        )
    )
    dup_keys = occ.groupBy("k").count().filter(F.col("count") > 1).select("k")
    dup = occ.join(dup_keys, "k")
    w = Window.partitionBy("doc_id").orderBy("i")
    spans = dup.select(
        "doc_id",
        "i",
        F.least(
            F.lit(SUBSTR_K),
            F.coalesce(F.lead("i").over(w), F.col("i") + SUBSTR_K)
            - F.col("i"),
        ).alias("contrib"),
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_dup_windows"),
        F.sum("contrib").cast("bigint").alias("dup_tokens"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr(f"CAST(greatest(n_tokens - {SUBSTR_K} + 1, 0) AS BIGINT)")
            .alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0))
            .cast("bigint").alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0))
            .cast("bigint").alias("dup_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.coalesce("dup_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("dup_frac"),
        )
    )


DEDUP_SUBSTRING_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS tokens FROM documents
), occ AS (
  SELECT doc_id, i,
         substring(md5(array_to_string(tokens[i:i + {SUBSTR_K} - 1], ' ')),
                   1, 16) AS k
  FROM t, unnest(generate_series(1, len(tokens) - {SUBSTR_K} + 1)) AS u(i)
), dk AS (
  SELECT k FROM occ GROUP BY k HAVING count(*) > 1
), dup AS (
  SELECT occ.doc_id, occ.i FROM occ JOIN dk USING (k)
), sp AS (
  SELECT doc_id, i,
         least({SUBSTR_K},
               coalesce(lead(i) OVER (PARTITION BY doc_id ORDER BY i),
                        i + {SUBSTR_K}) - i) AS contrib
  FROM dup
), per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_dup_windows,
         CAST(sum(contrib) AS BIGINT) AS dup_tokens
  FROM sp GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(len(tokens), 0) AS BIGINT) AS n_tokens,
       CAST(greatest(coalesce(len(tokens), 0) - {SUBSTR_K} + 1, 0)
            AS BIGINT) AS n_windows,
       coalesce(n_dup_windows, 0) AS n_dup_windows,
       coalesce(dup_tokens, 0) AS dup_tokens,
       CASE WHEN coalesce(len(tokens), 0) > 0
            THEN round(CAST(coalesce(dup_tokens, 0) AS DOUBLE)
                       / len(tokens), 6)
            ELSE 0.0 END AS dup_frac
FROM t LEFT JOIN per_doc USING (doc_id)
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_jaccard_exact": dedup_jaccard_exact,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_embedding": dedup_embedding,
    "dedup_chunk_exact": dedup_chunk_exact,
    "dedup_chunk_rewrite": dedup_chunk_rewrite,
    "dedup_components": dedup_components,
    "dedup_canonical_select": dedup_canonical_select,
    "dedup_substring": dedup_substring,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_jaccard_exact": DEDUP_JACCARD_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_simhash_pairs": DEDUP_SIMHASH_PAIRS_SQL,
    "dedup_embedding": DEDUP_EMBEDDING_SQL,
    "dedup_chunk_exact": DEDUP_CHUNK_SQL,
    "dedup_chunk_rewrite": DEDUP_CHUNK_REWRITE_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
    "dedup_canonical_select": DEDUP_CANONICAL_SQL,
    "dedup_substring": DEDUP_SUBSTRING_SQL,
}
