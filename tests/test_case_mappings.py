"""Case mappings and the tokenizers: ``spark.sql.icu.caseMappings.enabled``
(ICU, Spark 4's default) against the JVM's own mappings.

Turning ICU off saves its start-up (~1-1.5 s on the first ``lower()`` in
a JVM), but the JVM's case tables are an older Unicode version.  Every
Unicode scalar value is embedded as ``"A{c}b {c}Z"`` and tokenized under
both settings in one session:

- ``TOKENS_EXPR`` keeps only ASCII alnum runs, and no code point changes
  them;
- ``BPE_EXPR`` passes non-ASCII characters through as tokens, so the
  code points whose ``lower()`` differs show up in its tokens.  That
  changes ``bpe_train``/``bpe_encode`` answers on text holding them,
  which is why ``build_session`` keeps ICU on.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from docwire_spark.ops.common import BPE_EXPR, TOKENS_EXPR

ICU = "spark.sql.icu.caseMappings.enabled"

#: code points whose lower() differs between ICU and the JVM (Java 17):
#: letters added or given case pairs after Unicode 13
ICU_ONLY_LOWER = (
    [0x1C89, 0x2C2F, 0xA7C0, 0xA7CB, 0xA7CC, 0xA7D0, 0xA7D6, 0xA7D8,
     0xA7DA, 0xA7DC]
    + list(range(0x10570, 0x1057B)) + list(range(0x1057C, 0x1058B))
    + list(range(0x1058C, 0x10593)) + [0x10594, 0x10595]
    + list(range(0x10D50, 0x10D66))
)


@pytest.fixture(scope="module")
def token_diffs(spark, tmp_path_factory):
    """{expression name: sorted code points whose tokens differ}."""
    d = tmp_path_factory.mktemp("case_mappings")
    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    pq.write_table(
        pa.table({"cp": cps, "text": [f"A{chr(c)}b {chr(c)}Z" for c in cps]}),
        str(d / "cps.parquet"),
    )
    src = spark.read.parquet(str(d / "cps.parquet"))
    before = spark.conf.get(ICU)
    try:
        for v in ("true", "false"):
            spark.conf.set(ICU, v)
            src.select(
                "cp",
                F.expr(TOKENS_EXPR).alias("tok"),
                F.expr(BPE_EXPR).alias("bpe"),
            ).write.parquet(str(d / v))
    finally:
        spark.conf.set(ICU, before)
    icu = spark.read.parquet(str(d / "true")).alias("i")
    jvm = spark.read.parquet(str(d / "false")).alias("j")
    both = icu.join(jvm, "cp")
    assert both.count() == len(cps)
    return {
        c: sorted(r.cp for r in both.filter(
            ~F.col(f"i.{c}").eqNullSafe(F.col(f"j.{c}"))).select("cp")
            .collect())
        for c in ("tok", "bpe")
    }


def test_tokens_expr_same_under_both_case_mappings(token_diffs):
    assert token_diffs["tok"] == []


def test_bpe_tokens_differ_only_where_lower_differs(token_diffs):
    assert token_diffs["bpe"] == ICU_ONLY_LOWER
