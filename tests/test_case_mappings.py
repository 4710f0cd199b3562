"""Case mappings and the tokenizers: ``spark.sql.icu.caseMappings.enabled``
(ICU, Spark 4's default) against the JVM's own mappings.

Turning ICU off saves its start-up (~1-1.5 s on the first ``lower()`` in
a JVM), but the JVM's case tables are an older Unicode version.  Every
Unicode scalar value is embedded in three contexts and tokenized under
both settings in one session:

- the Spark tokenizer (``common.tokens_expr``, no ``lower()``) yields
  the same tokens as ``regexp_extract_all(lower(text), '[a-z0-9]+')``
  under either setting, so it never needs ICU;
- ``BPE_EXPR`` passes non-ASCII characters through as tokens, so the
  code points whose ``lower()`` differs show up in its tokens.  That
  changes ``bpe_train``/``bpe_encode`` answers on text holding them,
  which is why ``build_session`` keeps ICU on.

A source check keeps every Spark-side ``[a-z0-9]+`` tokenizer in
``docwire_spark/ops`` off ``lower()``.
"""

from __future__ import annotations

import ast
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from docwire_spark.ops.common import BPE_EXPR, tokens_expr

ICU = "spark.sql.icu.caseMappings.enabled"
SETTINGS = ("true", "false")

#: code points whose lower() differs between ICU and the JVM (Java 17):
#: letters added or given case pairs after Unicode 13
ICU_ONLY_LOWER = (
    [0x1C89, 0x2C2F, 0xA7C0, 0xA7CB, 0xA7CC, 0xA7D0, 0xA7D6, 0xA7D8,
     0xA7DA, 0xA7DC]
    + list(range(0x10570, 0x1057B)) + list(range(0x1057C, 0x1058B))
    + list(range(0x1058C, 0x10593)) + [0x10594, 0x10595]
    + list(range(0x10D50, 0x10D66))
)

#: each code point ``c`` in three contexts: between ASCII letters, next
#: to the characters whose lowercase reaches ASCII (U+0130, U+212A), and
#: around capital and final sigma (the one context-sensitive mapping)
CONTEXTS = {
    "t1": "A{c}b {c}Z",
    "t2": "{c}\u0130\u212a{c}K{c}k",
    "t3": "\u0391\u03a3{c}\u03a3 x{c}\u03c2\u03a3",
}


def _lower_tokens(col: str) -> str:
    """The tokenizer spec spelled with ``lower()``."""
    return (f"coalesce(regexp_extract_all(lower({col}), '[a-z0-9]+', 0),"
            " array())")


def _differences(spark, src, ctxs, out_dir, extra=()):
    """``{(setting, ctx): ids whose tokens_expr tokens differ from the
    lower() spelling}`` and, per setting, the ``extra`` (name,
    expression) columns read back from ``out_dir/<setting>``."""
    diffs, outs = {}, {}
    before = spark.conf.get(ICU)
    try:
        for v in SETTINGS:
            spark.conf.set(ICU, v)
            src.select(
                "id",
                *[(~F.expr(tokens_expr(c)).eqNullSafe(
                    F.expr(_lower_tokens(c)))).alias(f"d_{c}")
                  for c in ctxs],
                *[F.expr(e).alias(n) for n, e in extra],
            ).write.parquet(os.path.join(out_dir, v))
    finally:
        spark.conf.set(ICU, before)
    for v in SETTINGS:
        outs[v] = spark.read.parquet(os.path.join(out_dir, v))
        for c in ctxs:
            diffs[(v, c)] = sorted(
                r.id for r in outs[v].filter(f"d_{c}").select("id").collect()
            )
    return diffs, outs


@pytest.fixture(scope="module")
def every_scalar_value(spark, tmp_path_factory):
    """``(diffs, {expression: code points whose tokens differ between
    the two settings})`` over every Unicode scalar value."""
    d = tmp_path_factory.mktemp("case_mappings")
    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    pq.write_table(pa.table({
        "id": cps,
        **{k: [t.format(c=chr(c)) for c in cps] for k, t in CONTEXTS.items()},
    }), str(d / "cps.parquet"))
    src = spark.read.parquet(str(d / "cps.parquet"))
    diffs, outs = _differences(
        spark, src, list(CONTEXTS), str(d),
        extra=[("tok", tokens_expr("t1")),
               ("bpe", BPE_EXPR.replace("(text)", "(t1)"))],
    )
    both = outs["true"].alias("i").join(outs["false"].alias("j"), "id")
    assert both.count() == len(cps)
    across = {
        c: sorted(r.id for r in both.filter(
            ~F.col(f"i.{c}").eqNullSafe(F.col(f"j.{c}"))).select("id")
            .collect())
        for c in ("tok", "bpe")
    }
    return diffs, across


def test_tokens_expr_equals_lower_on_every_scalar_value(every_scalar_value):
    diffs, _ = every_scalar_value
    assert len(diffs) == len(SETTINGS) * len(CONTEXTS)
    assert diffs == {k: [] for k in diffs}


def test_tokens_expr_same_under_both_case_mappings(every_scalar_value):
    assert every_scalar_value[1]["tok"] == []


def test_bpe_tokens_differ_only_where_lower_differs(every_scalar_value):
    assert every_scalar_value[1]["bpe"] == ICU_ONLY_LOWER


def test_tokens_expr_equals_lower_on_mixed_strings(spark, tmp_path):
    """Seeded random strings over an alphabet weighted toward the
    characters that matter: ASCII letters and digits, separators, the
    sigmas, dotted/dotless i, the Kelvin sign and random code points;
    NULL and empty strings included."""
    rng = random.Random(20261019)
    special = ("\u03a3\u03c3\u03c2\u0130\u0131\u212a\u212b\u0307\u00df"
               "\u1e9e\ufb00 \t\n.-_")
    ascii_ = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"

    def one() -> str | None:
        if rng.random() < 0.01:
            return rng.choice([None, ""])
        out = []
        for _ in range(rng.randint(1, 24)):
            r = rng.random()
            if r < 0.45:
                out.append(rng.choice(ascii_))
            elif r < 0.85:
                out.append(rng.choice(special))
            else:
                c = rng.randrange(0x80, 0x110000)
                out.append(chr(c) if not 0xD800 <= c <= 0xDFFF else "?")
        return "".join(out)

    n = 50_000
    pq.write_table(
        pa.table({"id": list(range(n)), "text": [one() for _ in range(n)]}),
        str(tmp_path / "mixed.parquet"),
    )
    diffs, _ = _differences(
        spark, spark.read.parquet(str(tmp_path / "mixed.parquet")), ["text"],
        str(tmp_path),
    )
    assert diffs == {(v, "text"): [] for v in SETTINGS}


OPS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "docwire_spark", "ops",
)
#: lowercase with ``lower()`` on purpose: BPE passes non-ASCII letters
#: through (so it needs the case mapping itself), web.py lowercases
#: url schemes and hosts
EXEMPT_FILES = {"web.py"}
EXEMPT_NAMES = {"BPE_EXPR", "BPE_SQL"}


def _lowercasing_tokenizers(path: str):
    """(scope, is_duckdb) for every statement of ``path`` whose string
    literals call ``lower(`` and hold the ``[a-z0-9]+`` token pattern.
    DuckDB SQL lives in names ending ``_SQL``/``_DUCK`` or in functions
    ending ``_sql``; docstrings are skipped."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    found = []

    def visit(node, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Expr) and isinstance(
                    child.value, ast.Constant):
                continue  # docstring
            if isinstance(child, (ast.Assign, ast.AnnAssign, ast.Return,
                                  ast.Expr, ast.AugAssign)):
                text = "".join(
                    n.value for n in ast.walk(child)
                    if isinstance(n, ast.Constant) and isinstance(n.value, str)
                )
                lo = text.find("lower(")
                if lo >= 0 and "[a-z0-9]+" in text[lo:]:
                    targets = (child.targets if isinstance(child, ast.Assign)
                               else [getattr(child, "target", None)])
                    names = {t.id for t in targets if isinstance(t, ast.Name)}
                    if names & EXEMPT_NAMES:
                        continue
                    duck = func.endswith("_sql") or any(
                        n.endswith(("_SQL", "_DUCK")) for n in names)
                    found.append((f"{func or '<module>'}:{child.lineno}"
                                  f" {sorted(names)}", duck))
                continue
            visit(child, func)

    visit(tree, "")
    return found


def test_no_spark_side_tokenizer_calls_lower():
    spark_side, duckdb_side = [], []
    for name in sorted(os.listdir(OPS_DIR)):
        if not name.endswith(".py") or name in EXEMPT_FILES:
            continue
        for scope, duck in _lowercasing_tokenizers(os.path.join(OPS_DIR, name)):
            (duckdb_side if duck else spark_side).append(f"{name} {scope}")
    assert spark_side == []
    # the scan sees the DuckDB twins, which keep lower()
    assert any("TOKENS_SQL" in s for s in duckdb_side)
