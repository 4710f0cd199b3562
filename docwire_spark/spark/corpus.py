"""Deterministic synthetic Common-Crawl-style corpus generator.

Produces the north-rule input table
``(url string, warc_ts timestamp, html binary, text string, lang string)``
plus, for correctness checks, the analytically-known expected plain
text per url (``expected_text``) computed from the template parameters
— NOT by running the extraction kernel (that would be circular).

Properties:
- seed-deterministic (no wall-clock, no global random state)
- zipf-ish host distribution so a few hosts are heavily skewed
  (exercises salting)
- charset variants: utf-8, cp1250+meta, cp1250+xml-decl, iso-8859-2
- ~1% oversized rows (~300-450 KiB of html)
- boilerplate chrome (script/style/nav links) around the main content
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

_BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)

_WORDS = (
    "data spark shuffle partition column table scan batch stream text "
    "window join hash key value agg order filter format byte page web "
    "crawl index token parse render node tree cell row grid link list"
).split()

_PL_WORDS = ["ąść", "żółw", "łąka", "świt", "góra", "pięć"]


def _sentence(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def make_page(rng: random.Random, doc_id: int, host: str, oversized: bool):
    """Return (url, warc_ts, html bytes, cc_text, lang, expected bytes)."""
    url = f"https://{host}/page/{doc_id}"
    warc_ts = _BASE_TS + timedelta(seconds=doc_id * 7 % 31_536_000)
    lang = rng.choice(["en", "en", "en", "pl", "de"])

    charset_variant = rng.randrange(4)
    if oversized:
        n_paras = 1500  # ~300-450 KiB of html
        paras = [_sentence(rng, rng.randint(20, 40)) for _ in range(n_paras)]
    else:
        n_paras = rng.randint(1, 5)
        paras = [_sentence(rng, rng.randint(4, 14)) for _ in range(n_paras)]
    with_list = rng.random() < 0.3
    with_table = rng.random() < 0.25
    with_link = rng.random() < 0.5
    with_nbsp = rng.random() < 0.2

    body_parts = []
    expected_parts = []

    if with_link:
        link_url = f"https://{host}/ref/{doc_id}"
        body_parts.append(f'<p><a href="{link_url}">see also</a></p>')
        expected_parts.append(f"<{link_url}>see also\n")

    for i, p in enumerate(paras):
        if with_nbsp and i == 0:
            p2 = p.replace(" ", " ", 1)
            body_parts.append(f"<p>{p2}</p>")
            expected_parts.append(p2 + "\n")
        else:
            body_parts.append(f"<p>  {p}  </p>")
            expected_parts.append(p + "\n")

    if with_list:
        items = [_sentence(rng, 2) for _ in range(rng.randint(2, 5))]
        body_parts.append(
            "<ol>" + "".join(f"<li>{it}</li>" for it in items) + "</ol>"
        )
        expected_parts.append("\n")
        for k, it in enumerate(items, 1):
            expected_parts.append(f"{k}. {it}\n")

    if with_table:
        rows = [[_sentence(rng, 1), _sentence(rng, 2)] for _ in range(rng.randint(1, 3))]
        body_parts.append(
            "<table>"
            + "".join(
                "<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>" for r in rows
            )
            + "</table>"
        )
        width = max(len(c.encode()) for r in rows for c in r)
        for r in rows:
            line = []
            for j, c in enumerate(r):
                pad = width - len(c.encode()) + (2 if j < len(r) - 1 else 0)
                line.append(c + " " * pad)
            expected_parts.append("".join(line) + "\n")

    chrome = (
        "<script>function t(){return 42;}</script>"
        '<nav><a href="#top">top</a></nav>'
    )
    # nav renders: <> + "top" then </nav>: nav is not block-level in the
    # reference's set, so "top" joins the next block's buffer; keep the
    # chrome inside its own div so expectations stay simple
    chrome = f"<div>{chrome}</div>"
    expected_chrome = "<>top\n"

    title = f"doc {doc_id}"
    # newline-joined block elements: the whitespace text node between
    # blocks resets the inline formatting context at each block start
    # (same shape as real-world/pretty-printed HTML)
    body_html = chrome + "\n" + "\n".join(body_parts)
    expected = expected_chrome + "".join(expected_parts) + "\n"

    if charset_variant in (1, 2) and lang == "pl":
        pl = rng.choice(_PL_WORDS)
        body_html += f"\n<p>{pl}</p>"
        expected = expected[:-1] + f"{pl}\n\n"
        if charset_variant == 1:
            head = (
                '<meta http-equiv="Content-Type" '
                'content="text/html; charset=cp1250"/>'
            )
            html = (
                f"<html><head>{head}<title>{title}</title></head>"
                f"<body>{body_html}</body></html>"
            ).encode("cp1250")
        else:
            html = (
                f'<?xml version="1.0" encoding="cp1250"?>'
                f"<html><head><title>{title}</title></head>"
                f"<body>{body_html}</body></html>"
            ).encode("cp1250")
    else:
        html = (
            f"<html><head><title>{title}</title></head>"
            f"<body>{body_html}</body></html>"
        ).encode("utf-8")

    cc_text = " ".join(paras)[:200]
    return (url, warc_ts, html, cc_text, lang, expected.encode("utf-8"))


def _zipf_hosts(n_hosts: int):
    weights = [1.0 / ((k + 1) ** 1.2) for k in range(n_hosts)]
    total = sum(weights)
    cum = []
    acc = 0.0
    for w in weights:
        acc += w / total
        cum.append(acc)
    hosts = [f"host{k}.example" for k in range(n_hosts)]
    return hosts, cum


def _make_doc(doc_id: int, hosts, cum, seed: int, oversize_rate: float):
    """One document, seeded per doc_id -> identical output regardless
    of how doc_ids are sliced across tasks."""
    import bisect

    rng = random.Random(seed * 1_000_003 + doc_id)
    host = hosts[bisect.bisect_left(cum, rng.random())]
    oversized = rng.random() < oversize_rate
    return make_page(rng, doc_id, host, oversized)


def generate_rows(n_docs: int, n_hosts: int = 50, seed: int = 42, oversize_rate: float = 0.01):
    """Yield corpus rows. Host distribution ~ zipf(s=1.2)."""
    hosts, cum = _zipf_hosts(n_hosts)
    for doc_id in range(n_docs):
        yield _make_doc(doc_id, hosts, cum, seed, oversize_rate)


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "expected_text binary"
)


def build_pages_df(spark, n_docs: int, n_hosts: int = 50, seed: int = 42,
                   oversize_rate: float = 0.01, n_slices: int | None = None):
    """Distributed generation: each Spark task generates its slice of
    doc_ids deterministically (same seed -> same corpus regardless of
    parallelism)."""
    n_slices = n_slices or max(8, n_docs // 2000)
    bounds = [
        (i * n_docs // n_slices, (i + 1) * n_docs // n_slices)
        for i in range(n_slices)
    ]

    def gen_slice(bound):
        lo, hi = bound
        hosts, cum = _zipf_hosts(n_hosts)
        return [
            _make_doc(doc_id, hosts, cum, seed, oversize_rate)
            for doc_id in range(lo, hi)
        ]

    rdd = spark.sparkContext.parallelize(bounds, n_slices).flatMap(gen_slice)
    return spark.createDataFrame(rdd, schema=PAGES_SCHEMA)
