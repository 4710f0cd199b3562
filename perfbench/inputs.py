"""Seeded benchmark inputs, cached per (workload, seed, size, layout).

An input is what the program sees -- parquet rows of ``(url string,
html binary)`` -- plus what only the benchmark sees: ``expected.json``
mapping each url to the sha256 of the text extraction must produce and
to its format family.  ``manifest.json`` holds the sha256 of every
file; a cached input is reused only when all digests still match,
otherwise it is rebuilt.  Every input is generated at its target size
(no ``limit()``), so the scan layout is the one the layout rule below
writes.

Layouts:
- ``crawl_html``: one parquet file, four row groups per core.
- ``office_mix``: one parquet file with one row group (how a small side
  table lands), equal shares of the 15 ``ops.extraction_binary`` formats.
- ``crawl_pipeline``: one parquet file per core (how a crawl shard
  written by an nproc-task job lands).

``family_sample`` builds, in memory, the seeded documents of the format
families a workload's input lacks, which the traced run's serial kernel
pass times per family.

Parquet is written uncompressed: the synthetic pages draw on a few dozen
words and compress several times better than real HTML, which would
shrink byte-bounded scan splits below what real pages of the same size
get.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass

#: bump when the generated bytes change for an unchanged (seed, size)
VERSION = 3

#: docs per input: (full run, smoke run)
SIZES = {
    "crawl_html": (4500, 64),
    "office_mix": (1500, 60),
    "crawl_pipeline": (200, 64),
}
#: office documents per format, and crawl pages, in the serial kernel
#: pass over the families a workload's input lacks
OFFICE_PER_FORMAT = 100
CRAWL_SAMPLE = 300

FAMILIES = ("html", "ooxml", "odf_iwork", "ms_binary", "docstream")


@functools.lru_cache(maxsize=None)
def office_formats() -> dict:
    """fmt -> (family, expected mime, newline tail of the expected text),
    read from the tables the ``ops.extraction_binary`` oracles use; the
    order is the oracles' group order."""
    from docwire_spark.ops import extraction_binary as eb

    groups = {
        "ooxml": eb.GROUP_OOXML,
        "odf_iwork": eb.GROUP_ODF_IWORK,
        "ms_binary": eb.GROUP_MS_BINARY,
        "docstream": eb.GROUP_DOCSTREAM,
    }
    return {
        fmt: (family, eb._FMT_MIME[fmt],
              eb._FMT_TAIL.get(fmt, "").count("chr(10)"))
        for family, fmts in groups.items() for fmt in fmts
    }

#: office texts stay inside [a-z0-9 .,] like the oracle documents
#: table, so no format needs escaping
_OFFICE_WORDS = (
    "data spark shuffle partition column table scan batch stream text "
    "window join hash key value agg order filter format byte page web "
    "crawl index token parse render node tree cell row grid link list"
).split()


@dataclass
class Input:
    path: str  # parquet file or directory the program reads
    warm_path: str  # the first rows, one small file per core, to warm up
    docs: int
    bytes: int  # summed html bytes
    expected: dict  # url -> (sha256 hex of expected text, family, mime)
    gen_s: float  # 0.0 when the cache was reused


def office_expected_text(fmt: str, text: str) -> str:
    if fmt == "xlsx":
        # the one format _FMT_TAIL leaves out -- two-cell grid: A1 = text
        # padded by the 2-space gutter, B1 = '7' padded to the column width
        return text + "  " + "7".ljust(len(text)) + "\n\n"
    return text + "\n" * office_formats()[fmt][2]


def _office_text(rng: random.Random) -> str:
    words = [rng.choice(_OFFICE_WORDS) for _ in range(rng.randint(6, 40))]
    words.insert(rng.randrange(len(words)), str(rng.randrange(10_000)))
    words[rng.randrange(len(words))] += ","
    return " ".join(words) + "."


def _office_rows(n: int, seed: int):
    from docwire_spark.ops import extraction_binary as eb

    formats = office_formats()
    fmts = list(formats)
    for i in range(n):
        rng = random.Random(seed * 1_000_003 + i)
        fmt = fmts[i % len(fmts)]
        text = _office_text(rng)
        family, mime, _ = formats[fmt]
        make = getattr(eb, f"make_{fmt}")
        yield (
            f"https://office{i % 7}.example/d/{i}.{fmt}",
            make(i, text) if fmt == "eml" else make(text),
            office_expected_text(fmt, text).encode(),
            family,
            mime,
        )


#: share of oversized pages, and the host count, of spark.corpus defaults
OVERSIZE_RATE = 0.01
N_HOSTS = 50


def _crawl_rows(n: int, seed: int):
    """``spark.corpus.make_page`` pages over zipf(1.2) hosts.  Exactly
    one page in each run of 100 is oversized, at a seeded position:
    ``generate_rows`` draws each page's flag on its own, and both the
    +-11% swing in the oversized count (those pages carry about half the
    kernel time) and their clumping into a few scan splits would show as
    run-to-run spread between seeds."""
    import bisect

    from docwire_spark.spark.corpus import _zipf_hosts, make_page

    hosts, cum = _zipf_hosts(N_HOSTS)
    per = round(1 / OVERSIZE_RATE)
    place = random.Random(seed)
    oversized = {b + place.randrange(per) for b in range(0, n - per + 1, per)}
    for i in range(n):
        rng = random.Random(seed * 1_000_003 + i)
        host = hosts[bisect.bisect_left(cum, rng.random())]
        url, _ts, html, _cc, _lang, expected = make_page(
            rng, i, host, i in oversized)
        yield url, html, expected, "html", "text/html"


def _sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _files(root: str) -> list:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, fs in os.walk(root)
        for f in fs
        if f != "manifest.json"
    )


def _write(rows: list, out: str, workload: str, nproc: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    def table(part):
        return pa.table({
            "url": pa.array([r[0] for r in part], pa.string()),
            "html": pa.array([r[1] for r in part], pa.binary()),
        })

    n = len(rows)
    if workload == "crawl_pipeline":
        os.makedirs(os.path.join(out, "pages"))
        for p in range(nproc):
            part = rows[p * n // nproc:(p + 1) * n // nproc]
            path = os.path.join(out, "pages", f"part-{p:05d}.parquet")
            pq.write_table(table(part), path, compression="none")
    else:
        groups = 1 if workload == "office_mix" else 4 * nproc
        pq.write_table(
            table(rows), os.path.join(out, "pages.parquet"),
            row_group_size=-(-n // groups), compression="none",
        )
    # one small file per core, so the warm-up job starts every worker;
    # each also holds one of the largest pages, so the oversized-row
    # path is warm too
    warm = rows[:8 * nproc]
    warm += [r for r in sorted(rows, key=lambda r: -len(r[1]))[:nproc]
             if r not in warm]
    os.makedirs(os.path.join(out, "warm"))
    for p in range(nproc):
        pq.write_table(
            table(warm[p::nproc]),
            os.path.join(out, "warm", f"part-{p:05d}.parquet"),
            compression="none",
        )
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(
            {r[0]: [hashlib.sha256(r[2]).hexdigest(), r[3], r[4]]
             for r in rows},
            f, sort_keys=True,
        )


def _valid(root: str) -> bool:
    try:
        with open(os.path.join(root, "manifest.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return False
    digests = manifest.get("files", {})
    return sorted(digests) == _files(root) and all(
        _sha256_file(os.path.join(root, rel)) == d
        for rel, d in digests.items()
    )


def prepare(workload: str, seed: int, n_docs: int, nproc: int,
            cache_dir: str) -> Input:
    """Build (or reuse after a digest check) the input for one run."""
    key = f"{workload}-seed{seed}-n{n_docs}-p{nproc}-v{VERSION}"
    root = os.path.join(cache_dir, key)
    gen_s = 0.0
    if not _valid(root):
        t0 = time.perf_counter()
        shutil.rmtree(root, ignore_errors=True)
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make_rows = _office_rows if workload == "office_mix" else _crawl_rows
        rows = list(make_rows(n_docs, seed))
        _write(rows, tmp, workload, nproc)
        manifest = {
            "files": {rel: _sha256_file(os.path.join(tmp, rel))
                      for rel in _files(tmp)},
            "docs": len(rows),
            "bytes": sum(len(r[1]) for r in rows),
        }
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, sort_keys=True, indent=1)
        os.replace(tmp, root)
        gen_s = time.perf_counter() - t0
    with open(os.path.join(root, "manifest.json")) as f:
        manifest = json.load(f)
    with open(os.path.join(root, "expected.json")) as f:
        expected = {u: tuple(v) for u, v in json.load(f).items()}
    data = "pages" if workload == "crawl_pipeline" else "pages.parquet"
    return Input(
        path=os.path.join(root, data),
        warm_path=os.path.join(root, "warm"),
        docs=manifest["docs"],
        bytes=manifest["bytes"],
        expected=expected,
        gen_s=gen_s,
    )


def family_sample(workload: str, seed: int, n: int | None = None):
    """(rows of (url, bytes, family), expected) of seeded documents of
    the families the workload's input lacks, for the per-family serial
    rates: ``OFFICE_PER_FORMAT`` of each office format beside the crawl
    workloads, ``CRAWL_SAMPLE`` crawl pages beside ``office_mix``."""
    if workload == "office_mix":
        docs = _crawl_rows(n or CRAWL_SAMPLE, seed)
    else:
        docs = _office_rows(n or OFFICE_PER_FORMAT * len(office_formats()),
                            seed)
    rows, expected = [], {}
    for url, data, text, family, mime in docs:
        rows.append((url, data, family))
        expected[url] = (hashlib.sha256(text).hexdigest(), family, mime)
    return rows, expected


def read_rows(inp: Input):
    """(url, html bytes, family) of every input row, in file order."""
    import pyarrow.parquet as pq

    table = pq.read_table(inp.path, columns=["url", "html"])
    for url, html in zip(table.column("url").to_pylist(),
                         table.column("html").to_pylist()):
        yield url, html, inp.expected[url][1]
