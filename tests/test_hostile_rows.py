"""Hostile-input rows must flow to the error/empty-text columns —
never drop rows or fail the task (reference analog: per-object errors
wrapped as exception messages, pdf_parser.cpp:387-390)."""

from docwire_spark.spark.extract import extract_pages

HOSTILE = [
    ("u_null", None),
    ("u_empty", b""),
    ("u_junk", b"\x00\xff\xfe junk"),
    ("u_truncated", b"<html><p>unclosed"),
    ("u_pdfish", b"%PDF-1.4 broken"),
]


def test_hostile_rows_never_dropped(spark):
    df = spark.createDataFrame(HOSTILE, "url string, html binary")
    out = {r.url: r for r in extract_pages(df).collect()}
    assert sorted(out) == sorted(u for u, _ in HOSTILE)
    assert out["u_truncated"].extracted_text == "unclosed\n\n"
    assert out["u_truncated"].error is None
    assert out["u_junk"].error is not None  # unsupported mime -> error col
    assert out["u_pdfish"].error is not None  # pdf parser stub -> error col
    assert out["u_null"].error is None and out["u_null"].bytes_in == 0


def test_multimodal_stub_contract():
    from docwire_spark.kernel.media_headers import parse_media_header

    # unknown blobs degrade to format=None, never raise
    hdr = parse_media_header(b"ab")
    assert hdr["format"] is None and hdr["byte_len"] == 2
    assert hdr["width"] is None and hdr["duration_ms"] is None


def test_multi_megabyte_rows_extract(spark):
    """Fat-tail rows (multi-MB pages exist in every crawl) must flow
    through the Arrow batches without task failure, alongside normal
    rows in the same partition."""
    big_body = b"<p>hello big page</p>" * 150_000  # ~3 MB
    rows = [
        ("u_big", b"<html><body>" + big_body + b"</body></html>"),
        ("u_small", b"<html><body><p>tiny</p></body></html>"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = {r.url: r for r in extract_pages(df).collect()}
    assert out["u_big"].error is None
    assert out["u_big"].extracted_text.count("hello big page") == 150_000
    assert out["u_small"].extracted_text == "tiny\n\n"
