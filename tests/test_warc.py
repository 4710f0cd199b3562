"""WARC/WET container layer: kernel format + distributed IO.

Gates the properties the oracle queries can't see:
- record addressability: fetch ONE record by its CDX (offset, length)
  extent with a raw byte-range read + single gunzip
- byte-determinism: two exports of the same partition are identical
- streaming reader memory shape: bounded chunks (tiny chunk_size still
  parses everything)
- plain (uncompressed) .warc mode, warcinfo skipping, truncation errors
"""

from __future__ import annotations

import gzip
import io
import os
from datetime import datetime, timezone

import pytest

from docwire_spark.kernel.warc import (
    build_conversion_record, build_response_record, build_warcinfo,
    gzip_member, iter_gzip_members, iter_warc_records, parse_warc_record,
    payload_digest, split_http_response, write_warc_file,
)

TS = datetime(2025, 3, 1, 12, 30, 45, tzinfo=timezone.utc)


def _records(n=5):
    recs = [build_warcinfo("test.warc.gz", TS)]
    for i in range(n):
        recs.append(
            build_response_record(
                f"https://h{i % 2}.example/p/{i}", TS,
                f"<html><body><p>doc {i}</p></body></html>".encode(),
            )
        )
    return recs


def test_record_shape_and_parse():
    rec = build_response_record("https://x.example/a", TS, b"<p>hi</p>")
    assert rec.startswith(b"WARC/1.0\r\n") and rec.endswith(b"\r\n\r\n")
    parsed = parse_warc_record(rec)
    f = parsed["fields"]
    assert f["WARC-Type"] == "response"
    assert f["WARC-Target-URI"] == "https://x.example/a"
    assert f["WARC-Date"] == "2025-03-01T12:30:45Z"
    assert f["WARC-Payload-Digest"] == payload_digest(b"<p>hi</p>")
    status, hh, payload = split_http_response(parsed["block"])
    assert status == 200
    assert hh["content-type"].startswith("text/html")
    assert payload == b"<p>hi</p>"


def test_deterministic_bytes(tmp_path):
    p1, p2 = str(tmp_path / "a.warc.gz"), str(tmp_path / "b.warc.gz")
    e1 = write_warc_file(p1, _records())
    e2 = write_warc_file(p2, _records())
    assert open(p1, "rb").read() == open(p2, "rb").read()
    assert e1 == e2


def test_record_addressable(tmp_path):
    """The CDX promise: (offset, length) + one gunzip = one record."""
    path = str(tmp_path / "t.warc.gz")
    extents = write_warc_file(path, _records(7))
    blob = open(path, "rb").read()
    assert extents[-1][0] + extents[-1][1] == len(blob)
    off, ln = extents[3]  # third response record
    member = blob[off:off + ln]
    rec = parse_warc_record(gzip.decompress(member))
    assert rec["fields"]["WARC-Target-URI"] == "https://h0.example/p/2"


@pytest.mark.parametrize("chunk", [7, 64, 1 << 20])
def test_streaming_members_bounded_chunks(tmp_path, chunk):
    path = str(tmp_path / "t.warc.gz")
    write_warc_file(path, _records(4))
    with open(path, "rb") as fh:
        got = list(iter_gzip_members(fh, chunk_size=chunk))
    assert len(got) == 5  # warcinfo + 4
    offs = [o for o, _, _ in got]
    assert offs == sorted(offs)
    types = [parse_warc_record(raw)["fields"]["WARC-Type"]
             for _, _, raw in got]
    assert types == ["warcinfo"] + ["response"] * 4


def test_plain_warc_mode(tmp_path):
    path = str(tmp_path / "t.warc")
    write_warc_file(path, _records(3), compress=False)
    with open(path, "rb") as fh:
        got = list(iter_warc_records(fh, compressed=False))
    assert [r["fields"]["WARC-Type"] for _, _, r in got] == (
        ["warcinfo"] + ["response"] * 3
    )
    # extents tile the file exactly
    assert got[-1][0] + got[-1][1] == os.path.getsize(path)


def test_truncated_member_raises(tmp_path):
    path = str(tmp_path / "t.warc.gz")
    write_warc_file(path, _records(2))
    blob = open(path, "rb").read()[:-20]
    with pytest.raises(EOFError):
        list(iter_gzip_members(io.BytesIO(blob)))


def test_conversion_record_roundtrip():
    rec = build_conversion_record("https://x.example/a", TS, "żółw\n".encode())
    parsed = parse_warc_record(rec)
    assert parsed["fields"]["WARC-Type"] == "conversion"
    assert parsed["fields"]["Content-Type"] == "text/plain"
    assert parsed["block"].decode() == "żółw\n"


def test_gzip_member_deterministic():
    assert gzip_member(b"abc" * 100) == gzip_member(b"abc" * 100)
    # mtime pinned: byte 4..8 of gzip header is the mtime field
    assert gzip_member(b"x")[4:8] == b"\x00\x00\x00\x00"


# ------------------------------------------------------------- spark level

#: WARC-Date serialization and the naive datetimes asserted below are
#: UTC wall times
_CONF = {"spark.sql.session.timeZone": "UTC"}


@pytest.fixture(scope="module")
def spark(spark):
    """The shared session with ``_CONF`` set, restored on teardown so
    later test modules run under their own confs."""
    saved = {k: spark.conf.get(k, None) for k in _CONF}
    for k, v in _CONF.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _pages_df(spark, n=40):
    return spark.range(n).selectExpr(
        "'https://h' || CAST(id % 3 AS STRING) || '.example/p/' ||"
        " CAST(id AS STRING) AS url",
        "timestampadd(SECOND, CAST(id AS INT),"
        " TIMESTAMP '2025-01-01 00:00:00') AS warc_ts",
        "encode('<html><body><p>doc ' || CAST(id AS STRING) ||"
        " '</p></body></html>', 'UTF-8') AS html",
        "'doc ' || CAST(id AS STRING) AS text",
    )


def test_spark_warc_roundtrip(spark, tmp_path):
    from docwire_spark.spark.warc_io import read_warc, write_warc

    out = str(tmp_path / "warc")
    manifest = write_warc(_pages_df(spark), out, n_files=4).collect()
    assert 1 <= len(manifest) <= 4
    assert sum(m.n_records for m in manifest) == 40
    files = sorted(os.listdir(out))
    assert files == [m.warc_file for m in sorted(manifest)]

    back = read_warc(spark, out).filter("warc_type = 'response'")
    rows = {r.url: r for r in back.collect()}
    assert len(rows) == 40
    r = rows["https://h1.example/p/7"]
    assert bytes(r.payload) == b"<html><body><p>doc 7</p></body></html>"
    assert r.http_status == 200 and r.mime == "text/html"
    assert r.warc_ts == datetime(2025, 1, 1, 0, 0, 7)
    assert r.payload_digest == payload_digest(bytes(r.payload))
    # member extents are genuine: byte-range fetch one record
    blob = open(os.path.join(out, r.warc_file), "rb").read()
    rec = parse_warc_record(
        gzip.decompress(blob[r.warc_offset:r.warc_offset + r.warc_length])
    )
    assert rec["fields"]["WARC-Target-URI"] == r.url


def test_spark_warc_deterministic_export(spark, tmp_path):
    from docwire_spark.spark.warc_io import write_warc

    out1, out2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    write_warc(_pages_df(spark), out1, n_files=3).collect()
    write_warc(_pages_df(spark), out2, n_files=3).collect()
    f1, f2 = sorted(os.listdir(out1)), sorted(os.listdir(out2))
    assert f1 == f2
    for f in f1:
        assert (open(os.path.join(out1, f), "rb").read()
                == open(os.path.join(out2, f), "rb").read())


def test_spark_wet_roundtrip(spark, tmp_path):
    from docwire_spark.spark.warc_io import read_warc, write_wet

    out = str(tmp_path / "wet")
    write_wet(_pages_df(spark), out, n_files=2).collect()
    back = read_warc(spark, out).filter("warc_type = 'conversion'")
    rows = {r.url: bytes(r.payload).decode() for r in back.collect()}
    assert rows["https://h2.example/p/11"] == "doc 11"
    assert len(rows) == 40


def test_spark_read_skips_warcinfo(spark, tmp_path):
    from docwire_spark.spark.warc_io import read_warc, write_warc

    out = str(tmp_path / "warc")
    write_warc(_pages_df(spark, n=6), out, n_files=1).collect()
    back = read_warc(spark, out)
    assert back.filter("warc_type = 'warcinfo'").count() == 0
    assert back.count() == 6
