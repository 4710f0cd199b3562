"""Exporter byte-parity tests (reference exporter_tests.cpp +
document_parsing_tests.cpp metadata variants).

- HTML exporter vs tests/N.html.out.html goldens
- metadata exporter vs tests/meta_libreoffice_3.5_*.html.out goldens
- CSV exporter semantics (no CSV goldens ship with the reference;
  rules from csv_writer.cpp:18-45)
"""

import pytest

from docwire_spark.kernel.api import extract_events
from docwire_spark.kernel.csv_writer import render_csv
from docwire_spark.kernel.html_writer import render_html
from docwire_spark.kernel.meta_writer import render_metadata
from tests.conftest import reference_fixture


def _events_meta(name):
    return extract_events(reference_fixture(name), url=name)


@pytest.mark.parametrize("n", [1, 2, 3])
def test_html_exporter_goldens(n):
    golden = reference_fixture(f"{n}.html.out.html")
    events, meta = _events_meta(f"{n}.html")
    assert render_html(events, meta) == golden


@pytest.mark.parametrize("variant", ["created", "modified"])
def test_metadata_exporter_goldens(variant):
    name = f"meta_libreoffice_3.5_{variant}.html"
    golden = reference_fixture(name + ".out")
    _events, meta = _events_meta(name)
    assert render_metadata(meta) == golden


def test_metadata_unidentified_fallbacks():
    assert render_metadata({}) == (
        b"Author: unidentified\n"
        b"Creation time: unidentified\n"
        b"Last modified by: unidentified\n"
        b"Last modification time: unidentified\n"
        b"Page count: unidentified\n"
        b"Word count: unidentified\n"
    )


def test_csv_exporter_table():
    html = (
        b"<html><body><p>ignored</p>"
        b"<table><tr><td>a</td><td>b</td></tr>"
        b"<tr><td>c</td><td>d</td></tr></table>"
        b"</body></html>"
    )
    events, _ = extract_events(html, url="t.html")
    assert render_csv(events) == b"a,b\r\nc,d\r\n"


def test_csv_exporter_ignores_non_table():
    events, _ = extract_events(b"<p>no tables here</p>", url="t.html")
    assert render_csv(events) == b""
