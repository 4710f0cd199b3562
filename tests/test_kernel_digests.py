"""Kernel byte-identity gate: every output field of ``kernel.api.extract``
over the seeded inputs of ``tests/kernel_inputs.py`` must hash to the
committed ``tests/kernel_digests.json``."""

from tests import kernel_inputs as K


def test_inputs_cover_the_listed_cases():
    rows = dict(K.all_rows())
    corpus = [v for u, v in rows.items() if u.startswith("corpus/")]
    assert any(b"charset=cp1250" in v for v in corpus)
    assert any(v.startswith(b"<?xml") for v in corpus)
    assert any(b"charset" not in v and b"<?xml" not in v for v in corpus)
    assert sum(len(v) > 262_144 for v in corpus) >= 5  # oversized rows
    random_html = b"".join(
        v for u, v in rows.items() if u.startswith(("random/", "attrs/"))
    )
    for needle in (
        b"<table", b"<TABLE", b"<td>", b"<template>", b"<caption",
        b"<colgroup", b"<p>one<p>two", b"<li>orphan<li>item", b"<dd>d1<dt>",
        b"<a href=/1>x<a href=/2>", b"</foo>", b"<head>", b"<meta name=",
        b"<script", b"<textarea", b"<title", b"&amp;", b"&#x263A;",
        b'="a>b"', b"='say \"hi\"'", b"<!--", b"<?php", b"<!DOCTYPE",
        b"<span/>", b"list-style: none", b"data:image/png;base64,",
        b"dcterms.modified",
    ):
        assert needle in random_html, needle


def test_kernel_outputs_match_committed_digests():
    expected = K.load()
    actual = K.compute()
    assert sorted(actual) == sorted(expected)
    diffs = [
        (url, field)
        for url in expected
        for field in K.FIELDS
        if actual[url][field] != expected[url][field]
    ]
    assert not diffs, f"{len(diffs)} field digests differ, first: {diffs[:10]}"
