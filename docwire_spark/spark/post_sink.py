"""Bulk HTTP delivery of job results — ``http::post`` as a Spark sink.

The reference's ``http::post`` chain element (src/post.cpp:57-189)
delivers one document's payload per call.  At cluster scale the
idiomatic shape is a ``foreachPartition`` sink: each partition opens
ONE keep-alive HTTP/1.1 connection and streams its rows as sequential
POSTs — no driver-side collect, no per-row connection setup, and
delivery parallelism equal to partition parallelism.  Per-request
semantics mirror post.cpp: ``Content-Type`` from the row's MIME (or
application/octet-stream, post.cpp:163-167), ``User-Agent`` +
optional Bearer header (post.cpp:125-130), non-2xx raises
(post.cpp:182) which fails the task and lets Spark retry the
partition (delivery is at-least-once; make the receiving endpoint
idempotent on a row key, the same contract as the repo's
merge-on-read lineage sink).
"""

from __future__ import annotations

from urllib.parse import urlsplit

# NOT serve.USER_AGENT: importing serve would drag the whole
# extraction kernel into every executor that only delivers rows
from docwire_spark import __version__
from docwire_spark.spark.session import drop_zip_importers

USER_AGENT = f"docwire-spark/{__version__}"


def post_rows(
    df,
    url: str,
    body_col: str = "text",
    mime_col: str | None = None,
    bearer_token: str = "",
    timeout: float = 30.0,
) -> None:
    """POST every row's ``body_col`` payload to ``url``.

    One ``http.client`` connection per partition, reused across the
    partition's rows (HTTP/1.1 keep-alive).  Rows whose payload is
    NULL are skipped — the reference's chain element likewise
    forwards non-payload messages untouched (post.cpp:61-62).
    """
    parts = urlsplit(url)
    scheme = parts.scheme or "http"
    host = parts.hostname
    if not host:
        raise ValueError(f"Invalid URL: {url}")
    port = parts.port or (443 if scheme == "https" else 80)
    path = parts.path or "/"
    if parts.query:
        path = f"{path}?{parts.query}"

    def _send_partition(rows):
        drop_zip_importers()
        import http.client

        conn_cls = (
            http.client.HTTPSConnection
            if scheme == "https"
            else http.client.HTTPConnection
        )
        conn = None
        try:
            for row in rows:
                body = row[body_col]
                if body is None:
                    continue
                if isinstance(body, str):
                    body = body.encode()
                mime = row[mime_col] if mime_col else None
                headers = {
                    "User-Agent": USER_AGENT,
                    "Content-Type": mime or "application/octet-stream",
                }
                if bearer_token:
                    headers["Authorization"] = f"Bearer {bearer_token}"
                for attempt in (0, 1):
                    if conn is None:
                        conn = conn_cls(host, port, timeout=timeout)
                    try:
                        conn.request(
                            "POST", path, body=body, headers=headers
                        )
                        resp = conn.getresponse()
                        break
                    except (
                        http.client.RemoteDisconnected,
                        BrokenPipeError,
                        ConnectionResetError,
                    ):
                        # the server dropped the idle keep-alive
                        # between rows — reconnect and resend once
                        conn.close()
                        conn = None
                        if attempt:
                            raise
                resp.read()  # drain so the connection can be reused
                if not 200 <= resp.status <= 299:
                    raise RuntimeError(
                        "Server returned an error status code: "
                        f"{resp.status}"
                    )
        finally:
            if conn is not None:
                conn.close()

    df.foreachPartition(_send_partition)
