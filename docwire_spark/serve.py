"""HTTP serving surface: pipeline-over-HTTP and an HTTP-POST element.

Reference parity:

- :class:`PipelineServer` re-expresses ``http::server``
  (reference src/http_server.cpp:63-239): POST-only routes mapping a
  path (exact string or compiled regex, http_server.cpp:86-100) to a
  pipeline; the request body is the document, the ``Content-Type``
  header's media type (the part before ``;``, trimmed,
  http_server.cpp:144-155) becomes a high-confidence MIME hint; the
  pipeline's output is returned as 200 with the output's own media
  type (default ``text/plain``, http_server.cpp:166-175).  Error
  mapping mirrors http_server.cpp:159-193: a pipeline that produces no
  output -> 500 "Error: The processing pipeline did not produce any
  output message.", a pipeline error message -> 500 "Pipeline Error:
  ...", a handler crash -> 500 "Internal Server Error: ...", an
  oversized body (``set_payload_max_length``, http_server.cpp:72) ->
  413, an unmatched path or method -> 404.  TLS
  (http_server.cpp:106-127 and generate_self_signed_cert :287-330) is
  intentionally out of scope here; threading is stdlib
  ``ThreadingHTTPServer`` (thread per request) instead of a fixed pool
  (``http::thread_num``, http_server.cpp:66-70).

- :class:`HttpPost` re-expresses ``http::post`` (reference
  src/post.cpp:57-189): POST the payload to a URL either raw
  (``Content-Type`` = the payload's MIME or application/octet-stream,
  post.cpp:163-173) or as multipart/form-data (extra form fields plus
  a file part whose filename derives from ``to_extension`` of the
  MIME, post.cpp:138-161), with a ``User-Agent`` and optional OAuth2
  ``Bearer`` header (post.cpp:125-130), raising on a non-2xx status
  (post.cpp:182) and returning the response body as the new payload
  (post.cpp:184).

Scale shape: serving is an edge/driver concern — one request = one
pipeline run, exactly the reference's model (http_server.cpp:131-157).
Bulk result delivery from a cluster job goes through
``docwire_spark.spark.post_sink.post_rows`` (foreachPartition with one
keep-alive connection per partition) instead of per-row driver calls.
"""

from __future__ import annotations

import http.server
import re
import socket
import threading
import time
import urllib.error
import urllib.request
import uuid

from docwire_spark import __version__
from docwire_spark.kernel.api import OUTPUT_TYPES, extract
from docwire_spark.kernel.sniff import to_extension

USER_AGENT = f"docwire-spark/{__version__}"

#: http::body_limit default (http_server.h uses httplib's default;
#: we pick an explicit bound so the 413 path is always defined)
DEFAULT_BODY_LIMIT = 128 * 1024 * 1024

#: lingering close of a refused request: after the answer, read and
#: discard at most this many body bytes for at most this many seconds
#: before closing, so a client still sending gets the answer instead of
#: a reset connection
LINGER_BYTES = 8 * 1024 * 1024
LINGER_S = 2.0

_NO_OUTPUT_MSG = (
    "Error: The processing pipeline did not produce any output message."
)


class PipelineError(RuntimeError):
    """A pipeline produced an error message instead of output
    (the reference's ``std::exception_ptr`` message branch,
    http_server.cpp:176-181)."""


def extraction_pipeline(output_type: str = "plain_text",
                        **extract_kwargs):
    """Default route pipeline: full-format extraction rendered by one
    of the reference's four exporters (``parser | <exporter>``,
    docwire.cpp:314-328; default plain_text).

    Returns a callable ``(body: bytes, mime_hint: str | None) ->
    (bytes, str)`` suitable for :class:`PipelineServer` routes.  A
    per-document extraction error becomes :class:`PipelineError` so
    the server maps it to the reference's "Pipeline Error:" 500.
    """
    export, out_field, media_type = OUTPUT_TYPES[output_type]
    if export:
        extract_kwargs = {
            **extract_kwargs,
            "exports": (*extract_kwargs.get("exports", ()), export),
        }

    def pipeline(body: bytes, mime_hint: str | None = None):
        res = extract(body, mime_hint=mime_hint, **extract_kwargs)
        if res.error:
            raise PipelineError(res.error)
        return getattr(res, out_field), media_type

    return pipeline


def _media_type(content_type: str | None) -> str | None:
    """Media type before any ';' parameters, trimmed
    (http_server.cpp:147-154)."""
    if not content_type:
        return None
    return content_type.split(";", 1)[0].strip() or None


class PipelineServer:
    """``http::server`` analog: serve pipelines over HTTP POST.

    ``routes`` maps a path — an exact string or a compiled
    ``re.Pattern`` (the reference's ``regex_path``) — to a pipeline
    callable ``(body, mime_hint) -> output`` where output is
    ``bytes | str | (bytes | str, content_type)`` or ``None`` (no
    output -> 500, http_server.cpp:159-164).  Port 0 binds an
    ephemeral port; read it back from ``.port`` (the reference's
    ``wait_until_ready`` dance is unnecessary because stdlib
    ``ThreadingHTTPServer`` binds and listens in the constructor).
    """

    def __init__(
        self,
        routes: dict,
        address: str = "127.0.0.1",
        port: int = 0,
        body_limit: int = DEFAULT_BODY_LIMIT,
        error_handler=None,
    ):
        exact = {}
        patterns = []
        for key, pipeline in routes.items():
            if isinstance(key, re.Pattern):
                patterns.append((key, pipeline))
            else:
                exact[key] = pipeline

        server = self

        class _Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args):  # quiet by default
                pass

            def _respond(self, status: int, body: bytes, ctype: str):
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                if self.close_connection:
                    self.send_header("Connection", "close")
                self.end_headers()
                self.wfile.write(body)

            def _fail(self, status: int, message: str):
                self._respond(status, message.encode(), "text/plain")

            def _refuse(self, status: int, message: str):
                """Answer without reading the body, then close.  Closing
                with body bytes unread would reset the connection, and a
                client still sending would lose the answer, so half-close
                and drain first (a lingering close)."""
                self.close_connection = True
                self._fail(status, message)
                sock = self.connection
                try:
                    sock.shutdown(socket.SHUT_WR)
                    deadline = time.monotonic() + LINGER_S
                    left = LINGER_BYTES
                    while left > 0:
                        wait = deadline - time.monotonic()
                        if wait <= 0:
                            break
                        sock.settimeout(wait)
                        chunk = sock.recv(min(left, 65536))
                        if not chunk:
                            break
                        left -= len(chunk)
                except OSError:  # includes the drain's timeout
                    pass

            def do_GET(self):  # only POST handlers exist -> 404
                self._fail(404, "Not Found")

            do_PUT = do_DELETE = do_HEAD = do_GET

            def do_POST(self):
                pipeline = exact.get(self.path)
                if pipeline is None:
                    for pattern, candidate in patterns:
                        if pattern.fullmatch(self.path):
                            pipeline = candidate
                            break
                if pipeline is None:
                    self._fail(404, "Not Found")
                    return
                # the body's end is known only from Content-Length
                # (a chunked body has none): answer without reading it
                # and close, as the unread bytes would be taken for the
                # next request
                raw_length = self.headers.get("Content-Length")
                if raw_length is None:
                    self._refuse(411, "Length Required")
                    return
                raw_length = raw_length.strip()
                # headers decode as latin-1: isdigit alone admits "\xb2"
                if not (raw_length.isascii() and raw_length.isdigit()):
                    self._refuse(400, "Bad Request: malformed Content-Length")
                    return
                length = int(raw_length)
                if length > server.body_limit:
                    self._refuse(413, "Payload Too Large")
                    return
                body = self.rfile.read(length) if length else b""
                mime_hint = _media_type(self.headers.get("Content-Type"))
                try:
                    out = pipeline(body, mime_hint)
                except PipelineError as exc:
                    server._on_error(exc)
                    self._fail(500, f"Pipeline Error: {exc}")
                    return
                except Exception as exc:
                    server._on_error(exc)
                    self._fail(500, f"Internal Server Error: {exc}")
                    return
                if out is None:
                    self._fail(500, _NO_OUTPUT_MSG)
                    return
                ctype = "text/plain"
                if isinstance(out, tuple):
                    out, ctype = out
                if isinstance(out, str):
                    out = out.encode()
                self._respond(200, out, ctype)

        self.body_limit = body_limit
        self._error_handler = error_handler
        self._httpd = http.server.ThreadingHTTPServer(
            (address, port), _Handler
        )
        self._httpd.daemon_threads = True
        self.address, self.port = self._httpd.server_address[:2]
        self._thread: threading.Thread | None = None

    def _on_error(self, exc: Exception) -> None:
        if self._error_handler is not None:
            self._error_handler(exc)

    @property
    def url(self) -> str:
        return f"http://{self.address}:{self.port}"

    def start(self) -> "PipelineServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None

    def __enter__(self) -> "PipelineServer":
        return self.start()

    def __exit__(self, *exc_info) -> None:
        self.stop()


class HttpPost:
    """``http::post`` analog: POST a payload, return the response body.

    ``form=None`` -> raw body POST with the payload's media type
    (post.cpp:163-173); ``form={...}`` -> multipart/form-data with the
    given fields plus a file part named ``pipe_field_name`` whose
    filename is ``file.<ext>`` from ``to_extension(mime)`` or
    ``default_file_name`` when the MIME has no known extension
    (post.cpp:138-161).  Non-2xx raises (post.cpp:175-182); the return
    value is ``(response_body, response_content_type)`` — the
    reference re-emits the response as the new payload (post.cpp:184).
    """

    def __init__(
        self,
        url: str,
        form: dict | None = None,
        pipe_field_name: str = "file",
        default_file_name: str = "file",
        bearer_token: str = "",
        timeout: float = 30.0,
    ):
        self.url = url
        self.form = form
        self.pipe_field_name = pipe_field_name
        self.default_file_name = default_file_name
        self.bearer_token = bearer_token
        self.timeout = timeout

    def _headers(self) -> dict:
        headers = {"User-Agent": USER_AGENT}
        if self.bearer_token:
            headers["Authorization"] = f"Bearer {self.bearer_token}"
        return headers

    def __call__(self, body: bytes, mime: str | None = None):
        headers = self._headers()
        if self.form is None:
            headers["Content-Type"] = mime or "application/octet-stream"
            payload = body
        else:
            boundary = uuid.uuid4().hex
            headers["Content-Type"] = (
                f"multipart/form-data; boundary={boundary}"
            )
            payload = self._multipart(body, mime, boundary)
        req = urllib.request.Request(
            self.url, data=payload, headers=headers, method="POST"
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.read(), resp.headers.get("Content-Type")
        except urllib.error.HTTPError as exc:
            detail = exc.read().decode(errors="replace")
            raise RuntimeError(
                f"Server returned an error status code: {exc.code} {detail}"
            ) from exc

    def _multipart(
        self, body: bytes, mime: str | None, boundary: str
    ) -> bytes:
        parts = []
        for name, value in (self.form or {}).items():
            parts.append(
                f"--{boundary}\r\nContent-Disposition: form-data; "
                f'name="{name}"\r\n\r\n{value}\r\n'.encode()
            )
        ext = to_extension(mime) if mime else None
        file_name = f"file.{ext}" if ext else self.default_file_name
        content_type = mime or "application/octet-stream"
        parts.append(
            f"--{boundary}\r\nContent-Disposition: form-data; "
            f'name="{self.pipe_field_name}"; filename="{file_name}"\r\n'
            f"Content-Type: {content_type}\r\n\r\n".encode()
            + body
            + b"\r\n"
        )
        parts.append(f"--{boundary}--\r\n".encode())
        return b"".join(parts)
