"""HTTP serving surface tests: PipelineServer (reference
src/http_server.cpp:63-239) and HttpPost (src/post.cpp:57-189),
plus the foreachPartition bulk sink (spark/post_sink.py).

The reference has no HTTP golden fixtures (its http tests are unit
tests against a local cpp-httplib server); we mirror that strategy
with stdlib servers on ephemeral localhost ports and assert the
behavioral contract: byte-identical extraction through the endpoint,
Content-Type-as-MIME-hint, the 404/413/500 error taxonomy, raw and
multipart POST shapes, Bearer auth, and non-2xx -> error.
"""

import http.server
import re
import socket
import threading
import urllib.error
import urllib.request

import pytest

from docwire_spark.kernel.api import extract
from docwire_spark.serve import (
    USER_AGENT,
    HttpPost,
    PipelineError,
    PipelineServer,
    extraction_pipeline,
)
from tests.conftest import reference_fixture


def _post(url, body, content_type=None, method="POST"):
    headers = {}
    if content_type:
        headers["Content-Type"] = content_type
    req = urllib.request.Request(url, data=body, headers=headers,
                                 method=method)
    with urllib.request.urlopen(req, timeout=10) as resp:
        return resp.status, resp.read(), resp.headers.get("Content-Type")


@pytest.fixture(scope="module")
def server():
    routes = {
        "/extract": extraction_pipeline(),
        "/extract-html": extraction_pipeline(output_type="html"),
        re.compile(r"/v\d+/extract"): extraction_pipeline(),
        "/boom": lambda body, mime: (_ for _ in ()).throw(
            ValueError("kaboom")
        ),
        "/pipe-error": lambda body, mime: (_ for _ in ()).throw(
            PipelineError("bad document")
        ),
        "/silent": lambda body, mime: None,
    }
    with PipelineServer(routes, body_limit=1 << 20) as srv:
        yield srv


def test_extraction_route_byte_identical(server):
    """POST a reference HTML fixture -> the response bytes equal the
    reference golden (the one-doc-in/text-out contract,
    http_server.cpp:166-175)."""
    data = reference_fixture("1.html")
    expected = reference_fixture("1.html.out")
    status, body, ctype = _post(server.url + "/extract", data,
                                "text/html")
    assert status == 200
    assert ctype == "text/plain"
    assert body == expected


def test_html_exporter_route(server):
    """A route can serve any of the reference CLI's four exporters
    (docwire.cpp:314-328) — html render is byte-identical too."""
    data = reference_fixture("1.html")
    expected = reference_fixture("1.html.out.html")
    status, body, ctype = _post(server.url + "/extract-html", data,
                                "text/html")
    assert status == 200
    assert ctype == "text/html"
    assert body == expected


def test_regex_route(server):
    """regex_path routes match via fullmatch (http_server.cpp:94-98)."""
    status, body, _ = _post(server.url + "/v2/extract", b"plain words",
                            "text/plain")
    assert status == 200
    assert body == b"plain words\n\n"


def test_content_type_header_pins_mime(server):
    """The Content-Type media type becomes a high-confidence MIME hint
    (http_server.cpp:144-155): an HTML body declared text/plain is NOT
    parsed as HTML."""
    html = b"<html><body>x</body></html>"
    _, as_html, _ = _post(server.url + "/extract", html, "text/html")
    _, as_text, _ = _post(
        server.url + "/extract", html, "text/plain; charset=utf-8"
    )
    assert as_html == b"x\n"
    assert as_text == b"<html><body>x</body></html>\n\n"


def test_unknown_path_and_method_404(server):
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        _post(server.url + "/nope", b"x")
    assert exc_info.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        urllib.request.urlopen(server.url + "/extract", timeout=10)
    assert exc_info.value.code == 404


def test_body_limit_413(server):
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        _post(server.url + "/extract", b"x" * ((1 << 20) + 1))
    assert exc_info.value.code == 413


def test_413_drains_the_body_before_closing(server):
    """The server answers 413 with body bytes still unread.  It must
    half-close and discard the body (lingering close): closing at once
    resets the connection, and a client still sending its body gets a
    broken pipe instead of the answer."""
    body = b"x" * ((1 << 20) + 1)
    head = (b"POST /extract HTTP/1.1\r\nHost: t\r\n"
            b"Content-Length: %d\r\n\r\n" % len(body))
    with socket.create_connection((server.address, server.port),
                                  timeout=10) as sock:
        sock.sendall(head + body[:65536])
        answer = b""
        while not answer.endswith(b"Payload Too Large"):
            chunk = sock.recv(4096)
            assert chunk, answer
            answer += chunk
        assert answer.startswith(b"HTTP/1.1 413")
        assert sock.recv(1) == b""  # half-closed, not reset
        sock.sendall(body[65536:])


def _raw_post(server, headers, body):
    import http.client

    conn = http.client.HTTPConnection(server.address, server.port, timeout=10)
    try:
        conn.putrequest("POST", "/extract")
        for name, value in headers:
            conn.putheader(name, value)
        conn.endheaders()
        conn.send(body)
        resp = conn.getresponse()
        return resp.status, resp.read(), resp.getheader("Connection")
    finally:
        conn.close()


def test_chunked_body_without_length_411(server):
    """No Content-Length (here a chunked body): the body's size is
    unknown, so the server answers 411 instead of extracting an empty
    body."""
    status, body, connection = _raw_post(
        server, [("Transfer-Encoding", "chunked")],
        b"8\r\n<p>x</p>\r\n0\r\n\r\n",
    )
    assert status == 411
    assert body == b"Length Required"
    assert connection == "close"


@pytest.mark.parametrize("value", ["abc", "-5", "1e3", "", "\u00b2"])
def test_malformed_content_length_400(server, value):
    status, body, connection = _raw_post(
        server, [("Content-Length", value)], b"<p>x</p>"
    )
    assert status == 400
    assert b"Content-Length" in body
    assert connection == "close"


def test_handler_crash_500(server):
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        _post(server.url + "/boom", b"x")
    assert exc_info.value.code == 500
    assert b"Internal Server Error: kaboom" in exc_info.value.read()


def test_pipeline_error_500(server):
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        _post(server.url + "/pipe-error", b"x")
    assert exc_info.value.code == 500
    assert b"Pipeline Error: bad document" in exc_info.value.read()


def test_no_output_500(server):
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        _post(server.url + "/silent", b"x")
    assert exc_info.value.code == 500
    assert b"did not produce any output message" in exc_info.value.read()


def test_extraction_error_maps_to_pipeline_error(server):
    """A corrupt document whose extraction reports a per-row error
    surfaces as the reference's 'Pipeline Error:' 500
    (http_server.cpp:176-181)."""
    corrupt_pdf = b"%PDF-1.4 garbage with no xref"
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        _post(server.url + "/extract", corrupt_pdf, "application/pdf")
    assert exc_info.value.code == 500
    assert exc_info.value.read().startswith(b"Pipeline Error: ")


# --- HttpPost (http::post analog) -----------------------------------

class _Capture(http.server.BaseHTTPRequestHandler):
    requests: list = []

    def log_message(self, *args):
        pass

    def do_POST(self):
        length = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(length)
        type(self).requests.append((self.path, dict(self.headers), body))
        if self.path == "/fail":
            out, status = b"denied", 503
        else:
            out, status = b"ok:" + body[:16], 200
        self.send_response(status)
        self.send_header("Content-Type", "application/x-echo")
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)


@pytest.fixture()
def capture_server():
    _Capture.requests = []
    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Capture)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}", _Capture.requests
    httpd.shutdown()
    httpd.server_close()


def test_http_post_raw(capture_server):
    url, requests = capture_server
    post = HttpPost(url + "/sink", bearer_token="tok123")
    body, ctype = post(b"payload bytes", mime="text/plain")
    assert body == b"ok:payload bytes"
    assert ctype == "application/x-echo"
    path, headers, sent = requests[0]
    assert path == "/sink"
    assert sent == b"payload bytes"
    assert headers["Content-Type"] == "text/plain"
    assert headers["Authorization"] == "Bearer tok123"
    assert headers["User-Agent"] == USER_AGENT


def test_http_post_raw_default_content_type(capture_server):
    url, requests = capture_server
    HttpPost(url + "/sink")(b"\x00\x01")
    assert requests[0][1]["Content-Type"] == "application/octet-stream"
    assert "Authorization" not in requests[0][1]


def test_http_post_multipart(capture_server):
    """Form mode mirrors post.cpp:138-161: form fields + file part
    named pipe_field_name with filename file.<ext> from the MIME."""
    from email.parser import BytesParser

    url, requests = capture_server
    post = HttpPost(url + "/form", form={"purpose": "corpus"},
                    pipe_field_name="document")
    post(b"<p>hi</p>", mime="text/html")
    _, headers, sent = requests[0]
    assert headers["Content-Type"].startswith("multipart/form-data;")
    msg = BytesParser().parsebytes(
        b"Content-Type: " + headers["Content-Type"].encode()
        + b"\r\n\r\n" + sent
    )
    parts = msg.get_payload()
    assert [p.get_param("name", header="content-disposition")
            for p in parts] == ["purpose", "document"]
    assert parts[0].get_payload() == "corpus"
    assert parts[1].get_filename() == "file.html"
    assert parts[1].get_content_type() == "text/html"
    assert parts[1].get_payload(decode=True) == b"<p>hi</p>"


def test_http_post_multipart_unknown_mime_default_name(capture_server):
    from email.parser import BytesParser

    url, requests = capture_server
    post = HttpPost(url + "/form", form={}, default_file_name="blob.bin")
    post(b"??", mime="application/x-no-such-type")
    _, headers, sent = requests[0]
    msg = BytesParser().parsebytes(
        b"Content-Type: " + headers["Content-Type"].encode()
        + b"\r\n\r\n" + sent
    )
    (part,) = msg.get_payload()
    assert part.get_filename() == "blob.bin"


def test_http_post_non_2xx_raises(capture_server):
    url, _ = capture_server
    with pytest.raises(RuntimeError, match="error status code: 503"):
        HttpPost(url + "/fail")(b"x")


# --- Spark bulk sink -------------------------------------------------

def test_post_rows_foreach_partition(spark, capture_server):
    """Every row delivered, Content-Type from the mime column, rows
    with NULL payload skipped — across multiple partitions."""
    from docwire_spark.spark.post_sink import post_rows

    url, requests = capture_server
    rows = [(f"doc {i}", "text/plain") for i in range(20)]
    rows.append((None, "text/plain"))
    df = spark.createDataFrame(rows, "text string, mime string") \
        .repartition(4)
    post_rows(df, url + "/bulk", body_col="text", mime_col="mime",
              bearer_token="btok")
    bodies = sorted(body for _, _, body in requests)
    assert bodies == sorted(f"doc {i}".encode() for i in range(20))
    _, headers, _ = requests[0]
    assert headers["Content-Type"] == "text/plain"
    assert headers["Authorization"] == "Bearer btok"


def test_post_rows_retries_stale_keepalive(spark):
    """A receiver that drops the connection after each response
    without advertising Connection: close (an idle-timeout proxy, an
    HTTP/1.0 middlebox) must not fail the partition — the sink
    reconnects and resends once per row."""
    import socket

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    served = []

    def _serve():
        while True:
            try:
                client, _ = srv.accept()
            except OSError:
                return
            try:
                data = b""
                while b"\r\n\r\n" not in data:
                    chunk = client.recv(65536)
                    if not chunk:
                        break
                    data += chunk
                if b"\r\n\r\n" not in data:
                    continue
                head, body = data.split(b"\r\n\r\n", 1)
                length = 0
                for line in head.split(b"\r\n"):
                    if line.lower().startswith(b"content-length:"):
                        length = int(line.split(b":", 1)[1])
                while len(body) < length:
                    body += client.recv(65536)
                served.append(body)
                # claim HTTP/1.1 keep-alive, then close anyway
                client.sendall(
                    b"HTTP/1.1 200 OK\r\nContent-Length: 0\r\n\r\n"
                )
            finally:
                client.close()

    thread = threading.Thread(target=_serve, daemon=True)
    thread.start()
    try:
        from docwire_spark.spark.post_sink import post_rows

        port = srv.getsockname()[1]
        df = spark.createDataFrame(
            [(f"row {i}",) for i in range(5)], "text string"
        ).coalesce(1)
        post_rows(df, f"http://127.0.0.1:{port}/x")
        assert sorted(served) == sorted(
            f"row {i}".encode() for i in range(5)
        )
    finally:
        srv.close()


def test_post_rows_non_2xx_fails_job(spark, capture_server):
    from py4j.protocol import Py4JJavaError

    from docwire_spark.spark.post_sink import post_rows

    url, _ = capture_server
    df = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(Py4JJavaError):
        post_rows(df, url + "/fail")


def test_mime_hint_pins_extraction():
    """kernel.extract(mime_hint=...) skips sniffing at HIGH confidence
    but keeps the zip->iWork / OLE2 refinements (api.py extract)."""
    res = extract(b"just words", mime_hint="text/html")
    assert res.mime == "text/html"
    assert res.mime_confidence == "high"
