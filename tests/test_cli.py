"""CLI tests: ``python -m docwire_spark`` mirrors the reference
``docwire [options] file_name`` binary (src/docwire.cpp:165-330) —
byte-identical exporter output on stdout, stdin input, the
standard-filter flags, --http-post forwarding, and error exit codes.
"""

import os
import subprocess
import sys

import pytest

from tests.conftest import REFERENCE_TESTS, reference_fixture

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli(*args, stdin: bytes | None = None):
    return subprocess.run(
        [sys.executable, "-m", "docwire_spark", *args],
        input=stdin,
        capture_output=True,
        cwd=REPO_ROOT,
        timeout=120,
    )


def test_plain_text_byte_identical():
    expected = reference_fixture("1.html.out")
    proc = run_cli(os.path.join(REFERENCE_TESTS, "1.html"))
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout == expected


def test_html_export_byte_identical():
    expected = reference_fixture("1.html.out.html")
    proc = run_cli("--output_type", "html",
                   os.path.join(REFERENCE_TESTS, "1.html"))
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout == expected


def test_stdin_with_mime_pin():
    data = b"<html><body>from stdin</body></html>"
    proc = run_cli("-", "--mime-type", "text/html", stdin=data)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout == b"from stdin\n"


@pytest.fixture()
def corpus_page(tmp_path):
    """A ``spark.corpus`` page (paragraphs, a link, maybe a list or
    table) written to a file."""
    import random

    from docwire_spark.spark.corpus import make_page

    html = make_page(random.Random(3), 3, "host0.example", False)[2]
    path = tmp_path / "page.html"
    path.write_bytes(html)
    return str(path)


def test_metadata_export_runs(corpus_page):
    proc = run_cli("--output_type", "metadata", corpus_page)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout  # metadata exporter always renders a block


def test_missing_file_exit_1():
    proc = run_cli("/nonexistent/file.html")
    assert proc.returncode == 1
    assert proc.stderr.startswith(b"Error: ")


def test_extraction_error_exit_1():
    bad = os.path.join(REFERENCE_TESTS, "1.html")
    proc = run_cli("-", "--mime-type", "application/pdf",
                   stdin=b"%PDF-1.4 not really a pdf")
    assert proc.returncode == 1
    assert proc.stderr.startswith(b"Error: "), (proc.stdout, proc.stderr,
                                                bad)


def test_version():
    proc = run_cli("--version")
    assert proc.returncode == 0
    assert proc.stdout.startswith(b"docwire_spark ")


def test_max_nodes_filter_truncates(corpus_page):
    """--max_nodes_number mirrors filterByMaxNodeNumber
    (continuation::stop after N nodes, standard_filter.h:58-62)."""
    full = run_cli(corpus_page)
    capped = run_cli("--max_nodes_number", "2", corpus_page)
    assert full.returncode == 0, full.stderr
    assert capped.returncode == 0, capped.stderr
    assert len(capped.stdout) < len(full.stdout)


@pytest.fixture()
def echo_server():
    import http.server
    import threading

    class Echo(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            body = b"echoed:" + self.rfile.read(n)
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Echo)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()
    httpd.server_close()


def test_http_post_forwarding(echo_server):
    """--http-post sends the output through http::post and prints the
    response (docwire.cpp chain insertion; post.cpp:184)."""
    expected = b"echoed:" + reference_fixture("1.html.out")
    proc = run_cli(os.path.join(REFERENCE_TESTS, "1.html"),
                   "--http-post", echo_server + "/sink")
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout == expected


@pytest.fixture()
def mock_ai_server():
    """Minimal OpenAI-wire endpoint: chat echoes the system prompt's
    first word + upper-cased user text; embeddings return [len]."""
    import http.server
    import json
    import threading

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            req = json.loads(self.rfile.read(n))
            if self.path == "/v1/chat/completions":
                sys_msg = req["messages"][0]["content"]
                user = req["messages"][1]["content"]
                out = {"choices": [{"message": {
                    "content": f"[{sys_msg.split()[4]}|t={req['temperature']}"
                               f"|m={req['model']}] {user.upper()}"
                }}]}
            else:
                out = {"data": [{"embedding": [float(len(req["input"]))]}]}
            p = json.dumps(out).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(p)))
            self.end_headers()
            self.wfile.write(p)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_openai_summarize_chains_after_exporter(mock_ai_server, tmp_path):
    # reference chain: exporter output feeds openai::summarize
    # (docwire.cpp:373-383); CLI temperature defaults to 0 and model
    # to gpt-5 (docwire.cpp:188,345) -> the gpt-5 family coerces
    # temperature to 1 in the request (chat.cpp:121)
    f = tmp_path / "d.html"
    f.write_bytes(b"<html><body><p>hello there</p></body></html>")
    proc = run_cli("--openai-summarize",
                   "--openai-base-url", mock_ai_server, str(f))
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout == b"[summarize|t=1|m=gpt-5] HELLO THERE\n\n\n"


def test_openai_transforms_stack_in_reference_order(mock_ai_server,
                                                    tmp_path):
    f = tmp_path / "d.txt"
    f.write_bytes(b"abc")
    proc = run_cli("--openai-detect-sentiment", "--openai-summarize",
                   "--openai-model", "gpt-4o",
                   "--openai-temperature", "0.5",
                   "--openai-base-url", mock_ai_server, str(f))
    assert proc.returncode == 0, proc.stderr
    # summarize runs FIRST (docwire.cpp applies the ifs in declared
    # order: keywords/summarize before detect-sentiment), then
    # sentiment sees summarize's output
    assert proc.stdout == (
        b"[detect|t=0.5|m=gpt-4o] [SUMMARIZE|T=0.5|M=GPT-4O] ABC\n\n\n\n"
    )


def test_openai_embed_prints_json_vector(mock_ai_server, tmp_path):
    f = tmp_path / "d.txt"
    f.write_bytes(b"abcd")
    proc = run_cli("--openai-embed",
                   "--openai-base-url", mock_ai_server, str(f))
    assert proc.returncode == 0, proc.stderr
    # extracted text is "abcd\n\n" (6 chars) -> embedding [6.0]
    assert proc.stdout == b"[6.0]\n"


def test_env_blocked_ai_options_fail_loudly(tmp_path):
    f = tmp_path / "d.txt"
    f.write_bytes(b"x")
    for flag in (["--openai-transcribe"], ["--openai-text-to-speech"],
                 ["--local-ai-prompt", "p"]):
        proc = run_cli(*flag, str(f))
        assert proc.returncode == 1
        assert b"Error:" in proc.stderr


def test_env_blocked_ai_options_rejected_before_any_work(tmp_path):
    # the always-fatal flag must fail BEFORE extraction or --http-post
    # side effects: even a nonexistent input file is never touched
    proc = run_cli("--openai-transcribe", "--http-post",
                   "http://127.0.0.1:9/never", str(tmp_path / "missing"))
    assert proc.returncode == 1
    assert b"audio codecs" in proc.stderr


def test_malformed_endpoint_reply_exits_1(tmp_path):
    import http.server
    import threading

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            p = b'{"choices": []}'  # 200 with an empty choices array
            self.send_response(200)
            self.send_header("Content-Length", str(len(p)))
            self.end_headers()
            self.wfile.write(p)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        f = tmp_path / "d.txt"
        f.write_bytes(b"x")
        proc = run_cli(
            "--openai-summarize", "--openai-base-url",
            f"http://127.0.0.1:{srv.server_address[1]}", str(f))
        assert proc.returncode == 1
        assert b"Error:" in proc.stderr and b"Traceback" not in proc.stderr
    finally:
        srv.shutdown()
