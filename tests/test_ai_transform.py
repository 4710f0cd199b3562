"""AI transform family: wire-codec parity with the reference
(src/chat.cpp, embed.cpp), end-to-end chat/embed transforms against a
local mock OpenAI-wire server (the reference tests its http elements
against a local cpp-httplib server the same way), and hand-computed
semantics for the deterministic task analogs.  Cross-engine oracle
parity for the registered ai_* queries is covered corpus-wide by
tests/test_hostile_parity.py and the registry sweep.
"""

from __future__ import annotations

import hashlib
import http.server
import json
import os
import threading

import pytest

from docwire_spark.kernel import ai_backend as AB
from docwire_spark.ops import ai_transform as AT


# --------------------------------------------------------------------------
# codecs — reference wire shapes
# --------------------------------------------------------------------------

def test_chat_query_shape():
    q = json.loads(AB.prepare_chat_query("sys", "usr", "gpt-4o", 0.3))
    assert q == {
        "model": "gpt-4o",
        "messages": [
            {"role": "system", "content": "sys"},
            {"role": "user", "content": "usr"},
        ],
        "temperature": 0.3,
    }


def test_chat_query_gpt5_temperature_coerced_to_1():
    # chat.cpp:121 — the gpt-5 family rejects non-default temperature
    for m in AB.GPT5_FAMILY:
        assert json.loads(AB.prepare_chat_query("s", "u", m, 0.3))[
            "temperature"
        ] == 1
    assert json.loads(
        AB.prepare_chat_query("s", "u", "gpt-5-chat-latest", 0.3)
    )["temperature"] == 0.3


def test_chat_query_image_branch():
    # chat.cpp:104-118 — image rides as an image_url part with detail
    url = AB.image_data_url(b"\x89PNG")
    assert url.startswith("data:image/*;base64,")
    q = json.loads(
        AB.prepare_chat_query("s", url, "gpt-4o", 0.7, "low",
                              is_image_url=True)
    )
    part = q["messages"][1]["content"][0]
    assert part["type"] == "image_url"
    assert part["image_url"] == {"url": url, "detail": "low"}


def test_chat_response_parse():
    resp = json.dumps(
        {"choices": [{"message": {"role": "a", "content": "hi"}}]}
    )
    assert AB.parse_chat_response(resp) == "hi"


def test_embed_codecs():
    q = json.loads(AB.prepare_embed_query("abc"))
    assert q == {"model": "text-embedding-3-small", "input": "abc"}
    resp = json.dumps({"data": [{"embedding": [1.0, 2.5]}]})
    assert AB.parse_embed_response(resp) == [1.0, 2.5]


def test_task_prompts_match_reference_strings():
    # verbatim system messages from the reference wrappers
    assert AB.summarize_prompt() == (
        "Your task is to summarize every message"
    )
    assert AB.detect_sentiment_prompt() == (
        "Your task is to detect sentiment for every message"
    )
    # classify.cpp joins a std::set -> sorted order
    assert AB.classify_prompt(["b cat", "a cat"]) == (
        "Your task is to classify every message to one of the following"
        " categories: a cat, b cat. Answer with the category name only,"
        " exactly as it was written."
    )
    assert AB.translate_to_prompt("french") == (
        "Your task is to translate every message to french language."
    )
    assert AB.extract_keywords_prompt(7).startswith(
        "Your task is to identify and extract 7 most important keywords"
    )
    assert AB.find_prompt("cars").startswith(
        'Your task is to find all occurrences of "cars" in the provided'
    )


# --------------------------------------------------------------------------
# mock OpenAI-wire server + end-to-end transforms
# --------------------------------------------------------------------------

class _MockOpenAI(http.server.BaseHTTPRequestHandler):
    seen_auth = []

    def do_POST(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        req = json.loads(body)
        type(self).seen_auth.append(self.headers.get("Authorization"))
        if self.path == "/v1/chat/completions":
            user = req["messages"][1]["content"]
            out = {
                "choices": [
                    {"message": {"role": "assistant",
                                 "content": "R:" + user.upper()}}
                ]
            }
        elif self.path == "/v1/embeddings":
            out = {
                "data": [
                    {"embedding": [float(len(req["input"])), 2.0]}
                ]
            }
        else:
            self.send_error(404)
            return
        payload = json.dumps(out).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def mock_openai():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _MockOpenAI)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_chat_backend_roundtrip(mock_openai):
    b = AB.OpenAIChatBackend(AB.summarize_prompt(), api_key="sk-test",
                             base_url=mock_openai)
    # content + '\n' exactly as chat.cpp:189; NULL passes through;
    # non-ASCII survives the byte-length/char-length boundary
    # (Content-Length is bytes, JSON content is chars)
    assert b.complete(["abc", None, "x y", "héllo ☃"]) == [
        "R:ABC\n", None, "R:X Y\n", "R:HÉLLO ☃\n"
    ]
    b.close()
    assert "Bearer sk-test" in _MockOpenAI.seen_auth


def test_chat_transform_end_to_end(mock_openai, spark):
    df = spark.createDataFrame(
        [(1, "hello"), (2, None), (3, "spark")], "id int, text string"
    )

    def factory():
        return AB.OpenAIChatBackend("sys", base_url=mock_openai)

    out = AT.chat_transform(df, factory).collect()
    got = {r["id"]: r["completion"] for r in out}
    assert got == {1: "R:HELLO\n", 2: None, 3: "R:SPARK\n"}


def test_embed_transform_end_to_end(mock_openai, spark):
    df = spark.createDataFrame(
        [(1, "abcd"), (2, None)], "id int, text string"
    )

    def factory():
        return AB.OpenAIEmbedBackend(base_url=mock_openai)

    got = {r["id"]: r["embedding"]
           for r in AT.embed_transform(df, factory).collect()}
    assert got == {1: [4.0, 2.0], 2: None}


# --------------------------------------------------------------------------
# deterministic task analogs — hand-computed semantics
# --------------------------------------------------------------------------

def _write_docs(spark, tmp_path, texts):
    d = str(tmp_path)
    rows = [(i, t, "en", "s", len(t or "")) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    return d


def test_sentiment_labels(spark, tmp_path):
    d = _write_docs(spark, tmp_path, [
        "fast fast big slow",   # pos 3, neg 1 -> positive
        "slow small dup",       # neg 3 -> negative
        "merge data",           # neutral
        None,                   # NULL text -> neutral, 0 hits
    ])
    got = {r["doc_id"]: (r["pos_hits"], r["neg_hits"], r["score_int"],
                         r["sentiment"])
           for r in AT.ai_sentiment(spark, d).collect()}
    assert got == {
        0: (3, 1, 2, "positive"),
        1: (0, 3, -3, "negative"),
        2: (0, 0, 0, "neutral"),
        3: (0, 0, 0, "neutral"),
    }


def test_classify_argmax_and_declared_order_tiebreak(spark, tmp_path):
    d = _write_docs(spark, tmp_path, [
        "table row scan",    # storage 2 > execution 1
        "scan table",        # 1-1 tie -> first declared (storage)
        "zzz",               # all zero -> first declared
        "stream window agg sort",  # execution 2 = streaming 2 ->
                                   # earlier declaration (execution)
    ])
    got = {r["doc_id"]: (r["category"], r["score"])
           for r in AT.ai_classify(spark, d).collect()}
    assert got == {
        0: ("storage", 2),
        1: ("storage", 1),
        2: ("storage", 0),
        3: ("execution", 2),
    }


def test_keywords_rank_tf_then_rarity_then_term(spark, tmp_path):
    d = _write_docs(spark, tmp_path, [
        "alpha alpha beta",  # tf: alpha 2 > beta 1
        "beta gamma",        # tf tie -> rarer first (df beta=2 > gamma=1)
        "the a",             # stopwords only -> empty
        None,
    ])
    got = {r["doc_id"]: (r["n_keywords"], r["keywords"])
           for r in AT.ai_keywords(spark, d).collect()}
    assert got == {
        0: (2, "alpha, beta"),
        1: (2, "gamma, beta"),
        2: (0, ""),
        3: (0, ""),
    }


def test_keywords_capped_at_n(spark, tmp_path):
    d = _write_docs(spark, tmp_path, ["q w e r t y u i"])
    [r] = AT.ai_keywords(spark, d).collect()
    assert r["n_keywords"] == AT.N_KEYWORDS
    # all tf=1, all df=1 -> term ASC decides
    assert r["keywords"] == "e, i, q, r, t"


def test_summarize_selects_top_segments_in_document_order(spark, tmp_path):
    seg0 = "x1 x2 x3 x4 x5 x6 x7 x8"          # 8 distinct df-1 -> score 8
    seg1 = " ".join(["common"] * 8)            # distinct {common}, df 2
    seg2 = "y1 y2 y3 y4 common common common common"  # 4*1 + 2 = 6
    d = _write_docs(spark, tmp_path, [
        f"{seg0} {seg1} {seg2}",
        seg1,                                  # makes df(common) = 2
        "short doc",                           # < W tokens -> no segments
        "the a the a the a the a",             # stopword-only segment
    ])
    got = {r["doc_id"]: r for r in AT.ai_summarize(spark, d).collect()}
    assert got[0]["n_segments"] == 3
    # top-2 by score: seg0 (8) and seg2 (6), joined in ORIGINAL order
    assert got[0]["summary"] == f"{seg0} {seg2}"
    assert got[0]["summary_score"] == 14
    assert got[1]["n_segments"] == 1 and got[1]["summary"] == seg1
    assert got[2]["n_segments"] == 0 and got[2]["summary"] == ""
    # all-stopword segment: score 0 via the left join, still selected
    assert got[3]["summary"] == "the a the a the a the a"
    assert got[3]["summary_score"] == 0


def _bucket(token: str) -> int:
    return int(hashlib.md5(token.encode()).hexdigest()[:8], 16) % AT.EMB_DIM


def test_embed_hash_counts_and_zero_doc(spark, tmp_path):
    d = _write_docs(spark, tmp_path, ["merge merge data", None])
    got = {r["doc_id"]: r for r in AT.ai_embed_hash(spark, d).collect()}
    assert got[0]["n_tokens"] == 3
    assert got[0]["norm_sq"] == 5  # 2^2 + 1^2
    vec = [int(x) for x in got[0]["emb_csv"].split(",")]
    assert len(vec) == AT.EMB_DIM and sum(vec) == 3
    assert vec[_bucket("merge")] == 2 and vec[_bucket("data")] == 1
    assert got[1]["n_tokens"] == 0
    assert got[1]["emb_csv"] == ",".join("0" * 1 for _ in range(AT.EMB_DIM))
    # library form exposes the native array column
    arr = {r["doc_id"]: r["emb"]
           for r in AT.embed_hashing(spark, d).collect()}
    assert arr[0][_bucket("merge")] == 2
    assert arr[1] == [0] * AT.EMB_DIM


# --------------------------------------------------------------------------
# codec properties — any text survives the wire shapes (JSON escaping
# of quotes/control chars/unicode is where a hand-rolled codec breaks)
# --------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(sys_msg=st.text(max_size=200), user_msg=st.text(max_size=500),
       temp=st.floats(0, 2, allow_nan=False))
def test_chat_query_roundtrips_any_text(sys_msg, user_msg, temp):
    q = json.loads(AB.prepare_chat_query(sys_msg, user_msg, "gpt-4o", temp))
    assert q["messages"][0]["content"] == sys_msg
    assert q["messages"][1]["content"] == user_msg
    assert q["temperature"] == temp


@settings(max_examples=60, deadline=None)
@given(content=st.text(max_size=500))
def test_chat_response_parse_inverts_any_content(content):
    resp = json.dumps({"choices": [{"message": {"content": content}}]})
    assert AB.parse_chat_response(resp) == content


@settings(max_examples=60, deadline=None)
@given(text=st.text(max_size=500),
       vec=st.lists(st.floats(allow_nan=False, allow_infinity=False,
                              width=32), max_size=16))
def test_embed_codecs_roundtrip_any_payload(text, vec):
    assert json.loads(AB.prepare_embed_query(text))["input"] == text
    resp = json.dumps({"data": [{"embedding": vec}]})
    assert AB.parse_embed_response(resp) == vec


@settings(max_examples=60, deadline=None)
@given(data=st.binary(max_size=256))
def test_image_data_url_decodes_back(data):
    import base64

    url = AB.image_data_url(data)
    assert base64.b64decode(url.split(",", 1)[1]) == data


@settings(max_examples=40, deadline=None)
@given(cats=st.sets(st.text(
    alphabet=st.characters(blacklist_characters=",",
                           blacklist_categories=("Cs",)),
    min_size=1, max_size=20), min_size=1, max_size=6))
def test_classify_prompt_joins_sorted_like_std_set(cats):
    p = AB.classify_prompt(cats)
    joined = p.split("categories: ", 1)[1].rsplit(". Answer", 1)[0]
    assert joined == ", ".join(sorted(cats))


def test_transforms_fail_fast_on_missing_text_column(spark):
    df = spark.createDataFrame([(1, "x")], "id int, body string")
    with pytest.raises(KeyError, match="chat_transform"):
        AT.chat_transform(df, lambda: None)
    with pytest.raises(KeyError, match="embed_transform"):
        AT.embed_transform(df, lambda: None)


def test_classify_prompt_dedups_like_std_set():
    assert AB.classify_prompt(["news", "news", "sports"]) == \
        AB.classify_prompt(["sports", "news"])


def test_base_url_with_v1_suffix_is_normalized(mock_openai):
    b = AB.OpenAIChatBackend("sys", base_url=mock_openai + "/v1")
    assert b.complete(["ok"]) == ["R:OK\n"]
    b.close()


def test_non_2xx_error_includes_body_detail(mock_openai):
    b = AB.OpenAIChatBackend("sys", base_url=mock_openai)
    with pytest.raises(RuntimeError, match="404"):
        b._client.post("/nope", "{}")
    b.close()


def test_transforms_reject_colliding_out_col(spark):
    df = spark.createDataFrame([(1, "x")], "id int, text string")
    with pytest.raises(ValueError, match="already exists"):
        AT.chat_transform(df, lambda: None, out_col="text")
    with pytest.raises(ValueError, match="already exists"):
        AT.embed_transform(df, lambda: None, out_col="id")
