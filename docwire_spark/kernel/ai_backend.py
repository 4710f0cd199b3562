"""Model-backend codecs and transports for the AI transform family.

The reference's AI chain elements are thin wrappers over two wire
protocols: ``openai::chat`` builds a chat-completions request, POSTs
it, and emits ``choices[0].message.content`` (src/chat.cpp:97-190),
and ``openai::embed`` builds an embeddings request and emits
``data[0].embedding`` (src/embed.cpp:67-116).  Every task-specific
element — summarize, detect_sentiment, classify, translate_to,
extract_entities, extract_keywords, analyze_data, find — is ``chat``
with a fixed system message (src/summarize.cpp:23-27,
detect_sentiment.cpp:23-28, classify.cpp:28-34, translate_to.cpp:23-26,
extract_entities.cpp, extract_keywords.cpp, analyze_data.cpp,
find.cpp:20-33).  The local family swaps the transport for a
flan-t5 ct2 runner, keeping the same task prompts
(src/local_ai_task.cpp:9-16, src/ai_task.cpp).

This module keeps that split: PURE codec functions (request JSON +
response parsing, byte-compatible with the reference's
boost::json shapes) and small transport classes over ``http.client``
— one keep-alive connection reused across a partition's rows, the
same contract as spark/post_sink.py.  The Spark-side batched
operators live in ops/ai_transform.py.

Everything here is testable offline: the codecs are pure functions,
and the OpenAI-wire transports accept a ``base_url`` so tests point
them at a local mock server (the reference tests its http elements
the same way, against a local cpp-httplib server).  The local-model
family has no transport here: it needs model weights and a ct2
runtime, which this build does not bundle, so the CLI rejects
``--local-ai-prompt`` up front.
"""

from __future__ import annotations

import json
from urllib.parse import urlsplit

#: chat models the reference enumerates (chat.cpp:61-81); the gpt-5
#: family rejects non-default temperatures, so prepare_chat_query
#: coerces them to 1 exactly as chat.cpp:121 does
GPT5_FAMILY = ("gpt-5", "gpt-5-mini", "gpt-5-nano")

CHAT_PATH = "/v1/chat/completions"   # chat.cpp:133
EMBED_PATH = "/v1/embeddings"        # embed.cpp:85


# --------------------------------------------------------------------------
# task prompts — the reference's system messages, verbatim
# --------------------------------------------------------------------------

def summarize_prompt() -> str:
    """src/summarize.cpp:23."""
    return "Your task is to summarize every message"


def detect_sentiment_prompt() -> str:
    """src/detect_sentiment.cpp:23-24."""
    return "Your task is to detect sentiment for every message"


def classify_prompt(categories) -> str:
    """src/classify.cpp:28-30 — ``categories`` is a std::set there,
    so the joined form is deduplicated and sorted."""
    return (
        "Your task is to classify every message to one of the following"
        " categories: " + ", ".join(sorted(set(categories)))
        + ". Answer with the category name only, exactly as it was written."
    )


def translate_to_prompt(language: str) -> str:
    """src/translate_to.cpp:23."""
    return f"Your task is to translate every message to {language} language."


def extract_entities_prompt() -> str:
    """src/extract_entities.cpp."""
    return (
        "Your task is to find all dates, timespans, addresses, companies"
        " and person names inside every message. Show it as formatted list."
    )


def extract_keywords_prompt(max_keywords: int) -> str:
    """src/extract_keywords.cpp."""
    return (
        "Your task is to identify and extract "
        f"{max_keywords}"
        " most important keywords or key phrases from every message."
        " The goal is to capture the most relevant and significant terms"
        " within the text."
    )


def analyze_data_prompt() -> str:
    """src/analyze_data.cpp — including the reference's own wording."""
    return (
        "Your task is analyze data in every message and create a summary"
        " highlighting the most important insights, trends, key patterns,"
        " statistics, findings and other revelant information. Include"
        " conclusions that are usually made for type of data you will"
        " find in message."
    )


def find_prompt(what: str) -> str:
    """src/find.cpp:20-26."""
    return (
        f'Your task is to find all occurrences of "{what}" in the provided'
        " text or image.\n\n"
        "1. On the first line, write only the total count of occurrences"
        " found. If none are found, write 0.\n"
        "2. On each subsequent line, provide a brief, one-sentence"
        " description of where each occurrence is located. For example:"
        " 'A red car is parked near the building on the left.' or 'The"
        ' word "processing" appears in the first paragraph.\'\n\n'
        "Do not describe the entire image or text. Focus only on the"
        " location of what you were asked to find."
    )


# --------------------------------------------------------------------------
# codecs — request/response JSON, reference wire shapes
# --------------------------------------------------------------------------

def prepare_chat_query(
    system_msg: str,
    user_msg: str,
    model: str = "gpt-4o",
    temperature: float = 0.7,
    image_detail: str = "auto",
    is_image_url: bool = False,
) -> str:
    """Chat-completions request JSON (chat.cpp:97-123): system +
    user message, temperature coerced to 1 for the gpt-5 family;
    image inputs ride as an image_url content part with the detail
    hint (chat.cpp:104-118)."""
    if is_image_url:
        content = [
            {
                "type": "image_url",
                "image_url": {"url": user_msg, "detail": image_detail},
            }
        ]
    else:
        content = user_msg
    query = {
        "model": model,
        "messages": [
            {"role": "system", "content": system_msg},
            {"role": "user", "content": content},
        ],
        "temperature": 1 if model in GPT5_FAMILY else temperature,
    }
    return json.dumps(query)


def image_data_url(data: bytes) -> str:
    """Image payloads become base64 data URLs (chat.cpp:176-183)."""
    import base64

    return "data:image/*;base64," + base64.b64encode(data).decode()


def parse_chat_response(response: str) -> str:
    """``choices[0].message.content`` (chat.cpp:144-157)."""
    val = json.loads(response)
    return val["choices"][0]["message"]["content"]


def prepare_embed_query(
    input_text: str, model: str = "text-embedding-3-small"
) -> str:
    """Embeddings request JSON (embed.cpp:67-77)."""
    return json.dumps({"model": model, "input": input_text})


def parse_embed_response(response: str) -> list:
    """``data[0].embedding`` (embed.cpp:95-116)."""
    val = json.loads(response)
    return list(val["data"][0]["embedding"])


# --------------------------------------------------------------------------
# transports
# --------------------------------------------------------------------------

class _HttpJsonClient:
    """Sequential JSON POSTs over ONE keep-alive connection — the
    per-partition transport shape (spark/post_sink.py); reconnects
    once when the server drops the idle connection between rows."""

    def __init__(self, base_url: str, api_key: str = "",
                 timeout: float = 60.0):
        parts = urlsplit(base_url)
        self._scheme = parts.scheme or "https"
        self._host = parts.hostname
        if not self._host:
            raise ValueError(f"Invalid base URL: {base_url}")
        self._port = parts.port or (
            443 if self._scheme == "https" else 80
        )
        prefix = parts.path.rstrip("/")
        # the conventional OpenAI-compatible form carries a /v1 suffix
        # (vLLM/Ollama/OPENAI_BASE_URL); our request paths already
        # start with /v1, so strip it rather than POST /v1/v1/...
        if prefix.endswith("/v1"):
            prefix = prefix[:-3]
        self._prefix = prefix
        self._api_key = api_key
        self._timeout = timeout
        self._conn = None

    def post(self, path: str, body: str) -> str:
        import http.client

        # NOT serve.USER_AGENT: importing serve would drag the whole
        # extraction kernel into every executor that only chats
        from docwire_spark import __version__

        headers = {
            "User-Agent": f"docwire-spark/{__version__}",
            "Content-Type": "application/json",  # the wire contract of chat.cpp:130-135
        }
        if self._api_key:  # Bearer auth, post.cpp:125-130
            headers["Authorization"] = f"Bearer {self._api_key}"
        cls = (
            http.client.HTTPSConnection
            if self._scheme == "https"
            else http.client.HTTPConnection
        )
        for attempt in (0, 1):
            if self._conn is None:
                self._conn = cls(self._host, self._port,
                                 timeout=self._timeout)
            try:
                self._conn.request("POST", self._prefix + path,
                                   body=body.encode(), headers=headers)
                resp = self._conn.getresponse()
                break
            except (http.client.RemoteDisconnected, BrokenPipeError,
                    ConnectionResetError):
                self._conn.close()
                self._conn = None
                if attempt:
                    raise
        data = resp.read()
        if not 200 <= resp.status <= 299:  # non-2xx raises, post.cpp:182
            detail = data[:300].decode("utf-8", "replace").strip()
            raise RuntimeError(
                f"Server returned an error status code: {resp.status}"
                + (f" {detail}" if detail else "")
            )
        return data.decode()

    def close(self) -> None:
        if self._conn is not None:
            self._conn.close()
            self._conn = None


class OpenAIChatBackend:
    """The ``openai::chat`` transport (chat.cpp): per message, build
    the request, POST, parse, and append ``'\\n'`` to the content
    exactly as chat.cpp:189 does.  ``base_url`` defaults to the
    public endpoint; tests point it at a local mock server."""

    def __init__(self, system_message: str, api_key: str = "",
                 model: str = "gpt-4o", temperature: float = 0.7,
                 image_detail: str = "auto",
                 base_url: str = "https://api.openai.com",
                 timeout: float = 60.0):
        self.system_message = system_message
        self.model = model
        self.temperature = temperature
        self.image_detail = image_detail
        self._client = _HttpJsonClient(base_url, api_key, timeout)

    def complete(self, user_msgs) -> list:
        out = []
        for msg in user_msgs:
            if msg is None:
                # NULL payloads pass through untouched, the chain
                # element's non-data_source behavior (chat.cpp:162-163)
                out.append(None)
                continue
            is_image = isinstance(msg, (bytes, bytearray))
            body = prepare_chat_query(
                self.system_message,
                image_data_url(bytes(msg)) if is_image else msg,
                self.model, self.temperature, self.image_detail,
                is_image_url=is_image,
            )
            content = parse_chat_response(self._client.post(CHAT_PATH, body))
            out.append(content + "\n")
        return out

    def close(self) -> None:
        self._client.close()


class OpenAIEmbedBackend:
    """The ``openai::embed`` transport (embed.cpp:118-130): text/plain
    payloads only there; NULLs pass through here as NULL vectors."""

    def __init__(self, api_key: str = "",
                 model: str = "text-embedding-3-small",
                 base_url: str = "https://api.openai.com",
                 timeout: float = 60.0):
        self.model = model
        self._client = _HttpJsonClient(base_url, api_key, timeout)

    def embed(self, texts) -> list:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            body = prepare_embed_query(t, self.model)
            out.append(
                parse_embed_response(self._client.post(EMBED_PATH, body))
            )
        return out

    def close(self) -> None:
        self._client.close()
