"""Command-line interface: one document in, extracted output on stdout.

Re-expresses the reference CLI (src/docwire.cpp:165-330; usage
``docwire [options] file_name``, README.md:864-883) for the in-scope
surface: input from a file path or stdin, ``--output_type``
plain_text|html|csv|metadata selecting the exporter
(docwire.cpp:314-328), the standard_filter flags
(docwire.cpp:294-313: min/max_creation_time, max_nodes_number,
folder_name, attachment_extension), ``--http-post`` forwarding
the output through ``http::post`` with the response becoming the
printed payload (docwire.cpp:171, the chain insertion), and the
OpenAI transform family (docwire.cpp:172-194 options, 337-430 chain
insertion: each selected transform appends to the chain IN THE
REFERENCE'S ORDER, CLI temperature defaults to 0 when not forced,
``--openai-model`` defaults to gpt-5 exactly as docwire.cpp:188).
``--openai-base-url`` is this build's addition so the family works
against any OpenAI-wire endpoint (and is testable offline against a
local mock).  The OCR options are env-blocked (no OCR engine in this
sandbox; the hook lives in kernel/ocr.py), as are the local-AI
options (no model weights/ct2 runtime) and the audio pair
text_to_speech/transcribe (no audio codecs).

Usage::

    python -m docwire_spark [options] file_name
    cat doc.html | python -m docwire_spark -
"""

from __future__ import annotations

import argparse
import sys

from docwire_spark import __version__
from docwire_spark.kernel.api import OUTPUT_TYPES, extract


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="docwire_spark",
        description="Extract document content to stdout "
        "(single-document pipeline; use jobs/extract_job.py for "
        "cluster-scale corpora).",
    )
    parser.add_argument(
        "input_file",
        help="path to file to process, or '-' for stdin",
    )
    parser.add_argument(
        "--output_type",
        choices=sorted(OUTPUT_TYPES),
        default="plain_text",
        help="exporter to render the event stream with "
        "(default: plain_text)",
    )
    parser.add_argument(
        "--http-post",
        metavar="URL",
        help="POST the output to URL and print the response instead",
    )
    parser.add_argument(
        "--mime-type",
        help="pin the input media type (skips content sniffing, "
        "like an HTTP Content-Type header)",
    )
    parser.add_argument(
        "--min_creation_time", type=int,
        help="filter emails by min creation time (unix seconds)",
    )
    parser.add_argument(
        "--max_creation_time", type=int,
        help="filter emails by max creation time (unix seconds)",
    )
    parser.add_argument(
        "--max_nodes_number", type=int,
        help="filter by max number of nodes",
    )
    parser.add_argument(
        "--folder_name", help="filter emails by folder name",
    )
    parser.add_argument(
        "--attachment_extension", help="filter by attachment type",
    )
    ai = parser.add_argument_group(
        "OpenAI transforms (docwire.cpp:172-194; applied after the "
        "exporter, in the reference's chain order)"
    )
    ai.add_argument("--openai-chat", metavar="PROMPT",
                    help="prompt to process text via OpenAI")
    ai.add_argument("--openai-extract-entities", action="store_true",
                    help="extract entities from text via OpenAI")
    ai.add_argument("--openai-extract-keywords", type=int, metavar="N",
                    help="extract N keywords/key phrases via OpenAI")
    ai.add_argument("--openai-summarize", action="store_true",
                    help="summarize text via OpenAI")
    ai.add_argument("--openai-detect-sentiment", action="store_true",
                    help="detect sentiment of text via OpenAI")
    ai.add_argument("--openai-analyze-data", action="store_true",
                    help="analyze text for insights via OpenAI")
    ai.add_argument("--openai-classify", nargs="+", metavar="CATEGORY",
                    help="classify text to one of the categories")
    ai.add_argument("--openai-translate-to", metavar="LANGUAGE",
                    help="language to translate text to via OpenAI")
    ai.add_argument("--openai-find", metavar="WHAT",
                    help="find phrase, object or event in text via OpenAI")
    ai.add_argument("--openai-embed", action="store_true",
                    help="generate embedding of text via OpenAI "
                    "(prints a JSON array)")
    ai.add_argument("--openai-text-to-speech", action="store_true",
                    help="convert text to speech (env-blocked: no audio "
                    "codecs in this build)")
    ai.add_argument("--openai-transcribe", action="store_true",
                    help="convert speech to text (env-blocked: no audio "
                    "codecs in this build)")
    ai.add_argument("--openai-key", default="", help="OpenAI API key")
    ai.add_argument("--openai-model", default="gpt-5",
                    help="chat model (default: gpt-5, the reference "
                    "CLI default)")
    ai.add_argument("--openai-embed-model",
                    default="text-embedding-3-small",
                    help="embeddings model")
    ai.add_argument("--openai-temperature", type=float, default=None,
                    help="force specified temperature (default 0, as "
                    "the reference CLI)")
    ai.add_argument("--openai-image-detail", default="auto",
                    choices=("low", "high", "auto"),
                    help="image detail hint")
    ai.add_argument("--openai-base-url", default="https://api.openai.com",
                    metavar="URL",
                    help="OpenAI-wire endpoint to POST to (a trailing "
                    "/v1 is accepted and normalized)")
    ai.add_argument("--local-ai-prompt", metavar="PROMPT",
                    help="prompt for a local AI model (env-blocked: no "
                    "model weights/ct2 runtime in this build)")
    parser.add_argument(
        "--version", action="version",
        version=f"docwire_spark {__version__}",
    )
    return parser


def _ai_chain(args) -> list:
    """The selected chat-family prompts, in the reference CLI's chain
    order (docwire.cpp:337-430)."""
    from docwire_spark.kernel import ai_backend as AB

    # presence of the option selects the transform, whatever its
    # value — "if args.x:" would silently drop e.g. keywords 0
    chain = []
    if args.openai_chat is not None:
        chain.append(args.openai_chat)
    if args.openai_extract_entities:
        chain.append(AB.extract_entities_prompt())
    if args.openai_extract_keywords is not None:
        chain.append(AB.extract_keywords_prompt(args.openai_extract_keywords))
    if args.openai_summarize:
        chain.append(AB.summarize_prompt())
    if args.openai_detect_sentiment:
        chain.append(AB.detect_sentiment_prompt())
    if args.openai_analyze_data:
        chain.append(AB.analyze_data_prompt())
    if args.openai_classify:
        chain.append(AB.classify_prompt(args.openai_classify))
    if args.openai_translate_to is not None:
        chain.append(AB.translate_to_prompt(args.openai_translate_to))
    if args.openai_find is not None:
        chain.append(AB.find_prompt(args.openai_find))
    return chain


def main(argv: list | None = None) -> int:
    args = build_parser().parse_args(argv)

    # always-fatal option combinations are rejected BEFORE any work —
    # extraction and especially the --http-post side effect must not
    # fire for a command that can only fail
    if args.openai_text_to_speech or args.openai_transcribe:
        missing = "text_to_speech/transcribe need audio codecs"
    elif args.local_ai_prompt is not None:
        missing = "local AI inference needs model weights and a ct2 runtime"
    else:
        missing = None
    if missing:
        print(f"Error: {missing}, which this build does not bundle",
              file=sys.stderr)
        return 1

    if args.input_file == "-":
        data = sys.stdin.buffer.read()
        url = ""
    else:
        try:
            with open(args.input_file, "rb") as f:
                data = f.read()
        except OSError as exc:
            print(f"Error: {exc}", file=sys.stderr)
            return 1
        url = args.input_file

    export, out_field, out_mime = OUTPUT_TYPES[args.output_type]
    res = extract(
        data,
        url=url,
        exports=(export,) if export else (),
        mail_min_creation_time=args.min_creation_time,
        mail_max_creation_time=args.max_creation_time,
        max_node_number=args.max_nodes_number,
        folder_names=[args.folder_name] if args.folder_name else None,
        attachment_types=(
            [args.attachment_extension]
            if args.attachment_extension else None
        ),
        mime_hint=args.mime_type,
    )
    if res.error is not None:
        print(f"Error: {res.error}", file=sys.stderr)
        return 1
    out = getattr(res, out_field)
    if out is None:
        print(f"Error: no {args.output_type} output produced",
              file=sys.stderr)
        return 1
    if isinstance(out, str):
        out = out.encode()

    if args.http_post:
        from docwire_spark.serve import HttpPost

        try:
            out, _ = HttpPost(args.http_post)(out, mime=out_mime)
        except (RuntimeError, OSError) as exc:
            print(f"Error: {exc}", file=sys.stderr)
            return 1

    ai_prompts = _ai_chain(args)
    if ai_prompts or args.openai_embed:
        import http.client

        from docwire_spark.kernel.ai_backend import (
            OpenAIChatBackend, OpenAIEmbedBackend,
        )

        # the reference CLI passes temperature 0 unless forced
        # (docwire.cpp:345) — NOT the library default 0.7
        temp = args.openai_temperature
        text = out.decode("utf-8", "replace")
        try:
            for prompt in ai_prompts:
                backend = OpenAIChatBackend(
                    prompt, api_key=args.openai_key,
                    model=args.openai_model,
                    temperature=0.0 if temp is None else temp,
                    image_detail=args.openai_image_detail,
                    base_url=args.openai_base_url,
                )
                try:
                    [text] = backend.complete([text])
                finally:
                    backend.close()
            if args.openai_embed:
                import json as _json

                backend = OpenAIEmbedBackend(
                    api_key=args.openai_key,
                    model=args.openai_embed_model,
                    base_url=args.openai_base_url,
                )
                try:
                    [vec] = backend.embed([text])
                finally:
                    backend.close()
                text = _json.dumps(vec) + "\n"
        except (RuntimeError, OSError, LookupError, TypeError,
                ValueError, http.client.HTTPException) as exc:
            # LookupError: empty choices/data arrays; TypeError:
            # content null; HTTPException: truncated/garbage replies
            print(f"Error: {type(exc).__name__}: {exc}", file=sys.stderr)
            return 1
        out = text.encode()

    sys.stdout.buffer.write(out)
    sys.stdout.buffer.flush()
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
