"""docwire_spark — a PySpark-native document/web-text extraction engine.

A brand-new implementation of the per-document extraction semantics of the
DocWire SDK (reference: silver-byte/docwire), re-expressed Spark-first:

- ``kernel``   — pure-Python, dependency-light extraction kernels
  (HTML5 tokenizer + DOM + whitespace machine, plain-text renderer,
  charset normalization, MIME sniffing, TXT/XML/PDF parsers).  These run
  *inside* vectorized ``mapInArrow`` UDFs; no Spark imports here.
- ``spark``    — the distributed shell: byte-bounded scan splits,
  skew salting, per-partition lineage/metrics, idempotent checkpointed
  writes sharded by url hash, synthetic Common-Crawl-style corpus
  generator.
- ``functions``— training-data-pipeline operators over extracted text:
  dedup (exact / minhash-LSH / simhash / n-gram jaccard), similarity
  search over embeddings, language id, quality scoring, tokenization,
  fingerprinting.
- ``ops``      — the oracle-checked corpus operator registry (dedup,
  similarity/ANN, LM filtering, packing, web-graph, WARC, streaming,
  the AI transform family: batched model-backend chat/embed plus
  deterministic task analogs).
- ``serve``    — the HTTP edge surface (pipeline-over-POST server and
  the ``http::post`` element); ``cli`` — the single-document
  ``python -m docwire_spark`` command.
"""

__version__ = "0.1.0"
