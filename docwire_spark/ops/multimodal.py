"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata extracted inside Arrow-batched kernels (``map_batches``).

No image/audio decode is done here; the *header parse* is real: the
media table synthesizes genuine PNG/JPEG/GIF/BMP/WEBP(VP8|VP8L|VP8X)/
WAV container headers around the document payload, and
``kernel.media_headers`` reads width/height/duration back out of the
bytes with pure struct parsing — binary Arrow columns in, typed
columns out, no per-row Python dispatch at the Spark layer.

The header fields are deterministic functions of ``doc_id`` (that is
how the builders size them), so the DuckDB oracle reconstructs the
parsed values analytically — the parse is verified end-to-end through
real binary headers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
)

from docwire_spark.kernel import media_headers as MH
from docwire_spark.ops.common import load
from docwire_spark.spark.session import map_batches

META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("byte_len", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("duration_ms", LongType()),
    ]
)

BLOB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("blob", BinaryType()),
    ]
)


def _doc_dims(doc_id: int):
    return 16 + (doc_id * 7) % 1000, 16 + (doc_id * 13) % 800


_IMAGE_BUILDERS = (MH.build_png, MH.build_jpeg, MH.build_gif, MH.build_bmp)
_WEBP_BUILDERS = (MH.build_webp_vp8, MH.build_webp_vp8l, MH.build_webp_vp8x)


def build_media_blob(doc_id: int, payload: bytes) -> bytes:
    """Deterministic real-container blob for a document: doc_id % 3
    cycles image (png/jpeg/gif/bmp by doc_id//3), wav audio, and the
    three WEBP chunk variants."""
    w, h = _doc_dims(doc_id)
    k = doc_id % 3
    if k == 0:
        return _IMAGE_BUILDERS[(doc_id // 3) % 4](w, h, payload)
    if k == 1:
        return MH.build_wav(payload)
    return _WEBP_BUILDERS[(doc_id // 3) % 3](w, h, payload)


def _blob_batches(iterator):
    for batch in iterator:
        # NULL text -> empty payload: one bad row must never kill a
        # 10^12-doc media job (None.encode() would)
        blobs = [
            build_media_blob(
                d, t.encode("utf-8") if isinstance(t, str) else b""
            )
            for d, t in zip(batch.column("doc_id").to_pylist(),
                            batch.column("text").to_pylist())
        ]
        yield {"doc_id": batch.column("doc_id"), "blob": blobs}


def _media_batches(iterator):
    for batch in iterator:
        rows = {k.name: [] for k in META_SCHEMA.fields}
        for doc_id, blob in zip(batch.column("doc_id").to_pylist(),
                                batch.column("blob").to_pylist()):
            hdr = MH.parse_media_header(blob if blob is not None else b"")
            rows["doc_id"].append(doc_id)
            rows["fmt"].append(hdr["format"])
            rows["byte_len"].append(hdr["byte_len"])
            rows["width"].append(hdr["width"])
            rows["height"].append(hdr["height"])
            rows["duration_ms"].append(hdr["duration_ms"])
        yield rows


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media fixture table: real container headers (built by
    kernel.media_headers) wrapping the document text as payload."""
    docs = load(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    return map_batches(docs, _blob_batches, BLOB_SCHEMA)


def parse_media_meta(media: DataFrame) -> DataFrame:
    """The parse stage alone: (doc_id, blob BINARY) -> typed header
    metadata.  Split out so harnesses can time header parsing over a
    persisted media table separately from fixture construction
    (VERDICT r3 #4 — the combined number hid parse regressions)."""
    return map_batches(media, _media_batches, META_SCHEMA)


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary blob column -> parsed container metadata, Arrow-batched."""
    return parse_media_meta(media_table(spark, sf_dir))


# header sizes the builders emit (verified by tests); the oracle uses
# them to reconstruct byte_len analytically
_HDR = {"png": 33, "jpeg": 21, "gif": 13, "bmp": 54,
        "vp8": 30, "vp8l": 25, "vp8x": 30, "wav": 44}

MULTIMODAL_META_SQL = f"""
WITH m AS (
  SELECT doc_id, octet_length(encode(COALESCE(text, ''))) AS n,
         CASE WHEN doc_id % 3 = 1 THEN 'wav'
              WHEN doc_id % 3 = 0 THEN
                ['png','jpeg','gif','bmp'][CAST((doc_id // 3) % 4 AS INT) + 1]
              ELSE 'webp' END AS fmt,
         CASE WHEN doc_id % 3 = 2 THEN
                ['vp8','vp8l','vp8x'][CAST((doc_id // 3) % 3 AS INT) + 1]
              END AS variant
  FROM documents
)
SELECT doc_id, fmt,
       CAST(n + CASE WHEN fmt = 'png' THEN {_HDR['png']}
                     WHEN fmt = 'jpeg' THEN {_HDR['jpeg']}
                     WHEN fmt = 'gif' THEN {_HDR['gif']}
                     WHEN fmt = 'bmp' THEN {_HDR['bmp']}
                     WHEN fmt = 'wav' THEN {_HDR['wav']}
                     WHEN variant = 'vp8l' THEN {_HDR['vp8l']}
                     ELSE {_HDR['vp8']} END AS BIGINT) AS byte_len,
       CASE WHEN fmt <> 'wav'
            THEN CAST(16 + (doc_id * 7) % 1000 AS BIGINT) END AS width,
       CASE WHEN fmt <> 'wav'
            THEN CAST(16 + (doc_id * 13) % 800 AS BIGINT) END AS height,
       CASE WHEN fmt = 'wav'
            THEN CAST(n * 1000 // 16000 AS BIGINT) END AS duration_ms
FROM m
"""

# ---------------------------------------------------------------------------
# frame sampling (one-to-many media op)
# ---------------------------------------------------------------------------

FRAME_INTERVAL_MS = 100
MAX_FRAMES = 8

FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("ts_ms", LongType()),
        StructField("frame_sha", StringType()),
    ]
)


def sample_frames(blob: bytes, duration_ms: int):
    """Deterministic fake frame decode (stands in for an ffmpeg
    keyframe pull): one frame per FRAME_INTERVAL_MS up to MAX_FRAMES;
    each "frame" is a 16-byte slice of the payload at a stride-37
    offset.  The plumbing — one input row fanning out to N output
    rows inside the Arrow batch — is the real thing; swap this for a
    codec on a cluster that has one."""
    import hashlib

    n = min(duration_ms // FRAME_INTERVAL_MS + 1, MAX_FRAMES)
    window = max(len(blob) - 15, 1)
    out = []
    for k in range(n):
        off = (k * 37) % window
        frame = blob[off:off + 16]
        out.append((k, k * FRAME_INTERVAL_MS,
                    hashlib.sha256(frame).hexdigest()))
    return out


def _frame_batches(iterator):
    for batch in iterator:
        rows = {k.name: [] for k in FRAMES_SCHEMA.fields}
        for doc_id, blob in zip(batch.column("doc_id").to_pylist(),
                                batch.column("blob").to_pylist()):
            if blob is None:
                continue  # no payload -> no frames (oracle: n IS NULL)
            for idx, ts, sha in sample_frames(blob, len(blob) * 3):
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(idx)
                rows["ts_ms"].append(ts)
                rows["frame_sha"].append(sha)
        yield rows


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the video slice (doc_id % 3 == 2) of the
    corpus: binary column in, N frame rows out per video (the
    one-to-many Arrow-batch shape video/audio feature extraction
    needs).  Frames sample the raw payload stream — the container
    header belongs to multimodal_meta."""
    docs = load(spark, sf_dir, "documents", parallelize=True).filter(F.col("doc_id") % 3 == 2)
    videos = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("blob")
    )
    return map_batches(videos, _frame_batches, FRAMES_SCHEMA)


MULTIMODAL_FRAMES_SQL = f"""
WITH v AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE doc_id % 3 = 2
),
f AS (
  SELECT doc_id, text, n, g.k AS frame_idx
  FROM v, generate_series(0, {MAX_FRAMES - 1}) g(k)
  WHERE g.k < least(n * 3 // {FRAME_INTERVAL_MS} + 1, {MAX_FRAMES})
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * {FRAME_INTERVAL_MS} AS BIGINT) AS ts_ms,
       sha256(substr(text,
                     ((frame_idx * 37) % greatest(n - 15, 1)) + 1, 16))
         AS frame_sha
FROM f
"""

QUERIES = {
    "multimodal_meta": multimodal_meta,
    "multimodal_frames": multimodal_frames,
}
ORACLES = {
    "multimodal_meta": MULTIMODAL_META_SQL,
    "multimodal_frames": MULTIMODAL_FRAMES_SQL,
}
