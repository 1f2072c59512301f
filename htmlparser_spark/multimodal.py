"""Multimodal (image/audio) binary-column operators.

Real deployments decode media with PIL/ffmpeg; those libraries are not in
this container, so the DECODER here parses a deterministic synthetic format
("FIMG"/"FAUD" headers + payload) — but everything Spark-side is production
shaped: binary columns travel as Arrow buffers through one ``mapInArrow``
stage (``_rowmap.flat_map``), the per-row functions unpack bytes with
``struct``, and outputs are typed columns.
Swapping `_decode_image_blob` for PIL is a one-function change.

The synthetic metadata is a pure function of media_id, so the DuckDB oracle
recomputes expected width/height/... arithmetically and the driver's
value-hash gate verifies the BINARY ROUND-TRIP end-to-end (generate bytes →
shuffle through Arrow → parse bytes → match the closed-form values).

Formats:
  image: b"FIMG" | u32 width | u32 height | u8 channels | payload
         width  = 16 + (id * 7919)  % 240
         height = 16 + (id * 104729) % 240
         channels = 1 + id % 3
         payload  = min(width*height*channels, 4096) pseudo-bytes
  audio: b"FAUD" | u32 sample_rate | u32 n_samples | payload
         sample_rate = 8000 + (id % 5) * 4000
         n_samples   = 1000 + (id * 31) % 9000
         payload     = min(n_samples*2, 4096) pseudo-bytes (s16le)
media_id is even -> image, odd -> audio.
"""
from __future__ import annotations

import hashlib
import struct
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from ._rowmap import flat_map, id_range

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("blob", BinaryType()),
])

PAYLOAD_CAP = 4096


def _payload(media_id: int, n: int) -> bytes:
    n = min(n, PAYLOAD_CAP)
    out = bytearray()
    i = 0
    while len(out) < n:
        out += hashlib.md5(f"media:{media_id}:{i}".encode()).digest()
        i += 1
    return bytes(out[:n])


def image_dims(media_id: int) -> tuple[int, int, int]:
    return (16 + (media_id * 7919) % 240,
            16 + (media_id * 104729) % 240,
            1 + media_id % 3)


def audio_params(media_id: int) -> tuple[int, int]:
    return (8000 + (media_id % 5) * 4000, 1000 + (media_id * 31) % 9000)


def make_blob(media_id: int) -> tuple[str, bytes]:
    if media_id % 2 == 0:
        w, h, c = image_dims(media_id)
        return "image", (b"FIMG" + struct.pack(">IIB", w, h, c)
                         + _payload(media_id, w * h * c))
    sr, ns = audio_params(media_id)
    return "audio", (b"FAUD" + struct.pack(">II", sr, ns)
                     + _payload(media_id, ns * 2))


def _media_row(media_id: int):
    return [(media_id, *make_blob(media_id))]


def synth_media(spark: SparkSession, n_rows: int,
                partitions: int = 8) -> DataFrame:
    """Distributed deterministic media table (never driver-materialized)."""
    return flat_map(id_range(spark, n_rows, partitions), _media_row, ["id"],
                    MEDIA_SCHEMA)


# --- decode (the PIL/ffmpeg stand-in) ----------------------------------------

DECODE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", IntegerType()),
    StructField("payload_len", IntegerType()),
])


def _decode_image_blob(blob: bytes):
    """Swap-in point for PIL: `Image.open(io.BytesIO(blob))`."""
    if blob[:4] != b"FIMG":
        raise ValueError("not a FIMG blob")
    w, h, c = struct.unpack(">IIB", blob[4:13])
    return w, h, c, len(blob) - 13


def _decode_audio_blob(blob: bytes):
    if blob[:4] != b"FAUD":
        raise ValueError("not a FAUD blob")
    sr, ns = struct.unpack(">II", blob[4:12])
    return sr, ns, len(blob) - 12


def _decoded(mid: int, blob: bytes):
    b = bytes(blob)
    if b[:4] == b"FIMG":
        w, h, c, plen = _decode_image_blob(b)
        return [(mid, "image", w, h, c, None, None, plen)]
    if b[:4] == b"FAUD":
        sr, ns, plen = _decode_audio_blob(b)
        return [(mid, "audio", None, None, None, sr, ns, plen)]
    return [(mid, "unknown", None, None, None, None, None, len(b))]


def media_decode(spark: SparkSession, n_rows: int = 400) -> DataFrame:
    return flat_map(synth_media(spark, n_rows), _decoded,
                    ["media_id", "blob"], DECODE_SCHEMA)


# --- resize (image) -----------------------------------------------------------

RESIZE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("out_w", IntegerType()),
    StructField("out_h", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("out_len", IntegerType()),
])


def _resized(mid: int, blob: bytes, factor: int = 2):
    """Half-size "resize": deterministic byte subsample standing in for a
    vectorized PIL/cv2 resize; the output blob length is what a packed
    (w//2, h//2, c) image would occupy (capped by available payload)."""
    b = bytes(blob)
    if b[:4] != b"FIMG":
        return []
    w, h, c, _plen = _decode_image_blob(b)
    w2, h2 = max(w // factor, 1), max(h // factor, 1)
    out = b[13:][::factor * factor][:w2 * h2 * c]
    return [(mid, w2, h2, c, len(out))]


def image_resize(spark: SparkSession, n_rows: int = 400) -> DataFrame:
    return flat_map(synth_media(spark, n_rows).filter("kind = 'image'"),
                    _resized, ["media_id", "blob"], RESIZE_SCHEMA)


# --- frame sampling (audio) ---------------------------------------------------

FRAME_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_bytes", IntegerType()),
])

FRAME_STRIDE = 1000   # samples between frame starts
FRAME_LEN = 256       # samples per frame


def _audio_frames(mid: int, blob: bytes):
    """Every FRAME_STRIDE samples take a FRAME_LEN-sample frame (ffmpeg
    keyframe-sample stand-in); one output row per frame."""
    b = bytes(blob)
    if b[:4] != b"FAUD":
        return []
    _sr, ns, _plen = _decode_audio_blob(b)
    payload = b[12:]
    rows = []
    for idx, start in enumerate(range(0, ns, FRAME_STRIDE)):
        take = min(FRAME_LEN, ns - start) * 2
        rows.append((mid, idx, len(payload[start * 2:start * 2 + take])))
    return rows


def audio_frame_sample(spark: SparkSession, n_rows: int = 400) -> DataFrame:
    return flat_map(synth_media(spark, n_rows).filter("kind = 'audio'"),
                    _audio_frames, ["media_id", "blob"], FRAME_SCHEMA)


# --- video frame sampling -----------------------------------------------------
#
# Same design as the audio path: a deterministic synthetic container
# ("FVID" | u16 width | u16 height | u8 fps | u16 n_frames | payload of
# min(n_frames, 64) per-frame 16-byte digests) stands in for a real codec;
# swap `_decode_video_blob` + the sampling loop for ffmpeg keyframe
# extraction. Geometry/fps/frame count are pure functions of media_id, so
# the DuckDB oracle recomputes them arithmetically and the value-hash gate
# verifies the byte-level decode.

VIDEO_FRAME_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("ts_ms", IntegerType()),
    StructField("frame_bytes", IntegerType()),
])

VIDEO_SAMPLE_EVERY = 8  # sample every 8th frame
VIDEO_PAYLOAD_FRAMES = 64


def video_params(media_id: int) -> tuple[int, int, int, int]:
    return (160 + (media_id * 37) % 480,      # width
            120 + (media_id * 53) % 360,      # height
            12 + (media_id % 4) * 6,          # fps: 12/18/24/30
            30 + (media_id * 17) % 270)       # n_frames

def make_video_blob(media_id: int) -> bytes:
    w, h, fps, nf = video_params(media_id)
    payload = b"".join(
        hashlib.md5(f"vid:{media_id}:{f}".encode()).digest()
        for f in range(min(nf, VIDEO_PAYLOAD_FRAMES)))
    return b"FVID" + struct.pack(">HHBH", w, h, fps, nf) + payload


def _keyed_blob(make, media_id: int):
    return [(media_id, make(media_id))]


def synth_videos(spark: SparkSession, n_rows: int,
                 partitions: int = 8) -> DataFrame:
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("blob", BinaryType()),
    ])
    return flat_map(id_range(spark, n_rows, partitions),
                    partial(_keyed_blob, make_video_blob), ["id"], schema)


def _decode_video_blob(blob: bytes):
    """Swap-in point for ffmpeg/PyAV stream opening."""
    if blob[:4] != b"FVID":
        raise ValueError("not a FVID blob")
    w, h, fps, nf = struct.unpack(">HHBH", blob[4:11])
    return w, h, fps, nf, blob[11:]


def _video_frames(mid: int, blob: bytes):
    """Every VIDEO_SAMPLE_EVERY-th frame: one output row with its timestamp
    (frame/fps) and the bytes available for it in the payload (16-byte
    digest per stored frame, 0 past the stored window)."""
    _w, _h, fps, nf, payload = _decode_video_blob(bytes(blob))
    return [(mid, idx, (f * 1000) // fps, len(payload[f * 16:(f + 1) * 16]))
            for idx, f in enumerate(range(0, nf, VIDEO_SAMPLE_EVERY))]


def video_frame_sample(spark: SparkSession, n_rows: int = 200) -> DataFrame:
    return flat_map(synth_videos(spark, n_rows), _video_frames,
                    ["media_id", "blob"], VIDEO_FRAME_SCHEMA)


# --- PDF text/layout extraction (north-rule tier: "PDF/layout parse") --------
#
# Real deployments parse PDFs with pypdf/pdfminer/poppler; none ship in this
# container, so the DECODER parses a deterministic synthetic container
# ("FPDF" | u8 n_pages | per page: u16 byte_len | utf-8 text) — but the
# Spark side is production-shaped: binary blobs through mapInArrow, one
# output row per page. The page text is a pure function of (doc_id, page,
# word) through md5, so the DuckDB oracle recomputes the exact strings and
# the value-hash gate verifies the real byte round-trip.
# Swap `_decode_pdf_blob` for pypdf's `PdfReader(...).pages[i].extract_text()`.

PDF_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("blob", BinaryType()),
])

PDF_PAGE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("page_no", IntegerType()),
    StructField("text", StringType()),
    StructField("n_words", IntegerType()),
    StructField("n_chars", IntegerType()),
])


def _pdf_page_text(doc_id: int, page_no: int) -> str:
    n_words = 10 + (doc_id + page_no) % 20
    return " ".join(
        hashlib.md5(f"pdf:{doc_id}:{page_no}:{w}".encode()).hexdigest()[:6]
        for w in range(n_words))


def make_pdf_blob(doc_id: int) -> bytes:
    n_pages = 1 + doc_id % 5
    out = bytearray(b"FPDF")
    out.append(n_pages)
    for p in range(n_pages):
        data = _pdf_page_text(doc_id, p).encode("utf-8")
        out += struct.pack(">H", len(data))
        out += data
    return bytes(out)


def synth_pdfs(spark: SparkSession, n_rows: int,
               partitions: int = 8) -> DataFrame:
    return flat_map(id_range(spark, n_rows, partitions),
                    partial(_keyed_blob, make_pdf_blob), ["id"], PDF_SCHEMA)


def _decode_pdf_blob(blob: bytes) -> list[str]:
    """Swap-in point for pypdf: returns per-page extracted text."""
    if blob[:4] != b"FPDF":
        raise ValueError("not a FPDF blob")
    n_pages = blob[4]
    pages = []
    off = 5
    for _ in range(n_pages):
        (ln,) = struct.unpack(">H", blob[off:off + 2])
        off += 2
        pages.append(blob[off:off + ln].decode("utf-8"))
        off += ln
    return pages


def _pdf_pages(did: int, blob: bytes):
    return [(did, p, text, text.count(" ") + 1, len(text))
            for p, text in enumerate(_decode_pdf_blob(bytes(blob)))]


def pdf_text_extract(spark: SparkSession, n_rows: int = 200) -> DataFrame:
    return flat_map(synth_pdfs(spark, n_rows), _pdf_pages,
                    ["doc_id", "blob"], PDF_PAGE_SCHEMA)


# --- feature extraction stub --------------------------------------------------

FEATURE_DIM = 8


def media_feature_vector(spark: SparkSession, n_rows: int = 400) -> DataFrame:
    """Deterministic md5-based feature vector per blob — the CLIP/wav2vec
    stand-in. Returned as array<double> for downstream ANN ops."""
    from pyspark.sql.types import ArrayType, DoubleType
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("feature", ArrayType(DoubleType())),
    ])

    return flat_map(synth_media(spark, n_rows), _feature,
                    ["media_id", "kind", "blob"], schema)


def _feature(mid: int, kind: str, blob: bytes):
    d = hashlib.md5(bytes(blob)).digest()
    return [(mid, kind, [((d[i] << 8 | d[i + 1]) / 65535.0) - 0.5
                         for i in range(0, FEATURE_DIM * 2, 2)])]
