"""Multimodal column operators: opaque binary payloads + typed metadata.

Training-data pipelines carry image/audio/video as ``binary`` columns with a
metadata struct; compute-heavy decode/feature steps run as Arrow-batched
``mapInPandas`` so each executor processes whole record batches.

The decoder is a stdlib-only codec layer: container header parsing for
PNG / GIF / JPEG / BMP (dimensions) and RIFF-WAVE (sample rate, frame count),
and compressed-text payload decode (gzip / zlib / plain UTF-8). This covers
the metadata a 100 TB curation pipeline actually filters on (dimensions,
duration, format, text length) without any third-party codec. Full
pixel/sample decode (Pillow/ffmpeg-class work) still needs an external
library; ``_parse_*`` below are the plug points. Output depends only on the
payload bytes, never on partitioning or environment.
"""

from __future__ import annotations

import gzip
import struct
import zlib
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image | audio | video | text | unknown
        T.StructField("format", T.StringType()),       # png | gif | jpeg | bmp | wav | gzip | zlib | utf-8
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("text_chars", T.IntegerType()),  # decoded char count (text payloads)
        T.StructField("n_bytes", T.LongType()),
    ]
)

_META_KEYS = [f.name for f in MEDIA_META_SCHEMA.fields]

FEATURE_DIM = 16


# --------------------------------------------------------------------------
# Real stdlib codecs: header parsers (one per container format)
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# JPEG start-of-frame markers that carry dimensions (C4/C8/CC are
# huffman/arithmetic tables, not frames).
_JPEG_SOF = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}


def _parse_png(b: bytes) -> Optional[dict]:
    """PNG: 8-byte signature, then the IHDR chunk — width/height are
    big-endian u32 at bytes 16..24 (PNG spec §11.2.2)."""
    if len(b) < 24 or not b.startswith(_PNG_SIG) or b[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", b[16:24])
    return {"media_type": "image", "format": "png", "width": w, "height": h,
            "n_frames": 1}


def _parse_gif(b: bytes) -> Optional[dict]:
    """GIF87a/89a: logical-screen width/height are little-endian u16 at 6..10."""
    if len(b) < 10 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", b[6:10])
    return {"media_type": "image", "format": "gif", "width": w, "height": h}


def _parse_bmp(b: bytes) -> Optional[dict]:
    """BMP: BITMAPINFOHEADER width/height are little-endian i32 at 18..26.

    'BM' alone is plausible TEXT (unlike the other signatures), so the sniff
    also requires the reserved words at 6..10 to be zero and the DIB header
    size at 14..18 to be a known value — otherwise a text payload starting
    with "BM…" would decode address characters as image dimensions."""
    if len(b) < 26 or b[:2] != b"BM":
        return None
    if b[6:10] != b"\x00\x00\x00\x00":
        return None
    if struct.unpack("<I", b[14:18])[0] not in (12, 40, 52, 56, 64, 108, 124):
        return None
    w, h = struct.unpack("<ii", b[18:26])
    return {"media_type": "image", "format": "bmp", "width": w, "height": abs(h),
            "n_frames": 1}


def _parse_jpeg(b: bytes) -> Optional[dict]:
    """JPEG: walk the marker stream to the first start-of-frame segment;
    height/width are big-endian u16 at SOF+5 (ITU T.81 §B.2.2)."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            return None  # lost marker sync — treat as unparseable
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in _JPEG_SOF:
            if i + 9 > len(b):
                return None
            h, w = struct.unpack(">HH", b[i + 5:i + 9])
            return {"media_type": "image", "format": "jpeg", "width": w,
                    "height": h, "n_frames": 1}
        if marker == 0xD9 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            i += 2  # standalone marker, no length field
            continue
        if i + 4 > len(b):
            return None
        seg_len = struct.unpack(">H", b[i + 2:i + 4])[0]
        i += 2 + seg_len
    return None


def _parse_wav(b: bytes) -> Optional[dict]:
    """RIFF-WAVE: walk chunks; ``fmt `` carries sample rate + block align,
    ``data`` carries payload size → n_frames = data_size // block_align."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    sample_rate = block_align = data_size = None
    i = 12
    while i + 8 <= len(b):
        cid = b[i:i + 4]
        size = struct.unpack("<I", b[i + 4:i + 8])[0]
        if cid == b"fmt " and size >= 16 and i + 8 + 16 <= len(b):
            sample_rate = struct.unpack("<I", b[i + 12:i + 16])[0]
            block_align = struct.unpack("<H", b[i + 20:i + 22])[0]
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None:
        return None
    n_frames = (data_size // block_align) if (data_size and block_align) else None
    return {"media_type": "audio", "format": "wav", "sample_rate": sample_rate,
            "n_frames": n_frames}


def _parse_text(b: bytes) -> Optional[dict]:
    """Compressed / plain UTF-8 text payloads (the html:binary shape)."""
    fmt = None
    raw = None
    if len(b) >= 2 and b[:2] == b"\x1f\x8b":
        try:
            raw, fmt = gzip.decompress(b), "gzip"
        except Exception:
            return None
    elif len(b) >= 2 and b[0] == 0x78:  # common zlib CMF byte (32K window)
        try:
            raw, fmt = zlib.decompress(b), "zlib"
        except Exception:
            raw = None
    if raw is None:
        raw, fmt = b, "utf-8"
    try:
        text = raw.decode("utf-8")
    except UnicodeDecodeError:
        return None
    return {"media_type": "text", "format": fmt, "text_chars": len(text)}


def _real_decode(payload: bytes) -> dict:
    """Stdlib codec dispatch: container signature first, then text payloads.

    Returns a full MEDIA_META_SCHEMA dict; unparseable payloads come back as
    ``media_type="unknown"`` with null fields — never an exception, so one
    corrupt page can't kill a 100 TB decode stage."""
    b = payload or b""
    meta = (
        _parse_png(b) or _parse_gif(b) or _parse_bmp(b) or _parse_jpeg(b)
        or _parse_wav(b) or _parse_text(b)
        or {"media_type": "unknown", "format": None}
    )
    meta["n_bytes"] = len(b)
    return {k: meta.get(k) for k in _META_KEYS}


def decode_media(df: DataFrame, binary_col: str = "html") -> DataFrame:
    """binary → typed metadata struct via the stdlib header/text codecs
    above, Arrow-batched (mapInPandas keeps the byte payloads inside the
    worker; no per-row Python UDF)."""
    out_schema = T.StructType(df.schema.fields + [T.StructField("media", MEDIA_META_SCHEMA)])

    def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            metas = [_real_decode(bytes(p) if p is not None else b"") for p in batch[binary_col]]
            batch = batch.copy()
            batch["media"] = [tuple(m[k] for k in _META_KEYS) for m in metas]
            yield batch

    return df.mapInPandas(_decode_batch, schema=out_schema)


def _real_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Content-based featurizer feasible with the stdlib: an L1-normalized
    ``dim``-bin byte histogram. Crude but real — near-identical payloads get
    near-identical vectors, which is the property the downstream near-dup /
    ANN operators consume. A learned embedding model plugs in here."""
    b = payload or b""
    if not b:
        return [0.0] * dim
    counts = [0] * dim
    span = 256 // dim
    for byte in b:
        counts[byte // span] += 1
    n = float(len(b))
    return [round(c / n, 6) for c in counts]


def extract_media_features(df: DataFrame, binary_col: str = "html",
                           key_cols: list[str] | None = None) -> DataFrame:
    """binary → fixed-dim float feature vector (the embedding-extraction
    shape: batched kernel, narrow output, key columns carried through)."""
    keys = key_cols or ["url"]
    out_schema = T.StructType(
        [df.schema[k] for k in keys]
        + [T.StructField("features", T.ArrayType(T.FloatType()))]
    )

    def _features_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = batch[keys].copy()
            out["features"] = [
                _real_features(bytes(p) if p is not None else b"")
                for p in batch[binary_col]
            ]
            yield out

    return df.mapInPandas(_features_batch, schema=out_schema)


# --------------------------------------------------------------------------
# Deterministic payload encoders — test fixtures + driver-query synthesis.
# Each emits a spec-valid container so the REAL decoders above are exercised
# on well-formed binaries (round-trip: encode(args) → decode → args).
# --------------------------------------------------------------------------

def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def encode_png(width: int, height: int) -> bytes:
    """Minimal valid 8-bit grayscale PNG (all-zero pixels, correct CRCs)."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x00" * width for _ in range(height))
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw, 1))
            + _png_chunk(b"IEND", b""))


def encode_gif(width: int, height: int) -> bytes:
    """GIF89a header + logical screen descriptor + trailer."""
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00\x3b"


def encode_jpeg(width: int, height: int) -> bytes:
    """Structural JPEG: SOI, JFIF APP0, SOF0 carrying the dimensions, EOI."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", height, width) + b"\x01\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def encode_wav(sample_rate: int, n_samples: int) -> bytes:
    """Canonical 44-byte PCM16-mono WAVE header + silent samples."""
    block_align = 2
    data = b"\x00\x00" * n_samples
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * block_align,
                      block_align, 16)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def encode_text(text: str, codec: str = "zlib") -> bytes:
    """UTF-8 text payload, optionally compressed. gzip uses ``mtime=0`` so
    the bytes are deterministic across runs (the fixture/driver contract)."""
    raw = text.encode("utf-8")
    if codec == "zlib":
        return zlib.compress(raw)
    if codec == "gzip":
        return gzip.compress(raw, mtime=0)
    return raw


def sample_frames(df: DataFrame, binary_col: str = "html", n_frames: int = 4,
                  key_cols: list[str] | None = None) -> DataFrame:
    """Deterministic frame sampling for "video" payloads: one output row per
    sampled frame, frame bytes = evenly spaced slices of the payload.

    Pure JVM dataflow — ``explode(sequence)`` fan-out + binary ``substring``
    slices, zero Python on the data path (whole-stage codegen end to end).
    A real codec's frame decode would replace the substring with a
    ``mapInPandas`` kernel on the same (keys, frame_idx, frame) shape."""
    keys = key_cols or ["url"]
    payload = F.coalesce(F.col(binary_col), F.lit(b""))
    # step = max(len // n_frames, 1); slice idx covers [idx*step, idx*step+step)
    step = F.greatest(F.floor(F.length(payload) / n_frames).cast("int"), F.lit(1))
    return (
        df.select(*keys, payload.alias("_payload"), step.alias("_step"))
        .withColumn("frame_idx", F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))))
        .withColumn(
            "frame",
            F.substring(F.col("_payload"), F.col("frame_idx") * F.col("_step") + 1, F.col("_step")),
        )
        .select(*keys, F.col("frame_idx").cast("int").alias("frame_idx"), "frame")
    )
