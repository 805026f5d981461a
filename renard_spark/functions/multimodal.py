"""Multimodal column plumbing: media spans as opaque binaries + typed
metadata, with decode/feature UDFs.

The engine treats image/audio/video as opaque payloads addressed by
``media_ref`` (binary columns when materialized). The Spark-side
plumbing — schemas, Arrow batch shapes, partitioning — is real and
tested. Decoding:

- ``decode_media_bytes`` REALLY decodes codec-free container formats
  from the payload bytes — RIFF/WAV PCM (channels, sample rate,
  duration, amplitude stats), binary PPM and BMP (dimensions, mean
  channel values) — pure byte parsing, no libraries. Compressed
  formats (jpeg/png/mp4/...) hit the codec seam: NotImplementedError
  under ``strict=True``, a deterministic md5 fake otherwise (this
  container ships no codec libraries).
- ``decode_media`` is the ref-only variant (no payload available):
  deterministic fake features from md5(media_ref), same seam.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renard_spark.operators.utils import map_batches

MEDIA_FEATURES_SCHEMA = (
    "doc_id string, media_ref string, kind string, span_order int,"
    " width int, height int, duration_ms int, feature array<float>"
)

FEATURE_DIM = 8


def _fake_decode(media_ref: str, kind: str) -> tuple[int, int, int, list[float]]:
    """Deterministic stand-in for a codec: md5-derived dims/features."""
    h = hashlib.md5(media_ref.encode()).digest()
    width = 64 + h[0] * 4
    height = 64 + h[1] * 4
    duration = (h[2] * 256 + h[3]) if kind == "audio" else 0
    feat = [((b / 255.0) * 2 - 1) for b in h[4 : 4 + FEATURE_DIM]]
    return width, height, duration, feat


def parse_wav(data: bytes) -> tuple[int, int, int, list[float]]:
    """RIFF/WAV PCM byte parser → (width=channels, height=sample_rate/1k,
    duration_ms, amplitude features). Walks the chunk list (fmt /
    data), 16-bit little-endian samples."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, pcm = 12, None, b""
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        size = int.from_bytes(data[pos + 4:pos + 8], "little")
        body = data[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            _, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            fmt = (channels, rate, bits)
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size % 2)
    if fmt is None:
        raise ValueError("WAV without fmt chunk")
    channels, rate, bits = fmt
    frame_bytes = max(channels * bits // 8, 1)
    n_frames = len(pcm) // frame_bytes
    duration_ms = int(n_frames * 1000 / rate) if rate else 0
    samples = [
        struct.unpack_from("<h", pcm, i * 2)[0] / 32768.0
        for i in range(min(len(pcm) // 2, 1024))
    ] or [0.0]
    n = len(samples)
    mean = sum(samples) / n
    rms = (sum(s * s for s in samples) / n) ** 0.5
    feat = [
        channels / 8.0, rate / 48000.0, bits / 32.0,
        min(duration_ms / 60000.0, 1.0),
        mean, rms, min(samples), max(samples),
    ]
    return channels, rate // 1000, duration_ms, feat[:FEATURE_DIM]


def parse_ppm(data: bytes) -> tuple[int, int, int, list[float]]:
    """Binary PPM (P6) byte parser → (width, height, 0, mean-RGB +
    size features)."""
    if data[:2] != b"P6":
        raise ValueError("not a binary PPM payload")
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(data) and data[pos:pos + 1].isspace():
            pos += 1
        if data[pos:pos + 1] == b"#":  # comment to end of line
            while pos < len(data) and data[pos:pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # the single whitespace after maxval
    width, height, maxval = fields
    px = data[pos:pos + width * height * 3]
    n = max(len(px) // 3, 1)
    means = [
        sum(px[c::3]) / (n * max(maxval, 1)) if px else 0.0
        for c in range(3)
    ]
    feat = [
        min(width / 4096.0, 1.0), min(height / 4096.0, 1.0),
        maxval / 255.0, *means, 0.0, 0.0,
    ]
    return width, height, 0, feat[:FEATURE_DIM]


def parse_bmp(data: bytes) -> tuple[int, int, int, list[float]]:
    """BMP byte parser → (width, height, 0, mean-byte features)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    width = int.from_bytes(data[18:22], "little", signed=True)
    height = abs(int.from_bytes(data[22:26], "little", signed=True))
    off = int.from_bytes(data[10:14], "little")
    px = data[off:]
    mean = (sum(px) / (len(px) * 255.0)) if px else 0.0
    feat = [
        min(width / 4096.0, 1.0), min(height / 4096.0, 1.0),
        1.0, mean, mean, mean, 0.0, 0.0,
    ]
    return width, height, 0, feat[:FEATURE_DIM]


_MAGIC_PARSERS = [
    (b"RIFF", parse_wav),
    (b"P6", parse_ppm),
    (b"BM", parse_bmp),
]


def decode_payload(
    data: bytes, media_ref: str, kind: str, strict: bool = False
) -> tuple[int, int, int, list[float]]:
    """Dispatch on magic bytes: codec-free formats decode for real;
    anything else is the codec seam (raise under strict, fake
    otherwise)."""
    for magic, parser in _MAGIC_PARSERS:
        if data[:len(magic)] == magic:
            return parser(data)
    if strict:
        raise NotImplementedError(
            f"no built-in parser for this payload ({data[:4]!r}); "
            "compressed formats need a codec library — integrate it here"
        )
    return _fake_decode(media_ref, kind)


def decode_media_bytes(
    media_df: DataFrame, strict: bool = False, payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, span_order, kind, media_ref, payload binary) → decoded
    features in one Arrow-batch step (``utils.map_batches``), REAL byte
    parsing for WAV/PPM/BMP (see decode_payload); a NULL payload decodes
    like an unknown format."""
    cols = ["doc_id", "span_order", "kind", "media_ref", payload_col]

    def step(batches):
        for batch in batches:
            rows = []
            for doc_id, order, kind, ref, payload in zip(
                *(batch[c] for c in cols)
            ):
                w, hgt, dur, feat = decode_payload(
                    payload or b"", ref, kind, strict)
                rows.append((doc_id, ref, kind, order, w, hgt, dur, feat))
            yield rows

    return map_batches(media_df.select(*cols), step, MEDIA_FEATURES_SCHEMA)


def decode_media(media_spans_df: DataFrame, strict: bool = False) -> DataFrame:
    """media spans (doc_id, span_order, kind, media_ref, offset) →
    decoded features: ``decode_media_bytes`` with no payload.

    strict=True raises NotImplementedError (the codec integration
    point); strict=False emits the deterministic fake so downstream
    plumbing (similarity over media features, joins back to spans) is
    testable in this container.
    """
    return decode_media_bytes(
        media_spans_df.withColumn("_payload", F.lit(None).cast("binary")),
        strict, "_payload",
    )


def frame_sample_plan(decoded: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Audio/video frame sampling *plan*: one row per planned frame
    (doc_id, media_ref, frame_idx, t_ms). The frame extraction itself
    is part of the codec stub; the explode/partition shape is the real
    scale concern and is exercised here."""
    a = decoded.filter(F.col("kind") == "audio")
    return a.select(
        "doc_id",
        "media_ref",
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.greatest((F.col("duration_ms") / every_ms).cast("int") - 1, F.lit(0)),
            )
        ).alias("frame_idx", "_i"),
    ).select(
        "doc_id", "media_ref", "frame_idx",
        (F.col("frame_idx") * every_ms).alias("t_ms"),
    )
