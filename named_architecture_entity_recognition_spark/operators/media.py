"""Multimodal span processing: media spans as opaque binary/URI columns
with typed metadata, decoded/feature-extracted via Arrow-batched
mapInPandas.

Decode paths:
- ``extract_media_features``: deterministic synthetic features from
  the media_ref (plumbing-only; no bytes needed).
- REAL decode: ``extract_ppm_features`` parses actual P6 PPM image
  bytes with a pure-numpy decoder (``decode_ppm``) — header, comments,
  maxval, raw RGB plane — no codec library required. Compressed formats
  (JPEG/PNG/video) need a codec library, which this package does not
  use.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_FEATURES = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("offset", IntegerType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)


def media_spans(docs: DataFrame) -> DataFrame:
    """Extract media spans (narrow): (doc_id, kind, media_ref, offset)."""
    return docs.select(
        "doc_id",
        F.explode(F.filter("spans", lambda s: s["kind"] != F.lit("text"))).alias("m"),
    ).select(
        "doc_id",
        F.col("m.kind").alias("kind"),
        F.col("m.media_ref").alias("media_ref"),
        F.col("m.offset").alias("offset"),
    )


def _fake_decode(media_ref: str, dim: int):
    """Deterministic stand-in for image decode + embedding: features are
    a pure function of the media_ref via md5 — ENGINE-PORTABLE, so an
    external SQL oracle (DuckDB) recomputes every value bit-for-bit:

      width    = 64 + hex(md5(ref)[0:4])  % 1984
      height   = 64 + hex(md5(ref)[4:8])  % 1984
      embed[i] = float32(hex(md5(ref || ':' || i)[0:8]) / 2^32 * 2 - 1)

    The double arithmetic is exact (32-bit ints over power-of-two
    denominators) and the final float32 rounding is IEEE
    round-to-nearest in both engines, so q_media_features is fully
    value-oracled. Components are uniform in [-1, 1); consumers needing
    unit vectors normalize downstream."""
    h = hashlib.md5(media_ref.encode()).hexdigest()
    width = 64 + int(h[0:4], 16) % 1984
    height = 64 + int(h[4:8], 16) % 1984
    vec = [
        np.float32(
            int(hashlib.md5(f"{media_ref}:{i}".encode()).hexdigest()[:8], 16)
            / 4294967296.0
            * 2.0
            - 1.0
        )
        for i in range(dim)
    ]
    return width, height, [float(x) for x in vec]


def extract_media_features(docs: DataFrame, dim: int = 16) -> DataFrame:
    """Media spans -> (dims, embedding) via Arrow-batched mapInPandas,
    from the synthetic _fake_decode."""
    spans = media_spans(docs)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
                "kind": pdf["kind"],
                "offset": pdf["offset"],
                "width": [],
                "height": [],
                "embedding": [],
            }
            for ref in pdf["media_ref"]:
                w, h, v = _fake_decode(ref, dim)
                out["width"].append(w)
                out["height"].append(h)
                out["embedding"].append(v)
            yield pd.DataFrame(out)

    return spans.mapInPandas(process, schema=MEDIA_FEATURES)


def decode_ppm(buf: bytes):
    """Pure-numpy P6 PPM decoder: returns (width, height, HxWx3 uint8
    array). Handles '#' comments and arbitrary whitespace in the header
    and 1- or 2-byte samples by maxval (2-byte scaled down to 8-bit).
    Raises ValueError on malformed input — callers quarantine, the job
    never dies on one bad image."""
    if not buf or buf[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos = 2
    fields = []
    while len(fields) < 3:
        if pos >= len(buf):
            raise ValueError("truncated PPM header")
        c = buf[pos : pos + 1]
        if c == b"#":
            nl = buf.find(b"\n", pos)
            if nl == -1:
                raise ValueError("unterminated comment")
            pos = nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(buf) and not buf[end : end + 1].isspace():
                end += 1
            tok = buf[pos:end]
            if not tok.isdigit():
                raise ValueError(f"bad header token: {tok!r}")
            fields.append(int(tok))
            pos = end
    # exactly one whitespace byte separates maxval from the raster
    pos += 1
    width, height, maxval = fields
    if not (0 < maxval < 65536):
        raise ValueError(f"bad maxval {maxval}")
    bps = 1 if maxval < 256 else 2
    need = width * height * 3 * bps
    raster = buf[pos : pos + need]
    if len(raster) != need:
        raise ValueError(
            f"raster size {len(raster)} != expected {need} for {width}x{height}"
        )
    dt = np.uint8 if bps == 1 else np.dtype(">u2")
    px = np.frombuffer(raster, dtype=dt).reshape(height, width, 3)
    if bps == 2:
        px = (px.astype(np.uint32) * 255 // maxval).astype(np.uint8)
    return width, height, px


PPM_FEATURES = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
        StructField("error", StringType(), True),
    ]
)


def extract_ppm_features(media: DataFrame, bytes_col: str = "media_bytes") -> DataFrame:
    """REAL image decode over a binary column: Arrow-batched mapInPandas
    runs decode_ppm per image and emits dimensions + per-channel means
    (doubles are exact for uint8 means of integral sums). Malformed
    images become error rows (quarantine), never task failures.

    Scale: pure map over (doc_id, media_ref, bytes) — partition-
    preserving, no shuffle; bytes stay inside the Arrow batch (never
    collected). At 100 TB the binary column lives in its own parquet
    column chunk, so feature extraction reads ONLY that column."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PPM_FEATURES.fields]
        for pdf in batches:
            rows = []
            for doc_id, ref, buf in zip(
                pdf["doc_id"], pdf["media_ref"], pdf[bytes_col]
            ):
                try:
                    w, h, px = decode_ppm(bytes(buf) if buf is not None else b"")
                    m = px.reshape(-1, 3).mean(axis=0)
                    rows.append(
                        (doc_id, ref, w, h, float(m[0]), float(m[1]), float(m[2]), None)
                    )
                except ValueError as e:
                    rows.append((doc_id, ref, None, None, None, None, None, str(e)))
            yield pd.DataFrame(rows, columns=cols)

    return media.select("doc_id", "media_ref", bytes_col).mapInPandas(
        process, schema=PPM_FEATURES
    )


def synth_ppm(width: int, height: int, rgb: tuple) -> bytes:
    """Deterministic solid-color P6 image (test/oracle generator —
    decode_ppm must invert it exactly)."""
    header = f"P6\n{width} {height}\n255\n".encode()
    return header + bytes(rgb) * (width * height)


# ----------------------------------------------------------------- audio

WAV_FEATURES = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", IntegerType(), True),
        StructField("duration_s", DoubleType(), True),
        StructField("rms", DoubleType(), True),
        StructField("zero_crossings", IntegerType(), True),
        StructField("error", StringType(), True),
    ]
)


def decode_wav(buf: bytes):
    """Pure-numpy PCM16 WAV decoder (second REAL decoder next to the
    P6 PPM parser — audio needs no codec library either for the
    uncompressed format): RIFF/WAVE header, fmt chunk (PCM only,
    16-bit), data chunk -> (sample_rate, channels, int16 sample array,
    mono-mixed). Raises ValueError on malformed input — callers
    quarantine, the job never dies on one bad clip. Chunk sizes are
    checked strictly: any chunk, the trailing data chunk included, whose
    declared size runs past the end of the buffer raises. Streaming
    writers that leave a placeholder data size (e.g. 0xFFFFFFFF) are
    therefore quarantined, not decoded to the frames present. Compressed
    codecs (MP3/AAC/...) remain the external-library integration
    point."""
    if len(buf) < 44 or buf[0:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    sr = n_ch = bits = None
    data = None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        if pos + 8 + size > len(buf):
            # a declared size past EOF must hit the quarantine path, not
            # silently decode a frame-aligned truncation to fewer samples
            raise ValueError(
                f"chunk {cid!r} declares {size} bytes past end of file"
            )
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("short fmt chunk")
            fmt = int.from_bytes(body[0:2], "little")
            if fmt != 1:
                raise ValueError(f"unsupported wav format {fmt} (PCM only)")
            n_ch = int.from_bytes(body[2:4], "little")
            sr = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if bits != 16:
                raise ValueError(f"unsupported bit depth {bits}")
            if not (1 <= n_ch <= 8) or not (1000 <= sr <= 384000):
                raise ValueError(f"implausible fmt: ch={n_ch} sr={sr}")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if sr is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if len(data) % (2 * n_ch):
        raise ValueError("data chunk not a whole number of frames")
    s = np.frombuffer(data, dtype="<i2").reshape(-1, n_ch)
    if n_ch > 1:  # mono mix for features (average, rounded toward zero)
        s = (s.astype(np.int32).sum(axis=1) // n_ch).astype(np.int16)
    else:
        s = s[:, 0]
    return sr, n_ch, s


def extract_wav_features(media: DataFrame, bytes_col: str = "media_bytes") -> DataFrame:
    """REAL audio decode over a binary column: Arrow-batched mapInPandas
    runs decode_wav per clip and emits sample_rate / duration / RMS /
    zero-crossing count (the standard cheap audio-quality signals for
    corpus filtering). Same scale shape as extract_ppm_features: pure
    map, partition-preserving, bytes never leave the Arrow batch."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WAV_FEATURES.fields]
        for pdf in batches:
            rows = []
            for doc_id, ref, buf in zip(
                pdf["doc_id"], pdf["media_ref"], pdf[bytes_col]
            ):
                try:
                    sr, _, s = decode_wav(bytes(buf) if buf is not None else b"")
                    n = int(s.size)
                    rms = (
                        float(np.sqrt(np.mean(s.astype(np.float64) ** 2)))
                        if n
                        else 0.0
                    )
                    zc = int(np.count_nonzero(
                        (s[:-1].astype(np.int32) * s[1:].astype(np.int32)) < 0
                    ))
                    rows.append(
                        (doc_id, ref, sr, n, n / sr, rms, zc, None)
                    )
                except ValueError as e:
                    rows.append(
                        (doc_id, ref, None, None, None, None, None, str(e))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("doc_id", "media_ref", bytes_col).mapInPandas(
        process, schema=WAV_FEATURES
    )


def synth_wav(sr: int, n_samples: int, amplitude: int, half_period: int) -> bytes:
    """Deterministic PCM16 mono square wave (test/oracle generator —
    decode_wav + the feature extractor must invert it exactly:
    rms == amplitude, zero_crossings == (n_samples - 1) // half_period)."""
    idx = np.arange(n_samples)
    sign = np.where((idx // half_period) % 2 == 0, 1, -1)
    samples = (sign * amplitude).astype("<i2").tobytes()
    hdr = b"RIFF" + (36 + len(samples)).to_bytes(4, "little") + b"WAVE"
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + sr.to_bytes(4, "little") + (sr * 2).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    return hdr + fmt + b"data" + len(samples).to_bytes(4, "little") + samples
