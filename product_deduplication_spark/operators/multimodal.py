"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Training-data-pipeline ops over binary payload columns. One decoder,
``MediaCodecBackend``, routes each payload by its magic bytes:

- PNG → a REAL image decoder built on nothing but stdlib ``zlib`` + the PNG
  filter spec (no codec library dependency): chunk parse →
  inflate → per-scanline unfilter (all five filter types) → pixel array →
  mean-pooled grayscale feature, ``feature_kind="png-stdlib"``.
- RIFF/WAVE PCM → a REAL audio decoder built on stdlib ``wave`` (8/16/24/
  32-bit widths, any channel count downmixed to mono) → RMS loudness
  envelope pooled to ``dim`` windows, ``feature_kind="wav-stdlib"``.
- anything else (JPEG, compressed audio/video: codecs that need external
  libraries) → a deterministic sha-seeded fake labeled
  ``feature_kind="stub"`` so it can never be mistaken for a real embedding,
  or ``NotImplementedError`` in strict mode. A corrupt payload behind a
  recognized magic stubs too, or raises its ``ValueError`` in strict mode.

Everything Spark-side is real and tested either way: schemas, Arrow batch
shapes, ``mapInPandas`` streaming (binary payloads never accumulate on the
driver).

Schema convention:
    media(doc_url string, kind string, payload binary,
          meta struct<mime string, width int, height int, duration_ms int>)
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_url", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_url", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload_sha256", T.StringType(), True),
        T.StructField("payload_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        # provenance of the feature vector: the decode backend's name, or
        # "stub" for the deterministic fake — downstream consumers must be
        # able to tell sha-seeded test vectors from real embeddings without
        # reading a docstring
        T.StructField("feature_kind", T.StringType(), True),
    ]
)


def _stub_feature(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic sha-seeded unit-norm fake — the labeled fallback for
    payloads no real kernel decodes (module docstring)."""
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:8], "big")
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(dim).astype(np.float32)
    return v / np.linalg.norm(v)


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (bit depth 8): gray, RGB, palette, gray+A, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit, non-interlaced PNG to a (h, w, channels) uint8 array
    using only the stdlib: chunk walk → IDAT inflate (``zlib``) → per-
    scanline unfilter per the PNG spec (filters 0 None, 1 Sub, 2 Up,
    3 Average, 4 Paeth). Palette images are expanded through PLTE to RGB.

    Raises ValueError on anything outside that envelope (16-bit depth,
    Adam7 interlace, truncated chunks) — the caller decides whether that
    means strict failure or stub fallback.
    """
    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG payload")
    pos = len(PNG_MAGIC)
    ihdr = None
    plte = None
    idat = []
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) != length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"PLTE":
            plte = np.frombuffer(chunk, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    width, height, bit_depth, color_type, _comp, _filt, interlace = ihdr
    if bit_depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG (depth={bit_depth}, color={color_type}, "
            f"interlace={interlace}); this decoder covers 8-bit non-interlaced"
        )
    ch = _PNG_CHANNELS[color_type]
    stride = width * ch
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:  # corrupt stream inside a well-formed chunk walk
        raise ValueError(f"undecodable PNG IDAT stream: {e}") from e
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if f == 0:
            cur = line
        elif f == 1:  # Sub: recon[x] = raw[x] + recon[x-bpp] — a per-channel
            # prefix sum (mod-256 addition is linear, so cumsum % 256 works)
            cur = np.cumsum(line.reshape(width, ch), axis=0).reshape(stride) % 256
        elif f == 2:  # Up
            cur = (line + prev) % 256
        elif f == 3:  # Average (sequential in x: depends on recon[x-bpp])
            cur = line.copy()
            for x in range(stride):
                left = cur[x - ch] if x >= ch else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) % 256
        elif f == 4:  # Paeth
            cur = line.copy()
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                cur[x] = (cur[x] + pred) % 256
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        out[y] = cur
        prev = cur.astype(np.int32)
    px = out.reshape(height, width, ch)
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        px = plte[px[:, :, 0]]
    return px


def png_grid_feature(px: np.ndarray, dim: int = 16) -> np.ndarray:
    """Pixel array → unit-norm feature: grayscale (mean over color channels,
    alpha excluded), mean-pooled onto a sqrt(dim) x sqrt(dim) grid, scaled
    to [0, 1], L2-normalized (constant-image fallback: uniform vector)."""
    g = int(round(dim**0.5))
    if g * g != dim:
        raise ValueError(f"dim must be a perfect square, got {dim}")
    ch = px.shape[2]
    color = px[:, :, :3] if ch >= 3 else px[:, :, :1]
    gray = color.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    rows = np.floor(np.arange(h) * g / h).astype(np.int64)
    cols = np.floor(np.arange(w) * g / w).astype(np.int64)
    pooled = np.zeros((g, g), dtype=np.float64)
    counts = np.zeros((g, g), dtype=np.int64)
    np.add.at(pooled, (rows[:, None], cols[None, :]), gray)
    np.add.at(counts, (rows[:, None], cols[None, :]), 1)
    pooled = pooled / np.maximum(counts, 1) / 255.0
    v = pooled.reshape(dim).astype(np.float32)
    norm = float(np.linalg.norm(v))
    if norm == 0.0:
        v = np.full(dim, 1.0 / dim**0.5, dtype=np.float32)
        norm = 1.0
    return v / norm


def _is_wav(data: bytes) -> bool:
    return len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"WAVE"


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF/WAVE PCM payload to (mono float64 samples in [-1, 1],
    frame rate) using only the stdlib ``wave`` module for container parsing;
    sample-width conversion (unsigned 8-bit, signed little-endian 16/24/32)
    and channel downmix are implemented here. Raises ValueError on non-WAV
    payloads, compressed WAVE (``wave`` itself rejects non-PCM), or widths
    outside 1-4 bytes — the caller decides strict failure vs stub fallback.
    """
    import io
    import wave as _wave

    if not _is_wav(data):
        raise ValueError("not a RIFF/WAVE payload")
    try:
        with _wave.open(io.BytesIO(data)) as w:
            ch = w.getnchannels()
            sw = w.getsampwidth()
            fr = w.getframerate()
            raw = w.readframes(w.getnframes())
    except _wave.Error as e:
        raise ValueError(f"undecodable WAVE: {e}") from e
    if sw == 1:  # WAV 8-bit is unsigned
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 3:  # packed signed 24-bit little-endian
        b = np.frombuffer(raw, dtype=np.uint8)
        b = b[: (b.size // 3) * 3].reshape(-1, 3).astype(np.int32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v = np.where(v & 0x800000, v - (1 << 24), v)
        x = v.astype(np.float64) / float(1 << 23)
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / float(1 << 31)
    else:
        raise ValueError(f"unsupported WAV sample width {sw}")
    if ch > 1:
        x = x[: (x.size // ch) * ch].reshape(-1, ch).mean(axis=1)
    return x, fr


def wav_envelope_feature(x: np.ndarray, dim: int = 16) -> np.ndarray:
    """Mono samples → unit-norm RMS loudness envelope pooled to ``dim``
    equal time windows (constant/silent-signal fallback: uniform vector) —
    the audio analog of ``png_grid_feature``'s pooled-grayscale grid."""
    if x.size == 0:
        return np.full(dim, 1.0 / dim**0.5, dtype=np.float32)
    idx = np.floor(np.arange(x.size) * dim / x.size).astype(np.int64)
    sq = np.zeros(dim, dtype=np.float64)
    cnt = np.zeros(dim, dtype=np.int64)
    np.add.at(sq, idx, x * x)
    np.add.at(cnt, idx, 1)
    v = np.sqrt(sq / np.maximum(cnt, 1)).astype(np.float32)
    norm = float(np.linalg.norm(v))
    if norm == 0.0:
        v = np.full(dim, 1.0 / dim**0.5, dtype=np.float32)
        norm = 1.0
    return v / norm


class MediaCodecBackend:
    """Magic-byte router over the real codec kernels: PNG → pooled-grid
    image feature, RIFF/WAVE PCM → loudness-envelope audio feature,
    anything else → deterministic stub (strict mode: raise). Every row is
    labeled by how it was ACTUALLY decoded, so a mixed media table keeps
    per-row provenance. A production backend adds codecs (PIL, pyav) here
    and keeps the row contract."""

    def __init__(self, dim: int = 16, strict: bool = False):
        self.dim = dim
        self.strict = strict

    def decode_with_kind(self, payload: bytes) -> tuple[np.ndarray, str]:
        try:
            if payload.startswith(PNG_MAGIC):
                return png_grid_feature(decode_png(payload), self.dim), "png-stdlib"
            if _is_wav(payload):
                return wav_envelope_feature(decode_wav(payload)[0], self.dim), "wav-stdlib"
        except ValueError:
            # corrupt/unsupported payload behind a recognized magic: degrade
            # to the labeled stub at corpus scale (strict mode re-raises)
            if self.strict:
                raise
            return _stub_feature(payload, self.dim), "stub"
        if self.strict:
            raise NotImplementedError(
                "payload matches no decodable codec (PNG, WAVE-PCM) in strict "
                "mode: JPEG/compressed audio/video require codec libraries not "
                "present in this environment"
            )
        return _stub_feature(payload, self.dim), "stub"


def extract_media_features(
    media: DataFrame, backend: MediaCodecBackend | None = None
) -> DataFrame:
    """mapInPandas over binary payloads → per-item features + content hash.

    Scale notes: ``mapInPandas`` streams Arrow batches, so a partition of
    large blobs never materializes fully in one Python list.
    """
    backend = backend or MediaCodecBackend()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, hashes, sizes, kinds = [], [], [], []
            for payload in pdf["payload"]:
                if payload is None:
                    feats.append(None)
                    hashes.append(None)
                    sizes.append(None)
                    kinds.append(None)
                    continue
                hashes.append(hashlib.sha256(payload).hexdigest())
                sizes.append(len(payload))
                v, kind = backend.decode_with_kind(payload)
                feats.append(v.tolist())
                kinds.append(kind)
            yield pd.DataFrame(
                {
                    "doc_url": pdf["doc_url"],
                    "kind": pdf["kind"],
                    "payload_sha256": hashes,
                    "payload_bytes": sizes,
                    "feature": feats,
                    "feature_kind": kinds,
                }
            )

    return media.mapInPandas(gen, FEATURE_SCHEMA)
