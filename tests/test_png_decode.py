"""PNG decode path of MediaCodecBackend: stdlib-zlib decoder vs an independent encoder.

The test-side encoder applies the PNG spec's FORWARD filters (the decoder
implements the inverse), so a roundtrip equality per filter type validates
the unfilter logic against an independent implementation, not itself.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from product_deduplication_spark.operators.multimodal import (
    MediaCodecBackend,
    decode_png,
    extract_media_features,
    png_grid_feature,
)


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def encode_png(px: np.ndarray, filter_type: int = 0, color_type: int | None = None) -> bytes:
    """Minimal PNG writer: 8-bit, non-interlaced, one filter type for every
    scanline, forward-filtered per the spec."""
    h, w, ch = px.shape
    if color_type is None:
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = px[y].reshape(-1).astype(np.int32)
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:  # Sub
            left = np.concatenate([np.zeros(ch, dtype=np.int32), cur[:-ch]])
            enc = (cur - left) % 256
        elif filter_type == 2:  # Up
            enc = (cur - prev) % 256
        elif filter_type == 3:  # Average
            left = np.concatenate([np.zeros(ch, dtype=np.int32), cur[:-ch]])
            enc = (cur - ((left + prev) >> 1)) % 256
        elif filter_type == 4:  # Paeth
            left = np.concatenate([np.zeros(ch, dtype=np.int32), cur[:-ch]])
            upleft = np.concatenate([np.zeros(ch, dtype=np.int32), prev[:-ch]])
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = (cur - pred) % 256
        else:
            raise ValueError(filter_type)
        raw.append(filter_type)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("ch", [1, 3, 4])
def test_roundtrip_every_filter_type(filter_type, ch):
    rng = np.random.default_rng(7 * ch + filter_type)
    px = rng.integers(0, 256, size=(13, 9, ch), dtype=np.uint8)
    decoded = decode_png(encode_png(px, filter_type))
    np.testing.assert_array_equal(decoded, px)


def test_palette_png_expands_through_plte():
    # 2x2 palette image: indices into a 3-color palette
    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 128]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", palette.tobytes())
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    decoded = decode_png(png)
    np.testing.assert_array_equal(decoded, palette[idx])


def test_unsupported_pngs_raise():
    px = np.zeros((2, 2, 3), dtype=np.uint8)
    sixteen_bit = bytearray(encode_png(px))
    # IHDR bit-depth byte: magic(8) + len(4) + type(4) + w(4) + h(4) = offset 24
    sixteen_bit[24] = 16
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(bytes(sixteen_bit))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JFIF not a png")


def test_golden_grid_feature():
    """Feature vector pinned against an independent hand computation: an 8x8
    grayscale gradient pooled onto the 4x4 grid."""
    gray = np.arange(64, dtype=np.uint8).reshape(8, 8, 1)
    png = encode_png(gray, filter_type=2)
    got = MediaCodecBackend().decode_with_kind(png)
    assert got[1] == "png-stdlib"
    # independent expectation: mean of each 2x2 block / 255, L2-normalized
    blocks = gray[:, :, 0].astype(np.float64).reshape(4, 2, 4, 2).mean(axis=(1, 3))
    expected = (blocks / 255.0).reshape(16)
    expected = (expected / np.linalg.norm(expected)).astype(np.float32)
    np.testing.assert_allclose(got[0], expected, rtol=1e-6)


def test_constant_image_feature_is_uniform_unit_vector():
    black = np.zeros((5, 5, 3), dtype=np.uint8)
    v = png_grid_feature(decode_png(encode_png(black, 1)))
    np.testing.assert_allclose(v, np.full(16, 0.25, dtype=np.float32), rtol=1e-6)


def test_spark_path_mixed_payloads_per_row_provenance(spark):
    """extract_media_features with the codec backend over a mixed media table:
    PNG rows get real decoded features (png-stdlib), non-PNG rows fall back
    to the labeled stub; strict mode raises on the non-PNG row."""
    rng = np.random.default_rng(3)
    png_payload = encode_png(rng.integers(0, 256, (6, 4, 3), dtype=np.uint8), 4)
    rows = [
        ("u_png", "image", bytearray(png_payload), None),
        ("u_jpg", "image", bytearray(b"\xff\xd8\xff jpeg-ish bytes"), None),
    ]
    schema = (
        "doc_url string, kind string, payload binary, "
        "meta struct<mime string, width int, height int, duration_ms int>"
    )
    media = spark.createDataFrame(rows, schema)
    feats = {r["doc_url"]: r for r in extract_media_features(media, MediaCodecBackend()).collect()}
    assert feats["u_png"]["feature_kind"] == "png-stdlib"
    assert feats["u_jpg"]["feature_kind"] == "stub"
    expected = png_grid_feature(decode_png(png_payload))
    np.testing.assert_allclose(feats["u_png"]["feature"], expected, rtol=1e-6)
    # strict mode: PNG decodes, anything else raises inside the task
    import py4j

    with pytest.raises(Exception) as exc:
        extract_media_features(media, MediaCodecBackend(strict=True)).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, py4j.protocol.Py4JJavaError
    )
    png_only = spark.createDataFrame([rows[0]], schema)
    strict_rows = extract_media_features(png_only, MediaCodecBackend(strict=True)).collect()
    assert strict_rows[0]["feature_kind"] == "png-stdlib"
