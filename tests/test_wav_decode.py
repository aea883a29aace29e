"""WAV decode path of MediaCodecBackend: stdlib-wave decoder vs an independent RIFF writer.

The test-side encoder builds the RIFF/WAVE container with raw ``struct``
packing (it never imports ``wave``), so container parsing, sample-width
conversion, and channel downmix are validated against an independent
implementation, not a roundtrip through the same library.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from product_deduplication_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    MediaCodecBackend,
    decode_wav,
    extract_media_features,
    wav_envelope_feature,
)


def encode_wav(
    samples: np.ndarray, sampwidth: int = 2, framerate: int = 8000
) -> bytes:
    """Minimal RIFF/WAVE PCM writer via struct only. ``samples`` is float64
    in [-1, 1], shape (n,) mono or (n, ch)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    if sampwidth == 1:
        ints = np.clip(np.round(samples * 128.0 + 128.0), 0, 255).astype(np.uint8)
        frames = ints.tobytes()
    elif sampwidth == 2:
        ints = np.clip(np.round(samples * 32768.0), -32768, 32767).astype("<i2")
        frames = ints.tobytes()
    elif sampwidth == 3:
        ints = np.clip(np.round(samples * float(1 << 23)), -(1 << 23), (1 << 23) - 1)
        ints = ints.astype(np.int64) & 0xFFFFFF
        b = np.zeros((n * ch, 3), dtype=np.uint8)
        flat = ints.reshape(-1)
        b[:, 0] = flat & 0xFF
        b[:, 1] = (flat >> 8) & 0xFF
        b[:, 2] = (flat >> 16) & 0xFF
        frames = b.tobytes()
    elif sampwidth == 4:
        ints = np.clip(
            np.round(samples * float(1 << 31)), -(1 << 31), (1 << 31) - 1
        ).astype("<i4")
        frames = ints.tobytes()
    else:
        raise ValueError(sampwidth)
    block_align = ch * sampwidth
    fmt = struct.pack(
        "<HHIIHH", 1, ch, framerate, framerate * block_align, block_align, sampwidth * 8
    )
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(frames))
        + frames
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_roundtrip_16bit_mono():
    t = np.arange(800) / 8000.0
    x = 0.5 * np.sin(2 * np.pi * 440 * t)
    got, fr = decode_wav(encode_wav(x, sampwidth=2))
    assert fr == 8000
    assert got.shape == x.shape
    np.testing.assert_allclose(got, x, atol=1.0 / 32768)


@pytest.mark.parametrize("sampwidth", [1, 2, 3, 4])
def test_all_sample_widths_agree(sampwidth):
    t = np.arange(400) / 8000.0
    x = 0.4 * np.sin(2 * np.pi * 200 * t)
    got, _ = decode_wav(encode_wav(x, sampwidth=sampwidth))
    # 8-bit quantization is coarse; wider widths are near-exact
    atol = {1: 1.5 / 128, 2: 1.5 / 32768, 3: 1e-6, 4: 1e-9}[sampwidth]
    np.testing.assert_allclose(got, x, atol=atol)


def test_stereo_downmix_is_channel_mean():
    t = np.arange(200) / 8000.0
    left = 0.6 * np.sin(2 * np.pi * 100 * t)
    right = 0.2 * np.sin(2 * np.pi * 100 * t)
    got, _ = decode_wav(encode_wav(np.stack([left, right], axis=1)))
    np.testing.assert_allclose(got, (left + right) / 2, atol=1.0 / 32768)


def test_envelope_feature_hand_computed():
    # 8 samples, dim=4: windows of 2; RMS per window computed by hand
    x = np.array([0.0, 0.0, 0.5, 0.5, 1.0, 0.0, 0.25, 0.25])
    expected = np.array(
        [0.0, 0.5, np.sqrt(0.5), 0.25], dtype=np.float32
    )
    expected = expected / np.linalg.norm(expected)
    got = wav_envelope_feature(x, dim=4)
    np.testing.assert_allclose(got, expected, rtol=1e-6)
    assert abs(float(np.linalg.norm(got)) - 1.0) < 1e-6


def test_envelope_orders_silence_below_tone():
    t = np.arange(4000) / 8000.0
    x = np.concatenate([np.zeros(4000), 0.8 * np.sin(2 * np.pi * 300 * t)])
    feat, kind = MediaCodecBackend(dim=16).decode_with_kind(encode_wav(x))
    assert kind == "wav-stdlib"
    assert max(feat[:8]) < min(feat[8:])


def test_silent_signal_uniform_fallback():
    feat = wav_envelope_feature(np.zeros(100), dim=16)
    np.testing.assert_allclose(feat, np.full(16, 0.25, dtype=np.float32))


def test_invalid_wav_raises_and_backend_falls_back():
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxWAVEgarbage")
    # non-WAV payload: stub in default mode, raise in strict
    v, kind = MediaCodecBackend().decode_with_kind(b"not audio at all")
    assert kind == "stub" and v is not None
    with pytest.raises(NotImplementedError):
        MediaCodecBackend(strict=True).decode_with_kind(b"not audio at all")


def test_codec_router_mixed_table(spark):
    from tests.test_png_decode import encode_png

    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    t = np.arange(160) / 8000.0
    wav = encode_wav(0.3 * np.sin(2 * np.pi * 500 * t))
    rows = [
        ("u://png", "image", bytearray(encode_png(px)), ("image/png", 4, 4, None)),
        ("u://wav", "audio", bytearray(wav), ("audio/wav", None, None, 20)),
        ("u://bin", "video", bytearray(b"\x00\x01opaque"), ("video/mp4", None, None, 99)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    # no backend given: the default decodes PNG and WAV, not only stubs
    feats = {r["doc_url"]: r for r in extract_media_features(media).collect()}
    assert feats["u://png"]["feature_kind"] == "png-stdlib"
    assert feats["u://wav"]["feature_kind"] == "wav-stdlib"
    assert feats["u://bin"]["feature_kind"] == "stub"
    for r in feats.values():
        assert abs(sum(v * v for v in r["feature"]) - 1.0) < 1e-5
    # strict mode: the undecodable row raises, decodable-only table passes
    with pytest.raises(Exception):
        extract_media_features(media, MediaCodecBackend(strict=True)).collect()
    ok = spark.createDataFrame(rows[:2], MEDIA_SCHEMA)
    strict_rows = extract_media_features(ok, MediaCodecBackend(strict=True)).collect()
    assert sorted(r["feature_kind"] for r in strict_rows) == [
        "png-stdlib",
        "wav-stdlib",
    ]
