"""media_decode_selfcheck oracle row + corrupt-payload degradation.

The registry row itself is compared against DuckDB by the shared oracle
tests; here we pin the synth determinism, the green row at sf0.001, that
the check is NOT vacuous (a corrupted payload flips a flag), and that
corrupt payloads degrade to the labeled stub instead of failing the stage.
"""

from __future__ import annotations

import numpy as np
import pytest

from product_deduplication_spark.datagen import media_payload_for_doc
from product_deduplication_spark.operators.multimodal import (
    MediaCodecBackend,
    _stub_feature,
)
from product_deduplication_spark.plans.queries import QUERIES


def test_synth_is_deterministic():
    for doc_id in (0, 1, 2, 3, 40, 41, 42, 43):
        p1, k1, e1, t1 = media_payload_for_doc(doc_id)
        p2, k2, e2, t2 = media_payload_for_doc(doc_id)
        assert p1 == p2 and k1 == k2 and e1 == e2
        np.testing.assert_array_equal(t1, t2)


def test_selfcheck_row_green(spark, sf_dir, documents):
    row = QUERIES["media_decode_selfcheck"](spark, sf_dir).collect()[0]
    n = documents.count()
    assert row["n_media"] == n
    assert row["n_wav"] + row["n_png"] + row["n_stub"] == n
    assert row["kind_ok"] == 1
    assert row["feature_match_ok"] == 1


def test_selfcheck_not_vacuous_on_corrupt_payload():
    """A corrupted PNG payload (valid magic, truncated stream) must decode
    as "stub" in non-strict mode — exactly the condition that would flip
    kind_ok in the registry row."""
    payload, _, expected_kind, _ = media_payload_for_doc(2)  # PNG route
    assert expected_kind == "png-stdlib"
    corrupted = bytearray(payload)
    corrupted[60] ^= 0xFF  # bit-flip inside the IDAT zlib stream
    corrupted = bytes(corrupted)
    b = MediaCodecBackend(dim=16, strict=False)
    v, kind = b.decode_with_kind(corrupted)
    assert kind == "stub" != expected_kind
    np.testing.assert_array_equal(v, _stub_feature(corrupted, 16))


def test_corrupt_payload_degrades_not_raises():
    png, _, _, _ = media_payload_for_doc(2)
    wav, _, _, _ = media_payload_for_doc(0)
    bad_png, bad_wav = png[: len(png) // 2], wav[:40]  # truncated, valid magic
    lax = MediaCodecBackend(dim=16, strict=False)
    for bad in (bad_png, bad_wav):
        v, kind = lax.decode_with_kind(bad)
        assert kind == "stub"
        assert v is not None and v.shape == (16,)
    strict = MediaCodecBackend(dim=16, strict=True)
    for bad in (bad_png, bad_wav):
        with pytest.raises(ValueError):
            strict.decode_with_kind(bad)
