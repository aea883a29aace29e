"""Unit + property tests for the numpy hash kernels (SURVEY.md §5.1)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import assume, given, settings, strategies as st

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.functions import hashing


def hamming_distance64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Popcount of xor for int64/uint64 arrays (vectorized)."""
    x = (a.view(np.uint64) ^ b.view(np.uint64)).copy()
    cnt = np.zeros(x.shape, dtype=np.int64)
    while x.any():
        cnt += (x & np.uint64(1)).astype(np.int64)
        x >>= np.uint64(1)
    return cnt


def test_splitmix64_deterministic_and_mixing():
    x = np.arange(1000, dtype=np.uint64)
    a = hashing.splitmix64(x)
    b = hashing.splitmix64(x)
    assert np.array_equal(a, b)
    assert len(np.unique(a)) == 1000
    # input untouched
    assert np.array_equal(x, np.arange(1000, dtype=np.uint64))


def test_char_shingles_basic():
    h = hashing.char_shingle_hashes("abcdefg", 5)
    # "abcde","bcdef","cdefg" -> 3 distinct shingles
    assert h.size == 3
    assert np.array_equal(h, np.sort(h))
    # shorter than k -> one shingle
    assert hashing.char_shingle_hashes("ab", 5).size == 1
    assert hashing.char_shingle_hashes("", 5).size == 0
    # repeated shingles dedup
    rep = hashing.char_shingle_hashes("ababababab", 2)
    assert rep.size == 2  # "ab","ba"


def test_char_shingles_shift_invariance():
    a = hashing.char_shingle_hashes("hello world foo", 5)
    b = hashing.char_shingle_hashes("xx hello world foo", 5)
    # most of a's shingles appear in b
    assert np.intersect1d(a, b).size >= a.size - 4


def test_token_hashes_match_per_token():
    th = hashing.token_hashes("foo bar foo")
    assert th.size == 3
    assert th[0] == th[2]
    assert th[0] != th[1]
    # whitespace-insensitive tokenization
    th2 = hashing.token_hashes("  foo\tbar\nfoo ")
    assert np.array_equal(th, th2)
    assert hashing.token_hashes("").size == 0
    assert hashing.token_hashes("   ").size == 0


def test_token_ngram_hashes():
    h2 = hashing.token_ngram_hashes("a b c d", 2)
    assert h2.size == 3  # ab bc cd
    assert hashing.token_ngram_hashes("a", 2).size == 1


def test_minhash_identical_sets_equal_signatures():
    seeds = hashing.minhash_seeds(64, 42)
    s1 = hashing.char_shingle_hashes("the quick brown fox jumps", 5)
    sig = hashing.oph_signatures([s1, s1.copy(), np.empty(0, np.uint64)], seeds)
    assert sig.shape == (3, 64)
    assert np.array_equal(sig[0], sig[1])
    assert np.all(sig[2] == np.uint64(0xFFFFFFFFFFFFFFFF).astype(np.int64))


# the property's shingle floor: the bin count, so densification fills few bins
OPH_BINS = 256
MIN_OPH_SHINGLES = OPH_BINS


@settings(max_examples=25, deadline=None)
@given(
    st.text(alphabet="abcdef ", min_size=600, max_size=1500),
    st.text(alphabet="abcdef ", min_size=600, max_size=1500),
)
def test_minhash_estimates_jaccard(t1, t2):
    """OPH MinHash similarity estimate within eps of exact Jaccard
    (property), for sets of at least as many shingles as bins. Smaller sets
    are excluded on purpose: densification copies their few filled bins, so
    the estimate is biased on tiny sets and noisy on small ones (see
    oph_signatures; two 32-shingle sets read with sd ~0.08), and texts long
    enough to reach the floor are generated."""
    s1 = hashing.char_shingle_hashes(t1, 3)
    s2 = hashing.char_shingle_hashes(t2, 3)
    assume(min(s1.size, s2.size) >= MIN_OPH_SHINGLES)
    inter = np.intersect1d(s1, s2, assume_unique=True).size
    exact = inter / (s1.size + s2.size - inter)
    seeds = hashing.minhash_seeds(OPH_BINS, 7)
    sig = hashing.oph_signatures([s1, s2], seeds)
    est = float(np.mean(sig[0] == sig[1]))
    assert abs(est - exact) < 0.15  # sd ~0.033 at >= 256 shingles: 4.5 sigma


def test_simhash_close_for_similar_docs():
    base = "the quick brown fox jumps over the lazy dog " * 20
    nearly = base.replace("lazy", "sleepy", 3)
    different = "completely unrelated content about spark dataframes " * 20
    shs = hashing.simhash64(
        [hashing.token_hashes(base), hashing.token_hashes(nearly), hashing.token_hashes(different)]
    )
    d_near = hamming_distance64(shs[0:1], shs[1:2])[0]
    d_far = hamming_distance64(shs[0:1], shs[2:3])[0]
    assert d_near < d_far
    assert d_near <= 10
    assert hamming_distance64(shs[0:1], shs[0:1])[0] == 0


def test_candidate_probability_scurve():
    cfg = DedupConfig()
    assert cfg.rows_per_band == 6
    assert cfg.candidate_probability(0.8) > 0.998
    assert cfg.candidate_probability(0.9) > 0.99999
    # background pairs (corpus median ~0.1) essentially never collide
    assert cfg.candidate_probability(0.15) < 1e-3
    assert cfg.candidate_probability(0.1) < 1e-4


def test_config_validation():
    # eager: construction alone must raise, not a later property access
    with pytest.raises(ValueError):
        DedupConfig(num_hashes=100, lsh_bands=32)
    with pytest.raises(ValueError):
        DedupConfig(num_hashes=0)
    with pytest.raises(ValueError):
        DedupConfig(jaccard_threshold=0.0)
    # with_() re-validates through replace()
    with pytest.raises(ValueError):
        DedupConfig().with_(lsh_bands=25)


def test_band_hashes_from_signatures_properties():
    """Equal slices ⇔ equal band hashes; different slices ≠ (whp); band
    index participates (same slice at different band positions differs)."""
    import numpy as np

    from product_deduplication_spark.functions.hashing import band_hashes_from_signatures

    rng = np.random.default_rng(0)
    sig = rng.integers(0, 2**63 - 1, size=(4, 12), dtype=np.int64)
    sig[1] = sig[0]                      # doc1 identical to doc0
    sig[2, 0:3] = sig[0, 0:3]            # doc2 shares band 0 only (r=3)
    sig[3, 3:6] = sig[0, 0:3]            # doc3 has doc0's band-0 slice AT band 1
    b = band_hashes_from_signatures(sig, 4)
    assert b.shape == (4, 4)
    assert (b[0] == b[1]).all()
    assert b[2, 0] == b[0, 0] and (b[2, 1:] != b[0, 1:]).all()
    # band seed: same values in a different band position hash differently
    assert b[3, 1] != b[0, 0]
    # deterministic
    assert (band_hashes_from_signatures(sig, 4) == b).all()


def test_batch_shingle_kernels_equal_per_doc():
    """The tiled batch kernels must be byte-for-byte equal to the per-doc
    reference kernels — including empty docs, docs at/below the window
    size, unicode, whitespace-only docs, and docs larger than one tile."""
    import random
    import string

    import numpy as np

    from product_deduplication_spark.functions import hashing

    rng = random.Random(13)

    def rand_text(n, alpha=string.ascii_lowercase + " é日\t"):
        return "".join(rng.choice(alpha) for _ in range(n))

    texts = (
        ["", " ", "\t\n ", "ab", "abcde", "abcdef", "  x  ", rand_text(3)]
        + [rand_text(rng.randrange(0, 800)) for _ in range(120)]
        + [rand_text(70_000)]  # larger than the 64k-element tile
    )
    for k in (3, 5, 9):
        batch = hashing.char_shingle_hashes_batch(texts, k)
        assert len(batch) == len(texts)
        for i, t in enumerate(texts):
            ref = hashing.char_shingle_hashes(t, k)
            assert batch[i].dtype == np.uint32
            assert np.array_equal(batch[i], ref), (k, i, t[:40])
    for n in (1, 2, 4):
        batch = hashing.token_ngram_hashes_batch(texts, n)
        for i, t in enumerate(texts):
            assert np.array_equal(batch[i], hashing.token_ngram_hashes(t, n)), (n, i)
    assert hashing.char_shingle_hashes_batch([], 5) == []
    assert hashing.token_ngram_hashes_batch([], 2) == []
