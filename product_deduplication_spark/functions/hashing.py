"""Deterministic vectorized hash kernels (numpy, uint64 wraparound).

These replace the reference's scipy-CSR TF-IDF vectorization
(``reference/static.py:177-189``) and its C++ ``sparse_dot_topn`` cosine
kernel (``reference/static.py:58-85``): instead of a global sparse matrix we
compute per-document shingle-hash sets, MinHash signatures, and SimHash
fingerprints — all batched, one numpy matrix op per Arrow batch per hash
family ("Accelerating Python UDFs in Vectorized Query Execution", CIDR 2022).

Everything here is a pure function of (bytes, seed): no locale, no process
randomness — required for the byte-identical / deterministic invariants
(BASELINE.json input_hint).
"""

from __future__ import annotations

import functools

import numpy as np

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_FNV_PRIME = np.uint64(1099511628211)
_U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def _wraparound(fn):
    """uint64 overflow wraparound is intended inside these kernels; scope the
    numpy error state to the call instead of mutating it process-wide at
    import (which would mask genuine overflow warnings in user UDF code
    running in the same Python worker)."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with np.errstate(over="ignore"):
            return fn(*args, **kwargs)

    return wrapper


@_wraparound
def splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer — a strong 64-bit bijective mixer (public domain
    constant set, Steele et al.). Vectorized over a uint64 array."""
    z = x.astype(np.uint64, copy=True)
    z = (z + _GOLDEN) & _U64_MAX
    z ^= z >> np.uint64(30)
    z = (z * _MIX1) & _U64_MAX
    z ^= z >> np.uint64(27)
    z = (z * _MIX2) & _U64_MAX
    z ^= z >> np.uint64(31)
    return z


def _to_shingle32(h64: np.ndarray) -> np.ndarray:
    """64-bit mixed shingle hashes → sorted unique uint32 set (high bits).

    Shingle sets exist for ONE consumer: the exact-Jaccard verify join,
    whose shuffle of per-doc shingle arrays is the dedup pipeline's largest.
    Jaccard over 32-bit-hashed sets equals Jaccard over the exact shingles
    up to hash collisions: for web-page set sizes (~1.2k shingles) a pair
    sees an expected |A||B|/2^32 ~ 3e-4 colliding element pairs, shifting
    similarity by <1e-3 in the rare pair that has one — far inside the
    recall gate's tolerance — while HALVING the verify shuffle bytes.
    MinHash/OPH signatures are computed from these same values (signature
    quality is unaffected: inputs are already splitmix64-mixed)."""
    return np.unique((h64 >> np.uint64(32)).astype(np.uint32))


@_wraparound
def char_shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct 32-bit hashes of all k-byte shingles of ``text`` (UTF-8).

    Rolling polynomial over the byte array, fully vectorized: k shifted adds
    instead of a per-shingle loop. Returns a sorted unique uint32 array
    (set semantics — Jaccard is over shingle *sets*; see _to_shingle32 for
    the 32-bit rationale).
    """
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    n = b.size
    if n == 0:
        return np.empty(0, dtype=np.uint32)
    if n <= k:
        h = np.zeros(1, dtype=np.uint64)
        for j in range(n):
            h = (h * _FNV_PRIME + b[j]) & _U64_MAX
        return _to_shingle32(splitmix64(h))
    m = n - k + 1
    h = np.zeros(m, dtype=np.uint64)
    for j in range(k):
        h = (h * _FNV_PRIME + b[j : j + m]) & _U64_MAX
    return _to_shingle32(splitmix64(h))


@_wraparound
def token_hashes_batch(texts: list[str]) -> list[np.ndarray]:
    """64-bit hash per whitespace token for a WHOLE batch of docs at once.

    One pass: all texts joined with '\\n' separators (a token boundary),
    token spans found with two flatnonzero scans, tokens hashed bucket-by-
    equal-length (each bucket one vectorized FNV loop over the whole batch),
    then split back per doc via byte offsets. Per-doc order preserved, with
    repeats — SimHash weighting uses term frequency.
    """
    n_docs = len(texts)
    if n_docs == 0:
        return []
    joined = (" " + "\n".join(texts) + " ").encode("utf-8")
    b = np.frombuffer(joined, dtype=np.uint8).astype(np.uint64)
    is_space = (b == 32) | (b == 9) | (b == 10) | (b == 13)
    starts = np.flatnonzero(is_space[:-1] & ~is_space[1:]) + 1
    ends = np.flatnonzero(~is_space[:-1] & is_space[1:]) + 1
    if starts.size == 0:
        return [np.empty(0, dtype=np.uint64) for _ in range(n_docs)]
    out = np.empty(starts.size, dtype=np.uint64)
    lengths = ends - starts
    for L in np.unique(lengths):
        idx = np.flatnonzero(lengths == L)
        gather = starts[idx][:, None] + np.arange(L, dtype=starts.dtype)[None, :]
        mat = b[gather]
        acc = np.full(idx.size, 0xCBF29CE484222325, dtype=np.uint64)
        for j in range(int(L)):
            acc = ((acc ^ mat[:, j]) * _FNV_PRIME) & _U64_MAX
        out[idx] = acc
    hashed = splitmix64(out)
    # assign tokens to docs via the byte offset where each doc starts
    enc_lens = np.fromiter(
        (len(t.encode("utf-8")) for t in texts), dtype=np.int64, count=n_docs
    )
    doc_starts = np.ones(n_docs, dtype=np.int64)  # leading " " shifts all by 1
    np.cumsum(enc_lens[:-1] + 1, out=doc_starts[1:])
    doc_starts[1:] += 1
    doc_of_token = np.searchsorted(doc_starts, starts, side="right") - 1
    counts = np.bincount(doc_of_token, minlength=n_docs)
    # token order is already doc-major → plain split
    return np.split(hashed, np.cumsum(counts)[:-1])


def token_hashes(text: str) -> np.ndarray:
    """Single-doc convenience wrapper over :func:`token_hashes_batch`."""
    return token_hashes_batch([text])[0]


@_wraparound
def _rolling_shingle32_batch(H: np.ndarray, lens: np.ndarray, k: int) -> list[np.ndarray]:
    """Per-doc sorted-unique 32-bit k-shingle sets for a WHOLE batch at once.

    ``H`` is the batch's per-doc element sequences (bytes or token hashes as
    uint64) concatenated back-to-back; ``lens`` the per-doc lengths. Docs
    are processed in doc-aligned TILES of ~64k elements through small
    reusable buffers (same L2-residency rationale as the OPH / simhash
    kernels): per tile, k in-place multiply-adds compute every window hash
    for ALL the tile's docs at once, one in-place splitmix pass mixes them,
    then a per-doc np.unique over the uint32 slice. Per-doc numpy-call
    count drops from ~10 (the per-doc kernels) to 2 (boundary-mask write +
    unique), and no allocation exceeds the tile — a whole-batch variant
    with multi-MB temporaries measured 3-25x slower under this host's
    allocation stalls. Byte-for-byte equal to the per-doc kernels
    (char_shingle_hashes / token_ngram_hashes) — pinned in
    tests/test_hashing.py.

    Docs with 0 < len <= k get the whole-sequence hash (identical chain to
    the per-doc kernels); empty docs get empty sets.
    """
    n_docs = lens.size
    out: list[np.ndarray] = [np.empty(0, dtype=np.uint32)] * n_docs
    if n_docs == 0 or H.size == 0:
        return out
    doc_starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1], out=doc_starts[1:])
    for i in np.flatnonzero((lens > 0) & (lens <= k)):
        seg = H[doc_starts[i] : doc_starts[i] + lens[i]]
        h = np.zeros(1, dtype=np.uint64)
        for j in range(int(lens[i])):
            h = (h * _FNV_PRIME + seg[j]) & _U64_MAX
        out[i] = _to_shingle32(splitmix64(h))
    long_idx = np.flatnonzero(lens > k)
    if long_idx.size == 0:
        return out
    tile_elems = 1 << 16
    hbuf = np.empty(tile_elems, dtype=np.uint64)
    scratch = np.empty(tile_elems, dtype=np.uint64)
    d0 = 0
    n_long = long_idx.size
    llens = lens[long_idx]
    while d0 < n_long:
        # greedy doc-aligned tile: consecutive long docs, <= tile_elems
        # elements (always >= 1 doc; a lone giant doc grows the buffers)
        d1 = d0 + 1
        span = int(llens[d0])
        while d1 < n_long and span + llens[d1] <= tile_elems:
            span += int(llens[d1])
            d1 += 1
        if span > hbuf.size:
            hbuf = np.empty(span, dtype=np.uint64)
            scratch = np.empty(span, dtype=np.uint64)
        # pack the tile's docs back-to-back (short docs interleave in H, so
        # long-doc spans are not contiguous in it)
        off = 0
        for gi in range(d0, d1):
            ln = int(llens[gi])
            s = doc_starts[long_idx[gi]]
            hbuf[off : off + ln] = H[s : s + ln]
            off += ln
        m = span - k + 1
        ht = scratch[:m]
        ht[:] = 0
        for j in range(k):
            ht *= _FNV_PRIME
            ht += hbuf[j : j + m]
        # splitmix64 in place, reusing the front of hbuf as scratch
        _splitmix64_inplace(ht, hbuf[:m])
        mixed32 = (ht >> np.uint64(32)).astype(np.uint32)
        # window index == start position, so doc gi's own windows are the
        # md = ln-k+1 starting at its element offset; the k-1 cross-doc
        # windows at each doc's tail are simply not sliced
        off = 0
        for gi in range(d0, d1):
            ln = int(llens[gi])
            out[long_idx[gi]] = np.unique(mixed32[off : off + ln - k + 1])
            off += ln
        d0 = d1
    return out


def char_shingle_hashes_batch(texts: list[str], k: int) -> list[np.ndarray]:
    """Batched :func:`char_shingle_hashes`: one rolling-hash + one sort pass
    per tile for the whole Arrow batch (the per-doc variant pays ~10 numpy
    call overheads per doc — measurable when features is the hot stage)."""
    n_docs = len(texts)
    if n_docs == 0:
        return []
    enc = [t.encode("utf-8") for t in texts]
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=n_docs)
    # stay uint8: the tile copy upcasts to uint64 inside the L2-resident
    # buffer — a whole-batch astype(uint64) here is an 8x allocation whose
    # page-fault stalls measured 3-10x wall on this host
    H = np.frombuffer(b"".join(enc), dtype=np.uint8)
    return _rolling_shingle32_batch(H, lens, k)


def token_ngram_hashes_batch(texts: list[str], n: int) -> list[np.ndarray]:
    """Batched :func:`token_ngram_hashes`: token hashes from the batched
    tokenizer, then the same one-pass rolling window over token sequences."""
    n_docs = len(texts)
    if n_docs == 0:
        return []
    tok = token_hashes_batch(texts)
    lens = np.fromiter((a.size for a in tok), dtype=np.int64, count=n_docs)
    H = np.concatenate(tok) if n_docs else np.empty(0, dtype=np.uint64)
    return _rolling_shingle32_batch(H, lens, n)


@_wraparound
def token_ngram_hashes(text: str, n: int) -> np.ndarray:
    """Distinct 32-bit hashes of word n-gram shingles (token mode; see
    _to_shingle32 for the 32-bit rationale)."""
    th = token_hashes(text)
    if th.size == 0:
        return np.empty(0, dtype=np.uint32)
    if th.size <= n:
        h = np.zeros(1, dtype=np.uint64)
        for j in range(th.size):
            h = (h * _FNV_PRIME + th[j]) & _U64_MAX
        return _to_shingle32(splitmix64(h))
    m = th.size - n + 1
    h = np.zeros(m, dtype=np.uint64)
    for j in range(n):
        h = (h * _FNV_PRIME + th[j : j + m]) & _U64_MAX
    return _to_shingle32(splitmix64(h))


def minhash_seeds(num_hashes: int, seed: int) -> np.ndarray:
    """(2, num_hashes) multiply-shift parameters: odd multipliers a_i and
    offsets b_i. h(x) = ((a * x + b) mod 2^64) >> 16 is a universal 48-bit
    hash (Dietzfelbinger et al. multiply-shift), ample over inputs that are
    already splitmix64-mixed shingle hashes. ``oph_signatures`` rehashes
    with the first (a, b) pair and takes its bin count from the width."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**63 - 1, size=num_hashes, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 2**63 - 1, size=num_hashes, dtype=np.uint64)
    return np.stack([a, b])


@_wraparound
def _splitmix64_inplace(z: np.ndarray, scratch: np.ndarray) -> None:
    """SplitMix64 finalizer computed fully in place (z and one scratch
    buffer) — avoids the temporary-array allocation churn that dominates
    cost at millions of shingles per Arrow batch."""
    z += _GOLDEN
    np.right_shift(z, np.uint64(30), out=scratch)
    z ^= scratch
    z *= _MIX1
    np.right_shift(z, np.uint64(27), out=scratch)
    z ^= scratch
    z *= _MIX2
    np.right_shift(z, np.uint64(31), out=scratch)
    z ^= scratch


@_wraparound
def oph_signatures(
    shingle_arrays: list[np.ndarray], seeds: np.ndarray, num_bins: int | None = None
) -> np.ndarray:
    """One-Permutation-Hashing MinHash signatures (Li, Owen, Zhang, NIPS
    2012) with rotation densification (Shrivastava & Li, ICML 2014).

    Instead of num_hashes independent permutations (num_hashes x 4 memory
    passes over the shingle array), hash each shingle ONCE, bucket it into
    ``num_bins`` bins by hash value, and take the min per bin — a single
    ``np.minimum.at`` scatter pass. Empty bins (rare for web pages: P =
    (1-1/k)^m ~ e^-10 at m~1.2k shingles, k=126) borrow the value of the
    nearest filled bin to the right (circular), which preserves the LSH
    banding collision property.

    ~50x less DRAM traffic than num_hashes independent permutations — this
    is what keeps the feature stage compute-bound (scalable) under
    many-executor concurrency.

    Small shingle sets: with fewer shingles than bins, most bins are
    densified copies of the few filled ones, so the estimate is biased on
    tiny sets and noisy on small ones. At 256 bins, {aaa} vs {aaa, aab} has
    Jaccard 0.5 but estimates 0.83, and two 32-shingle sets at Jaccard 0.45
    read with sd ~0.08, against ~0.03 once the sets reach the bin count.
    Verification computes exact Jaccard, so this only changes which small
    docs become candidates or pass the verify prefilter (recall), never a
    verified edge's similarity.

    seeds: same (2, num_hashes) params as minhash_seeds — row 0's first
    entry is used to decorrelate the single hash; num_bins defaults to
    num_hashes so signatures are drop-in band-compatible.
    """
    n_docs = len(shingle_arrays)
    k = num_bins or seeds.shape[1]
    sizes = np.fromiter((a.size for a in shingle_arrays), dtype=np.int64, count=n_docs)
    sig = np.full((n_docs, k), _U64_MAX, dtype=np.uint64)
    nonempty = np.flatnonzero(sizes > 0)
    if nonempty.size == 0:
        return sig.view(np.int64)
    H = np.concatenate([shingle_arrays[i] for i in nonempty])
    offsets = np.zeros(nonempty.size, dtype=np.int64)
    np.cumsum(sizes[nonempty][:-1], out=offsets[1:])
    a0, b0 = seeds[0][0], seeds[1][0]
    dense = sig[nonempty]
    # tile by doc slices (doc-major keys never span tiles, so per-tile
    # argsort+reduceat is exact). Keeps the working set ~1.5 MiB regardless
    # of Arrow batch size — with P concurrent executor tasks the aggregate
    # stays inside shared L3 instead of thrashing it (measured: 8 tasks x
    # 40 MiB sorts were 3x slower than the same job at smaller tasks).
    tile_elems = 1 << 16
    total = H.size
    d0 = 0
    while d0 < nonempty.size:
        d1 = d0
        end = offsets[d0]
        limit = offsets[d0] + tile_elems
        while d1 < nonempty.size and end < limit:
            end = offsets[d1 + 1] if d1 + 1 < nonempty.size else total
            d1 += 1
        start = offsets[d0]
        Hs = H[start:end]
        # one multiply-shift rehash decorrelates from the raw shingle hash
        Hm = ((Hs * a0 + b0) & _U64_MAX) >> np.uint64(16)
        bins = (Hm % np.uint64(k)).astype(np.int64)
        doc_idx = np.repeat(
            np.arange(d0, d1, dtype=np.int64), (np.append(offsets[d0 + 1 : d1], end) - offsets[d0:d1])
        )
        keys = (doc_idx - d0) * k + bins
        # sort-based grouping beats np.minimum.at (unbuffered ufunc) ~4x
        order = np.argsort(keys, kind="stable")
        sk = keys[order]
        sv = Hm[order]
        starts = np.flatnonzero(np.diff(sk, prepend=np.int64(-1)))
        mins = np.minimum.reduceat(sv, starts)
        group_keys = sk[starts]
        dense[d0 + group_keys // k, group_keys % k] = mins
        d0 = d1
    # rotation densification: empty bins copy the nearest filled bin to the
    # right (circular), offset-mixed so borrowed values differ per distance
    empty = dense == _U64_MAX
    shift = 1
    while empty.any() and shift < k:
        donor = np.roll(dense, -shift, axis=1)
        fill = empty & (donor != _U64_MAX)
        # mix in the borrow distance so two docs borrowing from the same
        # donor bin at different distances stay distinguishable
        dense[fill] = (donor[fill] + np.uint64(shift)) & _U64_MAX
        empty = dense == _U64_MAX
        shift += 1
    sig[nonempty] = dense
    return sig.view(np.int64)


@_wraparound
def simhash64(token_hash_arrays: list[np.ndarray]) -> np.ndarray:
    """64-bit SimHash per doc from (term-frequency-weighted) token hashes.

    Batched: unpacks all token hashes of the batch to a bit matrix once and
    sums per-doc via ``np.add.reduceat``.
    Returns int64 array of shape (n_docs,).
    """
    n_docs = len(token_hash_arrays)
    out = np.zeros(n_docs, dtype=np.uint64)
    sizes = np.fromiter((a.size for a in token_hash_arrays), dtype=np.int64, count=n_docs)
    nonempty = np.flatnonzero(sizes > 0)
    if nonempty.size == 0:
        return out.view(np.int64)
    H = np.concatenate([token_hash_arrays[i] for i in nonempty])
    offsets = np.zeros(nonempty.size, dtype=np.int64)
    np.cumsum(sizes[nonempty][:-1], out=offsets[1:])
    vals = np.empty(nonempty.size, dtype=np.uint64)
    # tile by doc slices — the (tile, 64) uint8 bit matrix stays ~4 MiB
    # instead of 64x the whole batch (same L3-thrash rationale as OPH)
    tile_elems = 1 << 16
    total = H.size
    d0 = 0
    while d0 < nonempty.size:
        d1 = d0
        end = offsets[d0]
        limit = offsets[d0] + tile_elems
        while d1 < nonempty.size and end < limit:
            end = offsets[d1 + 1] if d1 + 1 < nonempty.size else total
            d1 += 1
        start = offsets[d0]
        Hs = H[start:end]
        # bits: (m, 64), big-endian bit order within the uint64 (order is
        # irrelevant as long as it is consistent)
        bits = np.unpackbits(Hs[:, None].byteswap().view(np.uint8), axis=1)
        off_s = offsets[d0:d1] - start
        # dtype=int64 accumulates in the output type directly — skips the
        # (tile, 64) x 8B astype temporary per tile (same values)
        sums = np.add.reduceat(bits, off_s, axis=0, dtype=np.int64)
        majority = (2 * sums) >= sizes[nonempty][d0:d1, None]
        packed = np.packbits(majority.astype(np.uint8), axis=1)
        vals[d0:d1] = packed.view(">u8").astype(np.uint64).reshape(-1)
        d0 = d1
    out[nonempty] = vals
    return out.view(np.int64)


@_wraparound
def band_hashes_from_signatures(sig: np.ndarray, n_bands: int) -> np.ndarray:
    """(n_docs, num_hashes) signatures → (n_docs, n_bands) LSH band hashes.

    Band i's hash is a mixed FNV chain over signature rows [i*r, (i+1)*r)
    seeded with the band index — equal slices give equal hashes (the only
    property LSH banding needs). Computed HERE, in the batched feature
    kernel, instead of JVM-side xxhash64-over-array-slices: the JVM version
    allocated 21 slice arrays per row per pass and was recomputed by every
    consumer (band explode, hot-bucket re-banding), which measurably
    inflated CPU under 32-thread concurrency; this is one vectorized numpy
    pass, persisted with the features and reused by every consumer."""
    n_docs, nh = sig.shape
    r = nh // n_bands
    s = sig.view(np.uint64).reshape(n_docs, n_bands, r)
    h = np.full((n_docs, n_bands), 0xCBF29CE484222325, dtype=np.uint64)
    h ^= np.arange(n_bands, dtype=np.uint64)[None, :]  # band seed
    h = (h * _FNV_PRIME) & _U64_MAX
    for j in range(r):
        h = ((h ^ s[:, :, j]) * _FNV_PRIME) & _U64_MAX
    return splitmix64(h.reshape(-1)).reshape(n_docs, n_bands).view(np.int64)
