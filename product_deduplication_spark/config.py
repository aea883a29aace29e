"""Engine configuration.

One frozen dataclass carries every tuning knob of the dedup pipeline so a run
is fully reproducible from (input snapshot, config, code version). Defaults
are chosen for the recall >= 0.99 gate (BASELINE.json "metric"): with
``num_hashes=126``, ``lsh_bands=21`` (rows_per_band=6) the S-curve candidate
probability at Jaccard s is 1-(1-s^6)^21: 0.9983 at s=0.80, 0.99994 at
s=0.85, ~1 at s>=0.9 — while background pairs (corpus median s~0.1) collide
with probability ~2e-5, keeping the candidate set linear in true duplicates
rather than quadratic in corpus size. With an *exact* Jaccard verify stage
downstream, pipeline recall at threshold 0.8 is >= 0.998 and precision is
exactly 1.0. (The earlier r=4 setting made EVERY s>=0.6 pair a candidate but
admitted 0.3% of the n^2 background — measured 40x more candidates and a 10x
slower verify stage at 18k docs.)

The reference's analogous knobs: fuzzy thresholds 95/90
(``reference/groups_creation.py:37-39``). Its per-doc candidate cap ntop=25
(``reference/static.py:194``) has no knob here: LSH bounds the candidate
set structurally.
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling -------------------------------------------------------
    shingle_mode: str = "char"  # "char" (k-byte shingles) | "token" (word n-grams)
    shingle_k: int = 5          # k for char mode, n for token mode

    # --- MinHash / LSH ---------------------------------------------------
    num_hashes: int = 126       # MinHash signature length
    lsh_bands: int = 21         # bands; rows_per_band = num_hashes // lsh_bands
    # signatures are one-permutation hashing with rotation densification
    # (hashing.oph_signatures: one pass over the shingles); its Jaccard
    # estimate is property-tested for sets of at least num_hashes shingles
    jaccard_threshold: float = 0.8  # exact-Jaccard verify threshold

    # --- skew / scale controls (SURVEY.md §4.1) -------------------------
    # Buckets with <= bucket_cap members enumerate all pairs; larger buckets
    # (boilerplate pages whose band hash collides for millions of docs) are
    # star-connected through their min doc_id instead of exploding O(n^2).
    bucket_cap: int = 64
    shuffle_partitions: int = 32

    # --- misc ------------------------------------------------------------
    min_doc_chars: int = 1      # docs shorter than this skip near-dup stages

    def __post_init__(self) -> None:
        # fail at construction, not deep inside a pipeline stage: every LSH
        # consumer derives rows_per_band, and an indivisible banding would
        # otherwise surface as a confusing mid-job error
        if self.num_hashes <= 0 or self.lsh_bands <= 0:
            raise ValueError("num_hashes and lsh_bands must be positive")
        if self.num_hashes % self.lsh_bands != 0:
            raise ValueError(
                f"num_hashes ({self.num_hashes}) must be divisible by "
                f"lsh_bands ({self.lsh_bands})"
            )
        if not (0.0 < self.jaccard_threshold <= 1.0):
            raise ValueError("jaccard_threshold must be in (0, 1]")

    @property
    def rows_per_band(self) -> int:
        return self.num_hashes // self.lsh_bands

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)

    def candidate_probability(self, s: float) -> float:
        """P(pair with true Jaccard s becomes an LSH candidate)."""
        r = self.rows_per_band
        return 1.0 - (1.0 - s**r) ** self.lsh_bands


# The grocery-parity LSH config (char-3 shingles, 42x3 banding) lives in
# parity.PARITY_CONFIG next to the pipeline that uses it; the verify
# prefilter's margin is verify.MARGIN, next to the sd it was measured from.
# Constants no caller varies sit next to their consumer: simhash_join.CHUNKS
# and HAMMING_MAX, features.SEED and substring.MIN_LEN.
