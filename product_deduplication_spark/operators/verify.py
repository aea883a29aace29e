"""Pair verification: exact Jaccard over shingle sets, JVM-side.

Replaces the reference's per-row ``fuzz.token_sort_ratio`` apply
(``reference/static.py:203-215``, SURVEY.md V4) — instead of a Python loop we
join candidate pairs back to per-doc shingle arrays and compute
``|A ∩ B| / (|A| + |B| - |A ∩ B|)`` (``array_intersect`` + ``size``) inside
whole-stage codegen.
Precision after this stage is exactly 1.0 w.r.t. the Jaccard threshold, so
end-to-end recall is determined solely by candidate generation (LSH S-curve).

Scale: three sort-merge joins of pairs↔features on long keys, with a
MinHash-estimate prefilter between the second and the third (see
:func:`verify_pairs`). The feature projections carry only doc_id, 32-bit
signatures and shingles — column pruning keeps text/html out of the
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from product_deduplication_spark.config import DedupConfig

# prefilter margin: candidates whose signature estimate of Jaccard is below
# (threshold - MARGIN) skip the exact-Jaccard check. Measured sd of the
# 126-bin OPH estimate at Jaccard 0.8 (random sets, 3,000-10,000 trials
# each): 0.082 at 20 shingles, 0.058 at 40, 0.040 at 100, 0.031 at 278. So
# the margin is >= 6.2 sigma only from 100 shingles up (20 shingles: 3
# sigma, 12 of 3,000 true pairs dropped).
MARGIN = 0.25
# smallest shingle set whose estimate the prefilter trusts (the 6.2 sigma
# above); pairs with a smaller end skip the estimate and go straight to
# exact Jaccard
N_MIN = 100


def _sig32(col):
    """Signature narrowed to 32-bit ints for the ESTIMATE joins — halves the
    per-candidate signature bytes crossing the prefilter exchanges. Output-
    neutral by a superset argument: truncated equality is a SUPERSET of full
    equality, so the estimate can only increase and the filter only becomes
    more permissive — no pair that previously reached the exact-Jaccard
    check is dropped, and every extra survivor (P ~ 2^-31 per element) still
    faces the exact check, which alone decides the output."""
    return F.transform(
        col, lambda x: x.bitwiseAND(F.lit(0x7FFFFFFF)).cast("int")
    )


def verify_pairs(
    pairs: DataFrame,
    features: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
) -> DataFrame:
    """(src, dst, method, similarity) for pairs with exact Jaccard >= threshold.

    Three feature joins: (1) the src side attaches the signature, (2) the
    dst side attaches signature AND shingles in one join (the shingles ride
    the features-side exchange, whose bytes are O(corpus) and shipped either
    way; the estimate filter runs in the same stage, so no per-candidate
    shingle bytes cross a further exchange), (3) the SURVIVORS re-join the
    src side for shingles. Per-candidate intermediates carry only signatures
    (and the src set size) until the estimate filter. The estimate only
    filters pairs whose smaller shingle set has at least ``N_MIN``
    elements; below that it is too noisy to trust."""
    sig_a = features.select(
        F.col(id_col).alias("src"),
        _sig32(F.col("minhash")).alias("_sig_a"),
        F.size("shingles").alias("_n_a"),
    )
    b_side = features.select(
        F.col(id_col).alias("dst"),
        _sig32(F.col("minhash")).alias("_sig_b"),
        F.col("shingles").alias("_sh_b"),
    )
    sh_a = features.select(F.col(id_col).alias("src"), F.col("shingles").alias("_sh_a"))
    est = F.aggregate(
        F.zip_with("_sig_a", "_sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(cfg.num_hashes)
    cutoff = max(0.0, cfg.jaccard_threshold - MARGIN)
    # merge hints: the feature sides grow with the corpus — never allow
    # a (mis-estimated) broadcast of them (measured: a static broadcast of
    # an array-carrying features relation aborted the driver at 370k docs)
    joined = (
        pairs.join(sig_a.hint("merge"), "src")
        .join(b_side.hint("merge"), "dst")
        .where((F.least("_n_a", F.size("_sh_b")) < N_MIN) | (est >= F.lit(cutoff)))
        .select("src", "dst", "_sh_b")
        .join(sh_a.hint("merge"), "src")
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| — exact for these arrays (shingle sets
    # are distinct by construction, _to_shingle32 returns np.unique), and it
    # skips materializing a |A|+|B|-element union array per candidate pair;
    # only the intersect pass remains. Integer arithmetic, so `sim` is
    # bit-identical to the array_union form.
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    sim = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.withColumn("similarity", sim)
        .where(F.col("similarity") >= F.lit(cfg.jaccard_threshold))
        .select("src", "dst", F.lit("minhash").alias("method"), "similarity")
    )
