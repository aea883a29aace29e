"""SimHash Hamming-neighborhood candidate generation.

Second candidate channel (SURVEY.md §7.1 s4b, BASELINE.json north_star):
64-bit TF-weighted SimHash per doc; pairs within Hamming distance d are
candidates. By the pigeonhole principle, splitting the fingerprint into
``chunks`` pieces guarantees two fingerprints with Hamming distance
< chunks share at least one identical chunk — so the candidate join is
``chunks`` equi-joins (one per chunk index), entirely JVM-side, followed by
an exact popcount filter (``bit_count``, whole-stage codegen).

``CHUNKS = 4`` chunks of 16 bits → guaranteed recall for Hamming <=
``HAMMING_MAX = 3``.

Skew: identical fingerprints (exact dups / boilerplate) would make a chunk
key hot; the same hub-star trick as LSH applies — docs whose FULL simhash is
identical are star-connected first and only distinct fingerprints enter the
pairwise chunk join (one representative per fingerprint), bounding any chunk
bucket by the number of *distinct* fingerprints in it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# pigeonhole chunks of the 64-bit fingerprint; the recall guarantee holds
# only while HAMMING_MAX < CHUNKS
CHUNKS = 4
HAMMING_MAX = 3


def _chunk(col, i: int, width: int):
    return F.shiftrightunsigned(col, i * width).bitwiseAND(F.lit((1 << width) - 1))


def simhash_candidate_pairs(features: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(src, dst) candidate pairs with Hamming(simhash) <= HAMMING_MAX."""
    width = 64 // CHUNKS  # the fingerprint is a 64-bit long
    # guard: features built with simhash=False carry NULL fingerprints —
    # banding them would be garbage-in (and a constant sentinel would
    # collide every doc into one bucket). Fail loudly, per row, JVM-side.
    fp = features.select(
        F.col(id_col).alias("node"),
        F.when(
            F.col("simhash").isNotNull(), F.col("simhash")
        ).otherwise(
            F.raise_error(
                F.lit(
                    "simhash_candidate_pairs: NULL simhash — features were "
                    "built with simhash=False; rebuild with simhash=True"
                )
            ).cast("long")
        ).alias("simhash"),
    )

    # star-connect identical fingerprints; one representative per fingerprint.
    # min/count over a fingerprint window replace the former groupBy + join-
    # back, which exchanged the fingerprint relation twice (distinct
    # fingerprints defeat partial aggregation); the representative rows are
    # simply the rows whose node IS the window min.
    w = Window.partitionBy("simhash")
    fpw = fp.select(
        "node",
        "simhash",
        F.min("node").over(w).alias("hub"),
        F.count("*").over(w).alias("n"),
    )
    same_fp_pairs = fpw.where(
        (F.col("n") > 1) & (F.col("node") != F.col("hub"))
    ).select(F.col("hub").alias("src"), F.col("node").alias("dst"))

    # (chunk index, chunk value) packed into ONE key: index in the bits above
    # the chunk width (chunk values are < 2^width by construction, so keys
    # from different indices can never collide) — halves the join-key width
    # in the self-join exchange, the operator's dominant shuffle
    distinct_fp = fpw.where(F.col("node") == F.col("hub")).select("node", "simhash")
    chunked = distinct_fp.select(
        "node",
        "simhash",
        F.explode(
            F.array(
                *[
                    (F.lit(i << width) + _chunk(F.col("simhash"), i, width)).alias(f"_c{i}")
                    for i in range(CHUNKS)
                ]
            )
        ).alias("ckey"),
    )
    a = chunked.select("ckey", F.col("node").alias("src"), F.col("simhash").alias("sh_a"))
    b = chunked.select("ckey", F.col("node").alias("dst"), F.col("simhash").alias("sh_b"))
    near = (
        a.join(b, "ckey")
        .where(F.col("src") < F.col("dst"))
        .where(
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            <= F.lit(HAMMING_MAX)
        )
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    # near and same_fp_pairs are disjoint by construction — near pairs are
    # both per-fingerprint representatives (min node of their fp class),
    # same_fp pairs link a representative to a strictly-greater NON-
    # representative of the same class — and each side is already distinct,
    # so a plain union is the distinct pair set (no final dropDuplicates:
    # that was a full extra shuffle of the pair relation)
    return near.unionByName(same_fp_pairs)
