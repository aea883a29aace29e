"""MinHash-LSH banding: candidate-pair generation with explicit skew control.

This is the central architectural substitution (SURVEY.md §2.3 J8): the
reference's candidate generator is a global TF-IDF matrix times its transpose
with a C++ top-k kernel (``reference/static.py:58-85,194``). At 10^12 docs a
global matrix is impossible; LSH banding makes candidate generation a
*relational* operation — explode signatures to (band, band_hash) keys and
group — which Catalyst/AQE can plan, and whose skew we control explicitly
(north_rule).

Skew strategy (SURVEY.md §4.1):
  1. Bucket sizes are computed FIRST (count agg — map-side partial, no
     collect_list on the hot key).
  2. Buckets with <= bucket_cap members enumerate all intra-bucket pairs via
     JVM higher-order functions (transform+slice over the sorted member
     array) — no Python, no per-row UDF.
  3. HOT buckets (boilerplate pages: one band hash shared by millions) are
     **re-banded with secondary hashes** — each hot member is re-keyed by
     (hot band, every LATER band's hash), splitting the hot bucket into
     sub-buckets. Sub-buckets small enough enumerate pairs exactly, which
     gives the guarantee: *any pair agreeing on >= 2 bands is enumerated*
     (if its smallest agreeing band is hot, the (i, j) sub-bucket finds it;
     if any agreeing band is non-hot, the normal path finds it). So
     connectivity no longer hinges on the min-id hub being a verifiable
     duplicate of every member; the residual miss is pairs whose ONLY
     collision anywhere is a single hot band (P ~ Binomial tail at the
     recall-gated config, covered by the hub-star backstop).
  4. Sub-buckets that are STILL hot (e.g. 10^6 byte-identical boilerplate
     pages: identical signature → identical secondary hash) star through
     their min-id hub: O(n) edges, and because a still-hot *sub*-bucket
     means members share two independent bands, the hub is overwhelmingly a
     true duplicate — the star verifies. The hub is a ``min()`` over a
     window partitioned by the bucket key, so every row of a hot bucket
     lands on ONE reducer: O(bucket) rows on that task, but O(n) edges out
     instead of O(n^2) pairs.

Band hashes come precomputed in the features' ``bands`` column: the numpy
feature kernel (``hashing.band_hashes_from_signatures``) hashes them in the
same Arrow UDF pass that builds the signature. ``explode_bands`` packs each
(band, band hash) into one long bucket key (``_pack_band_key``), and bucket
statistics are window functions over one exchange of that exploded relation
— the widest shuffle of the pipeline — instead of a groupBy + join-back that
shuffled it twice (near-unique bucket keys defeat partial aggregation, so
the agg exchange carried ~one row per band anyway).

Delta mode (``delta_ids``): only pairs with at least one new document are
emitted, by the same kernel with two additions. (a) Touched buckets only:
``is_new`` is tagged on the per-doc rows before the explode, the bucket
window adds ``max(is_new)``, and buckets without a new member drop before
anything else runs. Bucket sizes and hubs still count every member of a
touched bucket, so every skew decision is the one the full run makes. (b)
Pairs with a new side only: each enumerated pair survives if one of its ends
is a new member of a touched bucket. Every full-mode pair with a new end
comes from a bucket holding that end, which is touched, so the result is
exactly the full-mode pair set restricted to pairs touching the delta. This
turns an incremental batch from full-corpus cost into delta cost
(streaming/incremental.py); bootstrap passes delta_ids=None (all pairs).
Inductive completeness: every (a, b) pair is emitted by the batch that adds
the younger of a, b.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from product_deduplication_spark.caching import CacheScope, persist_in
from product_deduplication_spark.config import DedupConfig


def _band_arrays(features: DataFrame, id_col: str, *carry: str) -> DataFrame:
    """(node, *carry, _bh) — one row per doc with its band-hash array."""
    return features.select(F.col(id_col).alias("node"), *carry, F.col("bands").alias("_bh"))


def explode_bands(features: DataFrame, id_col: str = "doc_id", *carry: str) -> DataFrame:
    """(node, *carry, bkey) — one row per (doc, band), the band index and its
    hash packed into the single long bucket key ``bkey``."""
    return (
        _band_arrays(features, id_col, *carry)
        .select("node", *carry, F.posexplode("_bh").alias("band", "band_hash"))
        .select("node", *carry, _pack_band_key(F.col("band"), F.col("band_hash")).alias("bkey"))
    )


def _pack_band_key(band_col, hash_col):
    """Pack (band index, band hash) into ONE 8-byte key: band in the top 6
    bits, the hash's low 58 bits below. Cross-band buckets can never merge
    (distinct high bits) and 2^58 residual space keeps within-band collisions
    at the 64-bit hash noise level. Halves the bucket-key width in every
    exchange of the exploded band relation (two UnsafeRow words -> one)."""
    return F.shiftleft(band_col.cast("long"), 58).bitwiseOR(
        hash_col.bitwiseAND(F.lit((1 << 58) - 1))
    )


def _pairs_from_sorted_id_arrays(buckets: DataFrame) -> DataFrame:
    """All (src < dst) pairs from a sorted ``ids`` member array. The member
    arrays are primitive longs (one word per member), so the collect + HOF
    enumeration stays narrow. Pure JVM higher-order functions."""
    ids = F.col("ids")
    pair_struct = F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(x.alias("src"), y.alias("dst")),
        ),
    )
    return (
        buckets.select(F.explode(F.flatten(pair_struct)).alias("p"))
        .select(F.col("p.src"), F.col("p.dst"))
    )


def candidate_pairs(
    features: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    delta_ids: DataFrame | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Distinct candidate pairs (src < dst) from LSH band collisions.

    Returns (src, dst). Verification (exact Jaccard) happens downstream —
    precision here is irrelevant, only recall matters. ``features`` must
    carry ``id_col`` and the ``bands`` array of ``with_features``.

    ``delta_ids``: optional one-column DataFrame of node ids considered
    "new"; when given, only pairs with at least one new side are produced
    (incremental batches — see module docstring).

    ``scope``: registers the internal persist (collision-bucket members) for
    explicit release once the caller has materialized the pairs — required
    in long-lived sessions (the streaming loop calls this per micro-batch;
    CacheManager holds persisted plans until unpersist, see caching.py).
    Without a scope the cache lives until session teardown (one-shot
    scripts).
    """
    # bucket stats via window functions over ONE exchange of the exploded
    # band relation. count/min over an unordered bkey window give the
    # (bucket_n, hub) of every member row. Hot keys land on one reducer —
    # O(bucket) rows, as a groupBy + join-back would.
    w = Window.partitionBy("bkey")
    stats = [F.count("*").over(w).alias("bucket_n"), F.min("node").over(w).alias("hub")]
    if delta_ids is None:
        keyed = (
            explode_bands(features, id_col)
            .select("bkey", "node", *stats)
            .where(F.col("bucket_n") > 1)
        )
    else:
        # tag is_new on the PER-DOC rows, before the band explode: joining
        # first moves one row per doc instead of lsh_bands copies of each id
        new_nodes = (
            delta_ids.select(F.col(delta_ids.columns[0]).alias(id_col))
            .distinct()
            .withColumn("_n", F.lit(True))
        )
        tagged = features.join(new_nodes, id_col, "left").withColumn(
            "is_new", F.coalesce(F.col("_n"), F.lit(False))
        )
        keyed = (
            explode_bands(tagged, id_col, "is_new")
            .select("bkey", "node", "is_new", *stats, F.max("is_new").over(w).alias("_touched"))
            .where(F.col("_touched") & (F.col("bucket_n") > 1))
        )
    # keyed feeds four branches (small pairs, secondary re-band, still-hot
    # stars, hub-star backstop) plus, in delta mode, the new-side filter.
    # Catalyst pushes each branch's bucket_n filter into its own copy of the
    # subtree, so AQE stage reuse never fires; persisting pins one
    # computation of collision-bucket members, released via ``scope``.
    keyed = persist_in(keyed, scope)

    small = keyed.where(F.col("bucket_n") <= cfg.bucket_cap)
    big = keyed.where(F.col("bucket_n") > cfg.bucket_cap)

    small_buckets = small.groupBy("bkey").agg(
        F.array_sort(F.collect_list("node")).alias("ids")
    )
    small_pairs = _pairs_from_sorted_id_arrays(small_buckets)

    # hot buckets: secondary re-banding, (i, j>i) covers each band pair once;
    # the original band index comes back out of the packed key's top bits.
    # The join back to the per-doc band arrays touches only hot members.
    big2 = (
        big.withColumn("band", F.shiftrightunsigned("bkey", 58).cast("int"))
        .join(_band_arrays(features, id_col), "node")
        .select("bkey", "band", "node", F.posexplode("_bh").alias("band2", "band2_hash"))
        .where(F.col("band2") > F.col("band"))
        .select(
            "bkey",
            "node",
            _pack_band_key(F.col("band2"), F.col("band2_hash")).alias("bkey2"),
        )
    )
    # same window fusion for the sub-bucket stats: one exchange of the
    # re-band rows, and big2 has a single consumer so it needs no persist
    w2 = Window.partitionBy("bkey", "bkey2")
    sub_keyed = big2.select(
        "bkey",
        "bkey2",
        "node",
        F.count("*").over(w2).alias("sub_n"),
        F.min("node").over(w2).alias("sub_hub"),
    ).where(F.col("sub_n") > 1)
    sub_small_buckets = (
        sub_keyed.where(F.col("sub_n") <= cfg.bucket_cap)
        .groupBy("bkey", "bkey2")
        .agg(F.array_sort(F.collect_list("node")).alias("ids"))
    )
    sub_small_pairs = _pairs_from_sorted_id_arrays(sub_small_buckets)
    # still-hot sub-buckets (members agree on TWO independent bands — near-
    # certainly true duplicates): star through the min-id hub, O(n) edges
    sub_hot_pairs = (
        sub_keyed.where(F.col("sub_n") > cfg.bucket_cap)
        .where(F.col("node") != F.col("sub_hub"))
        .select(F.col("sub_hub").alias("src"), F.col("node").alias("dst"))
    )
    # hub star over the whole hot bucket as a connectivity backstop for
    # pairs whose secondary hashes diverge (verified downstream like every
    # other candidate)
    big_star = big.where(F.col("node") != F.col("hub")).select(
        F.col("hub").alias("src"), F.col("node").alias("dst")
    )
    pairs = small_pairs.unionByName(sub_small_pairs).unionByName(sub_hot_pairs).unionByName(big_star)
    if delta_ids is not None:
        # keep pairs with a new end: explode both ends and semi-join them to
        # the (persisted) new members of the touched buckets
        new_members = keyed.where("is_new").select("node")
        pairs = (
            pairs.select("src", "dst", F.explode(F.array("src", "dst")).alias("node"))
            .join(new_members, "node", "left_semi")
            .select("src", "dst")
        )
    return pairs.dropDuplicates(["src", "dst"])
