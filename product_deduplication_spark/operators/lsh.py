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

Delta mode (``delta_ids``): restrict candidate generation to pairs touching
a given set of new documents — only buckets containing >= 1 new doc are
considered, and only (new, any) pairs are emitted. This turns an
incremental batch from full-corpus cost into delta cost
(streaming/incremental.py); bootstrap passes delta_ids=None (all pairs).
Inductive completeness: every (a, b) pair is emitted by the batch that adds
the younger of a, b.

Band hashes come precomputed in the features' ``bands`` column: the numpy
feature kernel (``hashing.band_hashes_from_signatures``) hashes them in the
same Arrow UDF pass that builds the signature. Only features without that
column fall back to ``band_hash_array``, xxhash64 over signature slices on
the JVM.

Bootstrap (``delta_ids=None``) takes a dedicated narrow-relation fast path
(``_candidate_pairs_bootstrap``): no ``is_new`` column, primitive member
arrays, identical pair set (pinned in tests). BOTH paths pack bucket keys to
a single long (``_pack_band_key``) and compute bucket statistics with window
functions over one exchange of the exploded band relation — the widest
shuffle of the pipeline — instead of a groupBy + join-back that shuffled it
twice (near-unique bucket keys defeat partial aggregation, so the agg
exchange carried ~one row per band anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from product_deduplication_spark.caching import CacheScope, persist_in
from product_deduplication_spark.config import DedupConfig


def band_hash_array(cfg: DedupConfig, sig_col: str = "minhash"):
    """array<long> of per-band hashes: band i = xxhash64(i, slice of rows).

    Fallback for feature relations WITHOUT a precomputed ``bands`` column —
    the feature kernel normally computes band hashes once in numpy
    (hashing.band_hashes_from_signatures) and persists them; recomputing
    here allocates 21 slice arrays per row per consumer, which measurably
    inflates CPU under high thread counts."""
    r = cfg.rows_per_band
    return F.array(
        *[
            F.xxhash64(F.lit(i), F.slice(F.col(sig_col), i * r + 1, r))
            for i in range(cfg.lsh_bands)
        ]
    )


def _bands_col(features: DataFrame, cfg: DedupConfig):
    """Persisted band-hash array if the features carry one, else computed."""
    return F.col("bands") if "bands" in features.columns else band_hash_array(cfg)


def explode_bands(features: DataFrame, cfg: DedupConfig, id_col: str = "doc_id") -> DataFrame:
    """(band, band_hash, node) — one row per (doc, band)."""
    return features.select(
        F.col(id_col).alias("node"),
        F.posexplode(_bands_col(features, cfg)).alias("band", "band_hash"),
    )


def _pack_band_key(band_col, hash_col):
    """Pack (band index, band hash) into ONE 8-byte key: band in the top 6
    bits, the hash's low 58 bits below. Cross-band buckets can never merge
    (distinct high bits) and 2^58 residual space keeps within-band collisions
    at the xxhash64 noise level. Halves the bucket-key width in every
    exchange of the exploded band relation (two UnsafeRow words -> one)."""
    return F.shiftleft(band_col.cast("long"), 58).bitwiseOR(
        hash_col.bitwiseAND(F.lit((1 << 58) - 1))
    )


def _pairs_from_sorted_id_arrays(buckets: DataFrame) -> DataFrame:
    """All (src < dst) pairs from a sorted ``ids`` member array — bootstrap
    twin of ``_pairs_from_member_arrays``: no is_new filter, and the member
    arrays are primitive longs (one word per member) instead of structs (an
    UnsafeRow per member), so the collect + HOF enumeration touches fewer
    bytes. Pure JVM higher-order functions."""
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


def _candidate_pairs_bootstrap(
    features: DataFrame,
    cfg: DedupConfig,
    id_col: str,
    scope: CacheScope | None,
) -> DataFrame:
    """``candidate_pairs`` fast path for bootstrap mode (``delta_ids=None``,
    every doc "new"): identical pair set to the general path with all-new
    inputs (pinned in tests/test_plans_and_skew.py), but every relation is
    narrower — the constant-true ``is_new`` column is dropped, bucket keys
    are packed to one long (``_pack_band_key``), hubs are plain ``min(node)``
    instead of ``min(struct(node, is_new))``, and small-bucket member arrays
    are bare ids (primitive longs for the pipeline's xxhash64 doc ids; one
    UnsafeRow per member in the general path's struct arrays either way).
    The exploded band relation is the pipeline's widest shuffle (docs x
    bands rows through the sizes agg, the collision join, and the
    persist), so its byte width is the candidates stage's DRAM bill.
    Skew strategy is unchanged — see the module docstring."""
    arrs_src = features.select(
        F.col(id_col).alias("node"), _bands_col(features, cfg).alias("_bh")
    )
    bands = arrs_src.select(
        "node", F.posexplode("_bh").alias("band", "band_hash")
    ).select("node", _pack_band_key(F.col("band"), F.col("band_hash")).alias("bkey"))

    # bucket stats via window functions over ONE exchange of the exploded
    # band relation — the former groupBy(bkey).agg + join-back shuffled the
    # same relation twice (the partial agg barely collapses near-unique
    # bucket keys, so the agg exchange carried ~row-per-band too). count/min
    # over an unordered bkey window give the identical (bucket_n, hub) per
    # member row. Hot keys land on one reducer either way — O(bucket) rows,
    # same as the join they replace.
    w = Window.partitionBy("bkey")
    keyed = bands.select(
        "bkey",
        "node",
        F.count("*").over(w).alias("bucket_n"),
        F.min("node").over(w).alias("hub"),
    ).where(F.col("bucket_n") > 1)
    keyed = persist_in(keyed, scope)

    small = keyed.where(F.col("bucket_n") <= cfg.bucket_cap)
    big = keyed.where(F.col("bucket_n") > cfg.bucket_cap)

    small_buckets = small.groupBy("bkey").agg(
        F.array_sort(F.collect_list("node")).alias("ids")
    )
    small_pairs = _pairs_from_sorted_id_arrays(small_buckets)

    # hot buckets: secondary re-banding, (i, j>i) covers each band pair once;
    # the original band index comes back out of the packed key's top bits
    big2 = (
        big.withColumn("band", F.shiftrightunsigned("bkey", 58).cast("int"))
        .join(arrs_src, "node")
        .select("bkey", "band", "node", F.posexplode("_bh").alias("band2", "band2_hash"))
        .where(F.col("band2") > F.col("band"))
        .select(
            "bkey",
            "node",
            _pack_band_key(F.col("band2"), F.col("band2_hash")).alias("bkey2"),
        )
    )
    # same window fusion for the sub-bucket stats: one exchange of the
    # re-band rows instead of groupBy + join-back, and big2 now has a single
    # consumer so its persist (and cache-lifetime bookkeeping) is gone
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
    sub_hot_pairs = (
        sub_keyed.where(F.col("sub_n") > cfg.bucket_cap)
        .where(F.col("node") != F.col("sub_hub"))
        .select(F.col("sub_hub").alias("src"), F.col("node").alias("dst"))
    )
    big_star = big.where(F.col("node") != F.col("hub")).select(
        F.col("hub").alias("src"), F.col("node").alias("dst")
    )
    return (
        small_pairs.unionByName(sub_small_pairs)
        .unionByName(sub_hot_pairs)
        .unionByName(big_star)
        .dropDuplicates(["src", "dst"])
    )


def _pairs_from_member_arrays(buckets: DataFrame) -> DataFrame:
    """Enumerate (src < dst) pairs from a bucket relation with an ``ids``
    column of sorted struct(node, is_new) members, keeping only pairs where
    at least one side is new. Pure JVM higher-order functions."""
    ids = F.col("ids")
    pair_struct = F.transform(
        ids,
        lambda x, i: F.filter(
            F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(
                    x["node"].alias("src"),
                    y["node"].alias("dst"),
                    (x["is_new"] | y["is_new"]).alias("keep"),
                ),
            ),
            lambda s: s["keep"],
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
    precision here is irrelevant, only recall matters.

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
    if delta_ids is None:
        # bootstrap: every doc is "new" — take the narrow-relation fast path
        # (identical pair set to this general path with all-new inputs,
        # pinned in tests/test_plans_and_skew.py)
        return _candidate_pairs_bootstrap(features, cfg, id_col, scope)

    # tag is_new on the PER-DOC feature rows, before the band explode — the
    # former explode-then-join shipped lsh_bands copies of every node id into
    # the delta join (guide §3.3: explode before a join multiplies the
    # shuffle); joining first moves one row per doc
    new_nodes = (
        delta_ids.select(F.col(delta_ids.columns[0]).alias("node"))
        .distinct()
        .withColumn("_n", F.lit(True))
    )
    arrs = features.select(
        F.col(id_col).alias("node"), _bands_col(features, cfg).alias("_bh")
    )
    tagged = arrs.join(new_nodes, "node", "left").withColumn(
        "is_new", F.coalesce(F.col("_n"), F.lit(False))
    ).drop("_n")
    # (band, band_hash) packed to ONE long key — the same 2/3-width cut the
    # bootstrap fast path ships; the packed key flows through every exchange
    # of the exploded band relation below
    bands = tagged.select(
        "node", "is_new", F.posexplode("_bh").alias("band", "band_hash")
    ).select(
        "node", "is_new", _pack_band_key(F.col("band"), F.col("band_hash")).alias("bkey")
    )

    # bucket stats + delta restriction via window functions over ONE exchange
    # of the band relation. The former pipeline shuffled it three times:
    # touched distinct + semi join, sizes agg, join-back (the agg exchanges
    # barely collapse near-unique bucket keys). count/min/max over an
    # unordered bkey window give identical values per member row; buckets
    # with no new member (_touched = false) or a single member drop before
    # anything else runs. min(struct(node, is_new)) gives the hub id AND
    # whether the hub is new, exactly as the agg did. Hot keys land on one
    # reducer either way — O(bucket) rows, same as the join they replace.
    w = Window.partitionBy("bkey")
    keyed = bands.select(
        "bkey",
        "node",
        "is_new",
        F.count("*").over(w).alias("bucket_n"),
        F.min(F.struct(F.col("node"), F.col("is_new"))).over(w).alias("_hub"),
        F.max("is_new").over(w).alias("_touched"),
    ).where(F.col("_touched") & (F.col("bucket_n") > 1))
    # keyed feeds FOUR downstream branches (small pairs, secondary re-band,
    # still-hot stars, hub-star backstop). Catalyst pushes each branch's
    # bucket_n filter into its own copy of the subtree, so the canonicalized
    # exchanges differ and AQE stage reuse never fires. Persisting pins one
    # computation; the cache is collision-bucket members only, released via
    # ``scope`` by the caller.
    keyed = persist_in(keyed, scope)

    small = keyed.where(F.col("bucket_n") <= cfg.bucket_cap)
    big = keyed.where(F.col("bucket_n") > cfg.bucket_cap)

    # small buckets: full (new-touching) pair enumeration via sorted member
    # array + HOFs — array_sort on struct orders by node, so src < dst
    small_buckets = small.groupBy("bkey").agg(
        F.array_sort(F.collect_list(F.struct("node", "is_new"))).alias("ids")
    )
    small_pairs = _pairs_from_member_arrays(small_buckets)

    # hot buckets: secondary re-banding — re-key each hot member by every
    # LATER band's hash ((i, j) with j > i covers each unordered band pair
    # once; the original band index comes back out of the packed key's top
    # bits). The join back to the per-doc band array touches only hot-bucket
    # members.
    big2 = (
        big.withColumn("band", F.shiftrightunsigned("bkey", 58).cast("int"))
        .join(arrs, "node")
        .select(
            "bkey", "band", "node", "is_new",
            F.posexplode("_bh").alias("band2", "band2_hash"),
        )
        .where(F.col("band2") > F.col("band"))
        .select(
            "bkey",
            "node",
            "is_new",
            _pack_band_key(F.col("band2"), F.col("band2_hash")).alias("bkey2"),
        )
    )
    # same window fusion for sub-bucket stats (one exchange of the re-band
    # rows; big2 now has a single consumer so its persist is gone)
    w2 = Window.partitionBy("bkey", "bkey2")
    sub_keyed = big2.select(
        "bkey",
        "bkey2",
        "node",
        "is_new",
        F.count("*").over(w2).alias("sub_n"),
        F.min(F.struct(F.col("node"), F.col("is_new"))).over(w2).alias("_sub_hub"),
    ).where(F.col("sub_n") > 1)
    sub_small_buckets = (
        sub_keyed.where(F.col("sub_n") <= cfg.bucket_cap)
        .groupBy("bkey", "bkey2")
        .agg(F.array_sort(F.collect_list(F.struct("node", "is_new"))).alias("ids"))
    )
    sub_small_pairs = _pairs_from_member_arrays(sub_small_buckets)

    # still-hot sub-buckets (members agree on TWO independent bands — near-
    # certainly true duplicates): star through the min-id hub, O(n) edges.
    # Emit (hub, node) for new nodes, plus (hub, everyone) when the hub
    # itself is new (a new min-id doc must still reach the old members).
    sub_hot = sub_keyed.where(F.col("sub_n") > cfg.bucket_cap)
    sub_hot_pairs = sub_hot.where(
        (F.col("node") != F.col("_sub_hub.node"))
        & (F.col("is_new") | F.col("_sub_hub.is_new"))
    ).select(F.col("_sub_hub.node").alias("src"), F.col("node").alias("dst"))

    # hub star over the whole hot bucket as a connectivity backstop for
    # pairs whose secondary hashes diverge (verified downstream like every
    # other candidate — contributes edges only where the hub really is a
    # duplicate).
    big_star = big.where(
        (F.col("node") != F.col("_hub.node")) & (F.col("is_new") | F.col("_hub.is_new"))
    ).select(F.col("_hub.node").alias("src"), F.col("node").alias("dst"))

    return (
        small_pairs.unionByName(sub_small_pairs)
        .unionByName(sub_hot_pairs)
        .unionByName(big_star)
        .dropDuplicates(["src", "dst"])
    )
