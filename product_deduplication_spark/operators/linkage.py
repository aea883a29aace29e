"""Cross-catalog record linkage: attach external attributes (barcodes) to
canonical entities by fuzzy name matching.

Re-expresses ``reference/match_barcode.py`` (SURVEY.md §3 secondary entry
point): an external table ``(ean, item_name)`` is matched against the
canonical catalog —

1. names normalized with the reference chain (``match_barcode.py:75-88``)
2. **direct-match back door**: item names already present in canonical
   links map their ean straight onto the canonical_id
   (``match_barcode.py:139-166``) and leave the similarity set
3. similarity match over the REMAINING canonical leaders x ean-products:
   LSH candidates restricted to cross-set pairs
   (``match_barcode.py:109-114`` isin filter), fuzzy >= 85 + package > 75
   (``match_barcode.py:196-198``)
4. one best match per canonical product: argmax over (fuzz_ratio,
   package_ratio, similarity) (``match_barcode.py:117-121``)
5. ean attached to the catalog; unmatched rows keep NULL
   (``match_barcode.py:123-137``)

Spark shape: two broadcast-friendly dimension tables; candidate generation
reuses the LSH operator over the unioned name space, then a left_semi/
left_anti pair splits cross-set candidates from intra-set noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.functions.features import with_features
from product_deduplication_spark.functions.normalize import fuzzy_name_match, normalize_names
from product_deduplication_spark.operators.lsh import candidate_pairs
from product_deduplication_spark.parity import PARITY_CONFIG


def direct_barcode_matches(
    ean_table: DataFrame, links: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(matched: canonical_id, canonical_leader, ean; remaining_links_leaders)
    — the back door (``match_barcode.py:139-166``)."""
    lk = links.select("item_name", "canonical_id", "canonical_leader").dropDuplicates()
    matched = (
        lk.join(ean_table.select("item_name", "ean"), "item_name")
        .select("canonical_id", "canonical_leader", "ean")
        .dropDuplicates(["canonical_id"])
    )
    return matched


def match_barcodes_to_canonical(
    ean_table: DataFrame,
    catalog: DataFrame,
    links: DataFrame,
    threshold_products: int = 85,
    threshold_package: int = 75,
    cfg: DedupConfig | None = None,
) -> DataFrame:
    """Returns the catalog with an ``ean`` column (NULL where unmatched).

    ean_table: (ean string, item_name string).
    """
    cfg = cfg or PARITY_CONFIG
    clean = normalize_names(ean_table, "item_name").select("ean", "item_name", "product_name")

    # 2. direct matches leave the similarity set
    direct = direct_barcode_matches(clean.select(F.col("item_name"), "ean"), links)
    rest_catalog = catalog.join(
        direct.select("canonical_id"), "canonical_id", "left_anti"
    ).withColumn("leader_norm", F.lower(F.trim("canonical_leader")))

    # 3. similarity candidates over the unioned name space
    left_names = rest_catalog.select(F.col("leader_norm").alias("name")).distinct()
    right_names = clean.select(F.col("product_name").alias("name")).distinct()
    unioned = left_names.unionByName(right_names).distinct().withColumn(
        "doc_id", F.xxhash64("name")
    )
    feats = with_features(unioned.select("doc_id", F.col("name").alias("text")), cfg, simhash=False)
    pairs = candidate_pairs(
        feats.select("doc_id", "shingles", "minhash", "simhash", "bands"), cfg
    )
    nm = unioned.select("doc_id", "name")
    sym = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    p = (
        sym.join(nm.withColumnRenamed("doc_id", "src").withColumnRenamed("name", "canon_name"), "src")
        .join(nm.withColumnRenamed("doc_id", "dst").withColumnRenamed("name", "ean_name"), "dst")
        .join(left_names.withColumnRenamed("name", "canon_name"), "canon_name", "left_semi")
        .join(right_names.withColumnRenamed("name", "ean_name"), "ean_name", "left_semi")
    )
    # identical names appear once in the unioned LSH space so no src<dst
    # pair forms — the reference relies on the cosine matrix diagonal for
    # these (match_barcode.py:104-114); add them explicitly
    identical = left_names.join(right_names, "name").select(
        F.col("name").alias("canon_name"), F.col("name").alias("ean_name")
    )
    p = p.select("canon_name", "ean_name").unionByName(identical).dropDuplicates()

    p = fuzzy_name_match(p, "canon_name", "ean_name", threshold_products, threshold_package)

    # 4. one best match per canonical product (match_barcode.py:117-121)
    w = Window.partitionBy("canon_name").orderBy(
        F.desc("fuzz_ratio"), F.desc("package_ratio"), F.asc("ean_name")
    )
    best = (
        p.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("canon_name", "ean_name")
    )
    ean_map = clean.select(F.col("product_name").alias("ean_name"), "ean").dropDuplicates(
        ["ean_name"]
    )
    matched_sim = best.join(ean_map, "ean_name").select(
        F.col("canon_name").alias("leader_norm"), "ean"
    )

    # 5. attach: direct matches + similarity matches + unmatched NULL
    out_direct = catalog.join(direct.select("canonical_id", "ean"), "canonical_id", "left")
    out = (
        out_direct.withColumn("leader_norm", F.lower(F.trim("canonical_leader")))
        .join(matched_sim.withColumnRenamed("ean", "_sim_ean"), "leader_norm", "left")
        .withColumn("ean", F.coalesce(F.col("ean"), F.col("_sim_ean")))
        .drop("leader_norm", "_sim_ean")
    )
    return out
