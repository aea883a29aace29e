"""Reference-parity pipeline: the EP1 grocery dedup re-expressed Spark-first.

Same stages as ``reference/groups_creation.main`` (SURVEY.md §3 EP1) with the
architectural substitutions of SURVEY.md §2: TF-IDF cosine top-k → char-
shingle MinHash LSH candidates (low S-curve threshold — the *verify* stage,
token_sort_ratio >= 95 + package ratio > 90 exactly as the reference, is the
precision filter); greedy group merge → connected components.

The recall >= 0.99 gate for this path is tested against the bug-for-bug
pandas oracle (oracle/reference_oracle.py) in tests/test_parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.functions.features import with_features
from product_deduplication_spark.functions.normalize import fuzzy_name_match, normalize_names
from product_deduplication_spark.operators.connected_components import assign_clusters
from product_deduplication_spark.operators.lsh import candidate_pairs

# candidate generation for a token_sort_ratio>=95 verify: char-3 shingles,
# 42 bands x 3 rows → P(candidate) = 1-(1-s^3)^42: 0.92 at s=0.4, 0.996 at
# s=0.5, ~1 at s>=0.6. Name pairs at ratio>=95 sit well above shingle
# Jaccard 0.5 (validated by the parity test's recall gate).
PARITY_CONFIG = DedupConfig(num_hashes=126, lsh_bands=42, shingle_mode="char", shingle_k=3)


def uuid_argmax_dedup(raw: DataFrame) -> DataFrame:
    """reference/static.py:301-321: keep, per uuid, the name with max summed
    sales (tie → lexicographically-first name; the reference's tie order is
    an unstable pandas sort)."""
    summed = raw.groupBy("item_uuid", "item_name").agg(
        F.sum("number_sku_sold").alias("number_sku_sold")
    )
    w = Window.partitionBy("item_uuid").orderBy(
        F.desc("number_sku_sold"), F.asc("item_name")
    )
    return (
        summed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def grocery_dedup(
    raw: DataFrame,
    threshold_products: int = 95,
    threshold_package: int = 90,
    cfg: DedupConfig | None = None,
) -> DataFrame:
    """raw catalog → (product_name, cluster_id) over distinct normalized
    names. Returns one row per distinct product_name."""
    cfg = cfg or PARITY_CONFIG
    dedup = uuid_argmax_dedup(raw)
    clean = normalize_names(dedup, "item_name")
    names = clean.select("product_name").distinct().withColumn(
        "doc_id", F.xxhash64("product_name")
    )
    feats = with_features(names.select("doc_id", F.col("product_name").alias("text")), cfg, simhash=False)
    pairs = candidate_pairs(
        feats.select("doc_id", "shingles", "minhash", "simhash", "bands"), cfg
    )
    # verification: EXACT reference predicate (V4 + V5)
    nm = names.select(F.col("doc_id"), F.col("product_name"))
    p = (
        pairs.join(nm.withColumnRenamed("doc_id", "src").withColumnRenamed("product_name", "name_a"), "src")
        .join(nm.withColumnRenamed("doc_id", "dst").withColumnRenamed("product_name", "name_b"), "dst")
    )
    p = fuzzy_name_match(p, "name_a", "name_b", threshold_products, threshold_package)
    clusters = assign_clusters(names, p.select("src", "dst"), "doc_id")
    return clusters.select("product_name", "cluster_id")
