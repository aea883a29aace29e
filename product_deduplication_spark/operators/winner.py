"""Winner selection: entity scoring + per-group argmax re-leadering.

Re-expresses ``reference/winner_selection.py`` (SURVEY.md V9/W2):

- 14-attribute weighted completeness score (weights sum to 1,
  ``reference/winner_selection.py:28-60``)
- incorrect-scan rate with the scans>3 guard (``:71-72``) — note the
  reference ADDS the incorrect rate into the blend (``:83``); reproduced
  faithfully (parity over plausibility)
- z-score of linked_products over the whole score table (``:76-78``)
- blend score = 0.6*att + 0.2*inc_rate + 0.2*z (``:83``)
- per duplicate-group argmax with missing scores filled 0 (``:105-109``);
  pandas ``idxmax`` tie semantics = first row wins, and the original winner
  is row 0 (``:100-101``) → our deterministic order: score desc, original
  winner first, then entity id asc
- name enrichment via two left joins (``:119-135``)

The reference iterates groups in a Python loop (``:93-115``); here it is one
shuffle: explode group membership → broadcast-join scores → rank window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

ATTRIBUTE_WEIGHTS = {
    # reference/winner_selection.py:29-42 (ordered by importance)
    "has_name": 0.12,
    "has_image": 0.12,
    "has_upt": 0.10,
    "has_gtin": 0.10,
    "has_net_qty": 0.09,
    "has_pack_size": 0.08,
    "has_func_name": 0.07,
    "has_brand": 0.07,
    "has_container": 0.07,
    "has_weight": 0.06,
    "has_dimensions": 0.05,
    "has_abv": 0.03,
    "has_description": 0.03,
    "has_vintage": 0.01,
}


def score_entities(df_score: DataFrame) -> DataFrame:
    """(entity_uuid, score) per reference/winner_selection.py:25-86."""
    att = sum(F.col(c) * F.lit(w) for c, w in ATTRIBUTE_WEIGHTS.items())
    inc_rate = F.when(
        F.col("scans") > 3, F.round(F.col("incorrect_scans") / F.col("scans"), 2)
    ).otherwise(F.lit(0.0))
    scored = df_score.select(
        "entity_uuid",
        att.alias("att_score"),
        inc_rate.alias("inc_scan_rate"),
        F.col("linked_products"),
    )
    # scalar mean/std as a broadcast cross join (A6) — never a driver collect
    stats = scored.agg(
        F.mean("linked_products").alias("_mu"),
        F.stddev_samp("linked_products").alias("_sd"),
    )
    scored = scored.crossJoin(F.broadcast(stats))
    z = F.round((F.col("linked_products") - F.col("_mu")) / F.col("_sd"), 2)
    return scored.select(
        "entity_uuid",
        (
            F.col("att_score") * 0.6 + F.col("inc_scan_rate") * 0.2 + z * 0.2
        ).alias("score"),
    )


def reselect_winners(relations: DataFrame, df_score: DataFrame) -> DataFrame:
    """Re-pick each duplicate group's winner by max score.

    relations: (winner_entity_uuid, loser_entity_uuid[, winner_name,
    loser_name]) — the heuristic output shape
    (``reference/heuristic_ucpc_dups.py:228``).
    Returns (winner_entity_uuid, loser_entity_uuid) with the new leadership.
    """
    scores = score_entities(df_score)
    members = (
        relations.select(
            F.col("winner_entity_uuid").alias("group_key"),
            F.col("winner_entity_uuid").alias("entity_uuid"),
            F.lit(1).alias("is_orig_winner"),
        )
        .unionByName(
            relations.select(
                F.col("winner_entity_uuid").alias("group_key"),
                F.col("loser_entity_uuid").alias("entity_uuid"),
                F.lit(0).alias("is_orig_winner"),
            )
        )
        .groupBy("group_key", "entity_uuid")
        .agg(F.max("is_orig_winner").alias("is_orig_winner"))
    )
    members = members.join(scores, "entity_uuid", "left").withColumn(
        "score", F.coalesce(F.col("score"), F.lit(0.0))
    )
    w = Window.partitionBy("group_key").orderBy(
        F.desc("score"), F.desc("is_orig_winner"), F.asc("entity_uuid")
    )
    ranked = members.withColumn(
        "new_winner", F.first("entity_uuid").over(w)
    )
    return (
        ranked.where(F.col("entity_uuid") != F.col("new_winner"))
        .select(
            F.col("new_winner").alias("winner_entity_uuid"),
            F.col("entity_uuid").alias("loser_entity_uuid"),
        )
        .dropDuplicates()
    )


def add_entity_names(pairs: DataFrame, entity_names: DataFrame) -> DataFrame:
    """Left-join names onto both sides (reference/winner_selection.py:119-135).

    entity_names: (entity_uuid, name)."""
    wn = entity_names.select(
        F.col("entity_uuid").alias("winner_entity_uuid"), F.col("name").alias("winner_name")
    )
    ln = entity_names.select(
        F.col("entity_uuid").alias("loser_entity_uuid"), F.col("name").alias("loser_name")
    )
    return (
        pairs.join(wn, "winner_entity_uuid", "left")
        .join(ln, "loser_entity_uuid", "left")
        .select("winner_entity_uuid", "winner_name", "loser_entity_uuid", "loser_name")
    )

