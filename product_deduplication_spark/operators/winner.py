"""Winner selection: the reference's entity score.

Re-expresses ``reference/winner_selection.py`` (SURVEY.md V9/W2):

- 14-attribute weighted completeness score (weights sum to 1,
  ``reference/winner_selection.py:28-60``)
- incorrect-scan rate with the scans>3 guard (``:71-72``) — note the
  reference ADDS the incorrect rate into the blend (``:83``); reproduced
  faithfully (parity over plausibility)
- z-score of linked_products over the whole score table (``:76-78``)
- blend score = 0.6*att + 0.2*inc_rate + 0.2*z (``:83``)

The per-group argmax re-leadering (``:93-115``) and the name enrichment
(``:119-135``) are not carried forward: the engine's winner per cluster is
``pipeline.pick_winners``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

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
