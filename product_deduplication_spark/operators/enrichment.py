"""Attribute propagation loser→winner: images.

Re-expresses ``reference/agg_images.py`` (SURVEY.md §2 P12/W1): losers
assigned to >1 winner are dropped entirely (keep=False,
``reference/agg_barcodes_to_winner.py:27-28``), then
:func:`agg_images_bulk_reference_shape` copies every slot of ONE chosen
loser onto the winner, the reference's exact row shape, from the unpivoted
slots of :func:`_images_long` (``agg_images.py:27-146``). The Override flag
on the first row per product is a row_number window instead of shift(1) on
a driver-sorted frame. Barcode propagation
(``reference/agg_barcodes_to_winner.py``) is not carried forward.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _dedup_relations(relations: DataFrame) -> DataFrame:
    """Drop losers assigned to >1 winner — all their rows
    (``agg_barcodes_to_winner.py:27-28``, keep=False)."""
    w = Window.partitionBy("loser_entity_uuid")
    return (
        relations.withColumn("_n", F.count("*").over(w))
        .where(F.col("_n") == 1)
        .drop("_n")
    )


def _images_long(images_wide: DataFrame, n_slots: int, id_out: str) -> DataFrame:
    """Wide image_1..n / image_source_1..n → long (id, slot, image_url,
    image_source) rows; '\\N' / NULL image_url rows dropped
    (``reference/agg_images.py:27-37,72-77``). image_source is passed
    through UNCLEANED — the reference only tests it against the 3P constant
    and exports whatever string it holds."""
    return (
        images_wide.select(
            F.col("ucpc_entity_uuid").alias(id_out),
            F.posexplode(
                F.array(
                    *[
                        F.struct(
                            F.col(f"image_{i}").alias("image_url"),
                            F.col(f"image_source_{i}").alias("image_source"),
                        )
                        for i in range(1, n_slots + 1)
                    ]
                )
            ).alias("slot", "img"),
        )
        .select(id_out, "slot", F.col("img.image_url"), F.col("img.image_source"))
        .replace("\\N", None, subset=["image_url"])
        .where(F.col("image_url").isNotNull())
    )


_3P = "IMAGE_SOURCE_THIRD_PARTY_APPROVED"


def agg_images_bulk_reference_shape(
    relations: DataFrame,
    images_wide: DataFrame,
    n_slots: int = 3,
    catalog_uuid: str = "catalog-0",
) -> DataFrame:
    """The reference's EXACT agg_images row shape: copy EVERY image slot of
    ONE chosen loser onto the winner (``reference/agg_images.py:60-146``).
    Semantics reproduced bug-for-bug:

    - eligible winners: 3P-image count != 1 (``:47-48`` — a winner with TWO
      3P images stays 'updatable', faithfully reproduced)
    - case 1 losers: exactly one 3P image (``:95`` == 1 literal); case 2:
      winner imageless and loser with exactly one image (``:102``)
    - one loser per winner: pandas drop_duplicates-after-sorted-groupby =
      min loser uuid (``:117-118``)
    - Override 'Yes' on the first exported row per winner — the shift(1)
      lag idiom (W1, ``:139-141``)

    Output: (CatalogUUID, ProductUUID, ImageURL, ImageSource,
    CatalogImageSource, Override), one row per copied slot.
    """
    rel = _dedup_relations(relations)

    winners = rel.select("winner_entity_uuid").distinct()
    w_long = winners.join(
        _images_long(images_wide, n_slots, "winner_entity_uuid"), "winner_entity_uuid"
    )
    w3p = w_long.groupBy("winner_entity_uuid").agg(
        F.sum((F.col("image_source") == _3P).cast("int")).alias("_n3p")
    )
    flagged = (
        winners.join(w3p, "winner_entity_uuid", "left")
        .where(F.col("_n3p").isNull() | (F.col("_n3p") != 1))
        .withColumn(
            "winner_image",
            F.when(F.col("_n3p").isNull(), "No Image").when(
                F.col("_n3p") == 0, "Image not 3p"
            ),
        )
    )

    filt = rel.join(flagged.select("winner_entity_uuid"), "winner_entity_uuid", "left_semi")
    merged = filt.join(
        _images_long(images_wide, n_slots, "loser_entity_uuid"), "loser_entity_uuid"
    )
    stats = merged.groupBy("winner_entity_uuid", "loser_entity_uuid").agg(
        F.count("*").alias("_n_img"),
        F.sum((F.col("image_source") == _3P).cast("int")).alias("_n3p"),
    )

    case1 = stats.where(F.col("_n3p") == 1)
    rest = stats.join(
        case1.select("winner_entity_uuid"), "winner_entity_uuid", "left_anti"
    )
    imageless = flagged.where(F.col("winner_image") == "No Image").select(
        "winner_entity_uuid"
    )
    case2 = rest.join(imageless, "winner_entity_uuid", "left_semi").where(
        F.col("_n_img") == 1
    )
    chosen = (
        case1.select("winner_entity_uuid", "loser_entity_uuid")
        .unionByName(case2.select("winner_entity_uuid", "loser_entity_uuid"))
        .groupBy("winner_entity_uuid")
        .agg(F.min("loser_entity_uuid").alias("loser_entity_uuid"))
    )

    out = chosen.join(merged, ["winner_entity_uuid", "loser_entity_uuid"])
    w = Window.partitionBy("winner_entity_uuid").orderBy("slot", "image_url")
    return out.select(
        F.lit(catalog_uuid).alias("CatalogUUID"),
        F.col("winner_entity_uuid").alias("ProductUUID"),
        F.col("image_url").alias("ImageURL"),
        F.col("image_source").alias("ImageSource"),
        F.lit(None).cast("string").alias("CatalogImageSource"),
        F.when(F.row_number().over(w) == 1, "Yes").otherwise("No").alias("Override"),
    )
