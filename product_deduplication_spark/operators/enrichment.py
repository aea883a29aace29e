"""Attribute propagation loser→winner: barcodes + images.

Re-expresses ``reference/agg_barcodes_to_winner.py`` and
``reference/agg_images.py`` (SURVEY.md §2 A3/U4/U6/W1, P12/P15/P16/P17) with
real ``ArrayType`` columns instead of comma-packed strings and windows
instead of shift(1) on a driver-sorted frame.

Semantics preserved (file:line per step in the function bodies):
- losers assigned to >1 winner are dropped entirely (keep=False,
  ``agg_barcodes_to_winner.py:27-28``)
- entities having both PLU and GTIN identifiers lose their GTIN-typed ones
  (``:39-56``)
- PLU-vs-PLU relations removed (``:62-67``)
- winner-PLU/loser-GTIN and winner-GTIN/loser-PLU cross-type propagation is
  suppressed on the offending side (``:96-102``)
- bulk rows: type backfilled by identifier length < 7 (``:148-149``),
  Override = Yes on the first row per product (``:160-164`` — the shift(1)
  idiom becomes a row_number window)
- images: :func:`agg_images_bulk_reference_shape` copies every slot of ONE
  chosen loser onto the winner, the reference's exact row shape, from the
  unpivoted slots of :func:`_images_long` (``agg_images.py:27-146``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

PLU = "PRODUCT_IDENTIFIER_TYPE_PLU"
GTIN = "PRODUCT_IDENTIFIER_TYPE_GTIN"


def _dedup_relations(relations: DataFrame) -> DataFrame:
    """Drop losers assigned to >1 winner — all their rows
    (``agg_barcodes_to_winner.py:27-28``, keep=False)."""
    w = Window.partitionBy("loser_entity_uuid")
    return (
        relations.withColumn("_n", F.count("*").over(w))
        .where(F.col("_n") == 1)
        .drop("_n")
    )


def _normalize_barcodes(barcodes: DataFrame) -> DataFrame:
    """(entity_uuid, ids array<struct<gtin,gtin_type>>, has_plu, has_gtin)
    with the both-types fix: entities holding PLU and GTIN drop the
    GTIN-typed identifiers and has_gtin := 0 (``:39-56``)."""
    exploded = barcodes.select(
        "entity_uuid",
        F.explode(
            F.arrays_zip(
                F.split("gtins", ","),
                F.split("gtin_types", ","),
            )
        ).alias("z"),
    ).select(
        "entity_uuid",
        F.col("z.0").alias("gtin"),
        F.col("z.1").alias("gtin_type"),
    ).where(F.col("gtin").isNotNull() & (F.col("gtin") != "")).dropDuplicates()

    flags = exploded.groupBy("entity_uuid").agg(
        F.max((F.col("gtin_type") == PLU).cast("int")).alias("has_plu"),
        F.max((F.col("gtin_type") == GTIN).cast("int")).alias("has_gtin"),
    )
    fixed = exploded.join(flags, "entity_uuid").where(
        ~((F.col("has_plu") == 1) & (F.col("has_gtin") == 1) & (F.col("gtin_type") == GTIN))
    )
    return fixed.groupBy("entity_uuid").agg(
        F.array_sort(F.collect_set(F.struct("gtin", "gtin_type"))).alias("ids"),
        F.max("has_plu").alias("has_plu"),
        # both-types entities end with has_gtin 0 (``:56``)
        F.max(
            F.when((F.col("has_plu") == 1) & (F.col("has_gtin") == 1), 0).otherwise(
                F.col("has_gtin")
            )
        ).alias("has_gtin"),
    )


def propagate_barcodes(relations: DataFrame, barcodes: DataFrame) -> DataFrame:
    """(winner_entity_uuid, gtins array<string>) — the loser→winner barcode
    union (``agg_barcodes_to_winner.py:88-122``)."""
    rel = _dedup_relations(relations)
    ent = _normalize_barcodes(barcodes)
    wflags = ent.select(
        F.col("entity_uuid").alias("winner_entity_uuid"),
        F.col("ids").alias("winner_ids"),
        F.col("has_plu").alias("winner_has_plu"),
        F.col("has_gtin").alias("winner_has_gtin"),
    )
    lflags = ent.select(
        F.col("entity_uuid").alias("loser_entity_uuid"),
        F.col("ids").alias("loser_ids"),
        F.col("has_plu").alias("loser_has_plu"),
        F.col("has_gtin").alias("loser_has_gtin"),
    )
    # NO forced broadcast of wflags/lflags: both derive from the full
    # barcodes table and grow with the entity catalog — an unconditional
    # hint would collect them to the driver at 100x (the same defect class
    # that aborted a 370k-doc run in verify_pairs; AQE may still choose a
    # broadcast at runtime when a side is genuinely small)
    r = (
        rel.join(wflags, "winner_entity_uuid", "left")
        .join(lflags, "loser_entity_uuid", "left")
        .na.fill({"winner_has_plu": 0, "winner_has_gtin": 0, "loser_has_plu": 0, "loser_has_gtin": 0})
    )
    # PLU vs PLU relations removed (``:62-67``)
    r = r.where(~((F.col("winner_has_plu") == 1) & (F.col("loser_has_plu") == 1)))
    # cross-type suppression (``:96-102``)
    r = r.withColumn(
        "loser_ids",
        F.when(
            (F.col("winner_has_plu") == 1) & (F.col("loser_has_gtin") == 1), F.lit(None)
        ).otherwise(F.col("loser_ids")),
    ).withColumn(
        "winner_ids",
        F.when(
            (F.col("winner_has_gtin") == 1) & (F.col("loser_has_plu") == 1), F.lit(None)
        ).otherwise(F.col("winner_ids")),
    )
    gtins_of = lambda c: F.transform(F.coalesce(c, F.array()), lambda s: s["gtin"])  # noqa: E731
    per_winner = r.groupBy("winner_entity_uuid").agg(
        F.array_distinct(
            F.flatten(F.collect_list(F.array_union(gtins_of(F.col("winner_ids")), gtins_of(F.col("loser_ids")))))
        ).alias("gtins")
    )
    return per_winner.select(
        "winner_entity_uuid", F.array_sort("gtins").alias("gtins")
    )


def barcode_bulk_rows(
    propagated: DataFrame, barcodes: DataFrame, catalog_uuid: str = "catalog-0"
) -> DataFrame:
    """Bulk-update rows (CatalogUUID, ProductUUID, GlobalIdentifier, Type,
    Override) (``agg_barcodes_to_winner.py:124-166``)."""
    ent = _normalize_barcodes(barcodes)
    typed = ent.select(
        F.col("entity_uuid").alias("ProductUUID"), F.explode("ids").alias("z")
    ).select("ProductUUID", F.col("z.gtin").alias("GlobalIdentifier"), F.col("z.gtin_type").alias("_t"))
    rows = propagated.select(
        F.col("winner_entity_uuid").alias("ProductUUID"),
        F.explode("gtins").alias("GlobalIdentifier"),
    ).dropDuplicates(["ProductUUID", "GlobalIdentifier"])
    out = rows.join(typed, ["ProductUUID", "GlobalIdentifier"], "left")
    # type backfill by identifier length (``:148-149``) + rename (``:152-153``)
    t = F.coalesce(
        F.col("_t"),
        F.when(F.length("GlobalIdentifier") < 7, PLU).otherwise(GTIN),
    )
    out = out.withColumn("Type", F.when(t == PLU, "PLU").otherwise("GTIN")).drop("_t")
    w = Window.partitionBy("ProductUUID").orderBy("GlobalIdentifier")
    out = out.withColumn(
        "Override", F.when(F.row_number().over(w) == 1, "Yes").otherwise("No")
    )
    return out.select(
        F.lit(catalog_uuid).alias("CatalogUUID"),
        "ProductUUID",
        "GlobalIdentifier",
        "Type",
        "Override",
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
