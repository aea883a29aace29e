"""Image propagation semantics vs reference (reference/agg_images.py)."""

from __future__ import annotations


def test_agg_images_bulk_reference_shape(spark):
    """All slots of ONE chosen loser are copied (reference/agg_images.py
    :60-146), with the reference's literal ==1 case predicates."""
    from product_deduplication_spark.operators.enrichment import (
        agg_images_bulk_reference_shape,
    )

    rel = spark.createDataFrame(
        [("w1", "l1"), ("w1", "l9"), ("w5", "l5")],
        "winner_entity_uuid string, loser_entity_uuid string",
    )
    schema = (
        "ucpc_entity_uuid string, image_1 string, image_source_1 string, "
        "image_2 string, image_source_2 string, image_3 string, image_source_3 string"
    )
    imgs = spark.createDataFrame(
        [
            # l1 and l9 BOTH case-1 eligible -> min loser (l1) wins
            ("l1", "a.jpg", "IMAGE_SOURCE_THIRD_PARTY_APPROVED", "b.jpg",
             "IMAGE_SOURCE_CATALOG", "\\N", "\\N"),
            ("l9", "z.jpg", "IMAGE_SOURCE_THIRD_PARTY_APPROVED", "\\N", "\\N", "\\N", "\\N"),
            # l5 has TWO 3P images -> n3p=2 != 1 -> NOT case 1 (bug-for-bug)
            ("l5", "c.jpg", "IMAGE_SOURCE_THIRD_PARTY_APPROVED", "d.jpg",
             "IMAGE_SOURCE_THIRD_PARTY_APPROVED", "\\N", "\\N"),
        ],
        schema,
    )
    rows = sorted(
        (r["ProductUUID"], r["ImageURL"], r["Override"])
        for r in agg_images_bulk_reference_shape(rel, imgs).collect()
    )
    assert rows == [("w1", "a.jpg", "Yes"), ("w1", "b.jpg", "No")]
