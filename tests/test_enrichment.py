"""Barcode/image propagation semantics vs reference
(reference/agg_barcodes_to_winner.py, reference/agg_images.py)."""

from __future__ import annotations

import pytest

from product_deduplication_spark.operators.enrichment import (
    barcode_bulk_rows,
    propagate_barcodes,
)

PLU = "PRODUCT_IDENTIFIER_TYPE_PLU"
GTIN = "PRODUCT_IDENTIFIER_TYPE_GTIN"


@pytest.fixture()
def rel(spark):
    return spark.createDataFrame(
        [
            ("w1", "l1"),
            ("w1", "l2"),
            ("w2", "l3"),
            ("w3", "ldup"),  # loser assigned to two winners:
            ("w4", "ldup"),  # both rows dropped (:27-28, keep=False)
        ],
        "winner_entity_uuid string, loser_entity_uuid string",
    )


@pytest.fixture()
def barcodes(spark):
    return spark.createDataFrame(
        [
            ("w1", "111,2222222", f"{PLU},{GTIN}"),  # both types -> GTIN removed (:39-56)
            ("l1", "3333333", GTIN),
            ("l2", "444", PLU),
            ("w2", "5555555", GTIN),
            ("l3", "6666666", GTIN),
        ],
        "entity_uuid string, gtins string, gtin_types string",
    )


def test_propagate_barcodes_business_rules(rel, barcodes):
    out = {r["winner_entity_uuid"]: r["gtins"] for r in propagate_barcodes(rel, barcodes).collect()}
    # w1 kept only its PLU: own GTIN removed by both-types fix; loser l1's
    # GTIN suppressed (winner PLU vs loser GTIN, :99-100); l2 relation
    # removed entirely (PLU vs PLU, :62-67)
    assert out["w1"] == ["111"]
    # w2 unions its own + loser GTINs (:104-119)
    assert out["w2"] == ["5555555", "6666666"]
    # ldup winners got nothing (loser dropped for >1 winner)
    assert "w3" not in out and "w4" not in out


def test_bulk_rows_type_fill_and_override(rel, barcodes):
    prop = propagate_barcodes(rel, barcodes)
    rows = [
        (r["ProductUUID"], r["GlobalIdentifier"], r["Type"], r["Override"])
        for r in barcode_bulk_rows(prop, barcodes).orderBy("ProductUUID", "GlobalIdentifier").collect()
    ]
    assert rows == [
        ("w1", "111", "PLU", "Yes"),  # <7 chars -> PLU (:148); first row per product -> Yes (:160-164)
        ("w2", "5555555", "GTIN", "Yes"),
        ("w2", "6666666", "GTIN", "No"),
    ]


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
