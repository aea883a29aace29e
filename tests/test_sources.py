from __future__ import annotations

from product_deduplication_spark.datagen import generate_raw_catalog
from product_deduplication_spark.sources.web_documents import read_csv_catalog, write_csv


def test_csv_roundtrip_with_header_and_name_normalization(spark, tmp_path):
    cat = generate_raw_catalog(n_products=10, seed=3)
    sdf = spark.createDataFrame(cat)
    out = str(tmp_path / "cat_csv")
    write_csv(sdf, out)
    back = read_csv_catalog(spark, out)
    assert set(back.columns) == {"item_uuid", "item_name", "number_sku_sold", "image_url"}
    assert back.count() == len(cat)
    # values survive the roundtrip (spot-check by join)
    j = sdf.join(back, ["item_uuid", "item_name"], "inner")
    assert j.count() == len(cat)
