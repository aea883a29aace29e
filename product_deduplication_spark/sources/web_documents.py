"""CSV reader and writer for the reference's catalog tables.

The engine's primary input table has the BASELINE.json input_hint shape
``(url string, warc_ts timestamp, html binary, text string, lang string)``
and is read as parquet by each entry point.

CSV reading (reference S1/S2, e.g. header offset at
``reference/match_barcode.py:22-25``) is covered by ``read_csv_catalog``:
explicit schema + header handling + column-name normalization via toDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

RAW_CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("item_uuid", T.StringType(), False),
        T.StructField("item_name", T.StringType(), True),
        T.StructField("number_sku_sold", T.LongType(), True),
        T.StructField("image_url", T.StringType(), True),
    ]
)


def read_csv_catalog(
    spark: SparkSession,
    path: str,
    schema: T.StructType = RAW_CATALOG_SCHEMA,
    header: bool = True,
    normalize_names: bool = True,
) -> DataFrame:
    """CSV scan with explicit schema (S1/S3). With ``normalize_names`` the
    column names are lower/underscore-normalized (S2 analog of the
    reference's rename-after-skip at match_barcode.py:24-25)."""
    df = spark.read.option("header", str(header).lower()).schema(schema).csv(path)
    if normalize_names:
        cleaned = [c.strip().lower().replace(" ", "_") for c in df.columns]
        df = df.toDF(*cleaned)
    return df


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink (S4 — reference writes every stage as CSV; here CSV is an
    export format only, snapshots are parquet)."""
    df.write.mode("overwrite").option("header", "true").csv(path)
