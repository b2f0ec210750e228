"""Retail source readers (SURVEY §2.1, S1-S4).

- CSV scan with explicit schema + lineage columns (S1).
- Product-catalog JSON with the nested ``rating`` struct flattened at
  read (S2) — from a local JSON file or an in-memory record list (the
  caller owns the HTTP leg; the engine needs no network access).
- Scalar category list (S3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas

RETAIL_SOURCE_NAME = "kaggle_retail_sales"
API_SOURCE_NAME = "fakestore_api"


def _with_lineage(df: DataFrame, source: str, extracted_at=None) -> DataFrame:
    """Stamp lineage columns (etl/extract.py:40-41, D9). Pass a fixed
    ``extracted_at`` for reproducible runs; default is execution time."""
    ts = F.lit(extracted_at).cast("timestamp") if extracted_at is not None else F.current_timestamp()
    return df.withColumn("_extracted_at", ts).withColumn("_source", F.lit(source))


def read_retail_sales_csv(spark: SparkSession, path: str, extracted_at=None) -> DataFrame:
    """CSV scan (S1, etl/extract.py:27-55). Explicit schema — no
    inference — so the plan is deterministic; Date stays a string here
    and gets the null-on-error timestamp cast during cleaning (P2)."""
    df = spark.read.schema(schemas.RETAIL_SALES_CSV).csv(path, header=True)
    return _with_lineage(df, RETAIL_SOURCE_NAME, extracted_at)


def products_from_records(spark: SparkSession, records: list[dict], extracted_at=None) -> DataFrame:
    """Tabularize a product list (S2) keeping ``rating`` as a struct and
    flattening it with column expressions — the Spark-native version of
    the reference's dict-comprehension flatten (etl/extract.py:80-83).

    Goes straight through ``createDataFrame`` with the explicit schema:
    no temp file (a driver-local path would be unreadable by executors
    in cluster mode, and leaked files accumulate)."""
    df = spark.createDataFrame(records, schemas.API_PRODUCTS_JSON)
    return _flatten_products(df, extracted_at)


def read_products_json(spark: SparkSession, path: str, extracted_at=None) -> DataFrame:
    df = spark.read.schema(schemas.API_PRODUCTS_JSON).json(path)
    return _flatten_products(df, extracted_at)


def _flatten_products(df: DataFrame, extracted_at=None) -> DataFrame:
    flat = df.select(
        "id",
        "title",
        "price",
        "description",
        "category",
        "image",
        F.col("rating.rate").alias("rating_rate"),
        F.col("rating.count").alias("rating_count"),
    )
    return _with_lineage(flat, API_SOURCE_NAME, extracted_at)


def categories_from_list(spark: SparkSession, categories: list[str]) -> DataFrame:
    """Scalar category list -> single-column DataFrame (S3,
    etl/extract.py:103-123)."""
    return spark.createDataFrame([(c,) for c in categories], "category string")


def with_file_lineage(df: DataFrame) -> DataFrame:
    """Per-ROW provenance from the scan itself: the hidden ``_metadata``
    struct every file source carries (file path, name, size, mtime).
    Finishes what ``_with_lineage``'s job-level ``_source`` stamp starts
    — at 100 TB, "which input file produced this bad row" must come
    from the reader for free, not from a bookkeeping join. Zero cost
    until selected (constant-folded per input split), and it survives
    only until the first shuffle unless projected — so call this
    directly after the read, like the lineage stamp.
    """
    return df.withColumns(
        {
            "_source_file": F.col("_metadata.file_path"),
            "_source_mtime": F.col("_metadata.file_modification_time"),
        }
    )
