"""Document-corpus interchange I/O: JSON-Lines readers/writers.

JSONL (one JSON object per line) is the de-facto interchange format
for LLM training corpora (CommonCrawl derivatives, RedPajama/Dolma
dumps, annotation exports), so the engine ingests and emits it as a
first-class source next to parquet — beyond the reference's CSV/REST
surface (etl/extract.py), same lineage conventions.

Scale rules encoded here:

- **Explicit schema, never inference.** ``spark.read.json`` without a
  schema runs a full inference pre-scan — a second pass over 100 TB.
  Readers take a schema (default: the documents-table shape) and pass
  it straight to the scan.
- **Corrupt lines are captured, not dropped.** PERMISSIVE mode with a
  ``_corrupt_record`` column; web-scale dumps always contain broken
  lines, and silently dropping them (DROPMALFORMED) loses auditability.
  ``corrupt_documents`` isolates them for a quarantine sink.
- **Compression is a splittability decision.** ``.json.gz`` inputs are
  NOT splittable — one giant gzip member becomes one task no matter
  the cluster size. The writer therefore shards to many medium files
  (repartition before write) so gzip'd output still parallelizes at
  read time; for long-lived storage prefer columnar+zstd (parquet) and
  keep JSONL for interchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _with_corrupt(schema: T.StructType) -> T.StructType:
    """Schema + the PERMISSIVE corrupt-record capture column (Spark
    only populates ``columnNameOfCorruptRecord`` when the column is
    declared in the read schema)."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])


def read_documents_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENTS_SCHEMA,
) -> DataFrame:
    """Read a JSONL document corpus (plain or ``.gz``/``.zst`` by file
    extension) with an explicit schema and corrupt-line capture.

    Returns the declared columns plus ``_corrupt_record`` (null for
    clean lines; the raw line for malformed ones, with every declared
    column null). Filter with ``clean_documents`` / audit with
    ``corrupt_documents``.
    """
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def clean_documents(df: DataFrame) -> DataFrame:
    """Well-formed rows, corrupt-capture column dropped."""
    return df.where(df[CORRUPT_COL].isNull()).drop(CORRUPT_COL)


def corrupt_documents(df: DataFrame) -> DataFrame:
    """The quarantine stream: raw text of every malformed line.

    Keeps the declared columns alongside ``raw_line`` (they are null
    for fully-broken lines, partially set for type-mismatched ones) —
    both for auditability and because Spark disallows queries whose
    required schema is ONLY the corrupt-record column of a raw JSON
    scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN; the
    alternative is caching the parsed frame, which is wrong at corpus
    scale — one pass, two streams, no cache)."""
    keep = [c for c in df.columns if c != CORRUPT_COL]
    return df.where(df[CORRUPT_COL].isNotNull()).select(
        *keep, df[CORRUPT_COL].alias("raw_line")
    )


def write_documents_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
    num_shards: int | None = None,
) -> None:
    """Write a corpus as sharded JSONL.

    ``num_shards`` controls output parallelism-at-read for
    non-splittable codecs (gzip): many medium files instead of a few
    giant single-task ones. Default keeps the input partitioning
    (already sized by the upstream job).
    """
    out = df.repartition(num_shards) if num_shards else df
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_documents_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENTS_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``read_documents_jsonl``: continuous ingest of
    a landing directory of JSONL shards (the "crawl dumps arriving"
    shape). Same explicit schema + PERMISSIVE corrupt capture — split
    the result with ``clean_documents`` / ``corrupt_documents``
    exactly like the batch path, so one cleansing contract serves
    both. ``max_files_per_trigger`` bounds per-microbatch work (at
    100 TB the landing rate, not the backlog, should size a batch);
    drain a bounded backlog with ``streaming/jobs.py::drain`` (or its
    memory-sink form ``run_available_now``).
    """
    reader = (
        spark.readStream.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)
