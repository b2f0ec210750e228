"""Readers for the driver-provided TPC-H-ish parquet testdata.

Tables (one parquet each, per /root/repo/TESTDATA.md):
``region nation customer supplier part orders lineitem events
documents embeddings``.

Parquet scans get predicate pushdown + column pruning from Catalyst for
free; at cluster scale the same code reads partitioned table roots.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# events.parquet has shipped with two ts encodings across testdata
# generations: TIMESTAMP(NANOS) (reads as bigint nanos under
# spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS,
# isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ). This schema +
# normalizer pair is THE single definition of the convention — batch
# (load_table) and streaming (streaming/jobs.py) readers both use it so
# they can never drift apart.
EVENTS_NANOS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_parquet_ts_unit(path: str) -> str:
    """Physical ts encoding of an events parquet ('ns', 'us' or
    'int96'), from the file footer (pyarrow; no Spark job). ``path``
    may be a single file or a Spark-written directory of part files.

    'int96' is reported separately because pyarrow maps parquet's
    legacy INT96 timestamps to the SAME arrow type as int64 nanos
    (timestamp[ns]) — but Spark must read INT96 as TIMESTAMP, not as
    a nanosAsLong bigint (found by the r12 x64 rehearsal: a
    Spark-rewritten events table is INT96 under the default
    outputTimestampType, and the 'ns' stream schema failed the read).

    Fails loudly instead of guessing: an unexpected encoding (a future
    'ms' generation, a non-timestamp ts column) raises rather than
    being silently misread as micros, and a directory whose part files
    disagree on the unit raises rather than trusting the first file.
    Footer reads are metadata-only, so checking every part is cheap.
    """
    import glob

    import pyarrow.parquet as pq

    def _unit(p: str) -> str:
        pf = pq.ParquetFile(p)
        phys = {
            pf.schema.column(i).path: pf.schema.column(i).physical_type
            for i in range(len(pf.schema))
        }
        if phys.get("ts") == "INT96":
            return "int96"
        t = pf.schema_arrow.field("ts").type
        unit = getattr(t, "unit", None)
        if unit not in ("ns", "us"):
            raise ValueError(
                f"events parquet {p}: ts has unsupported encoding {t!r} "
                "(expected timestamp[ns] or timestamp[us]); update "
                "normalize_events_ts for this generation"
            )
        return unit

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        units = {p: _unit(p) for p in parts}
        if len(set(units.values())) > 1:
            raise ValueError(
                f"events parquet dir {path}: part files disagree on ts "
                f"unit: {sorted(set(units.values()))}"
            )
        return units[parts[0]]
    return _unit(path)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ts column to session-tz TIMESTAMP.

    * bigint (legacy nanos read): exact integer truncation to micros
      (``div``, not ``/`` — the double path loses precision at 1e18
      magnitudes), then timestamp_micros.
    * TIMESTAMP_NTZ (micros parquet): plain cast; with the session tz
      pinned to UTC this is numerically a no-op on the stored micros.
    DuckDB reads the same file as naive TIMESTAMP either way, keeping
    the oracles in lockstep.
    """
    t = dict(df.dtypes).get("ts")
    if t == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if t == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # ts encodings vary by testdata generation (see
        # EVENTS_NANOS_SCHEMA note). nanosAsLong lets a NANOS file read
        # as bigint instead of erroring in the vectorized reader; a
        # MICROS file is unaffected by the conf and reads as NTZ.
        # Session tz is pinned UTC so the NTZ->TIMESTAMP cast (and all
        # downstream date_trunc/window math) matches DuckDB's naive
        # timestamps exactly.
        # NOTE: both confs are session-wide and stay set (restoring
        # them mid-plan could break the deferred executor-side reads of
        # this very DataFrame).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return normalize_events_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a small-file scan across all cores for CPU-dense
    downstream operators (per-row hashing, shingling, vector math).

    Tiny bench inputs arrive as ONE parquet row group -> one input
    split -> one task, serializing per-row CPU work no matter how many
    cores exist; a 100 TB corpus splits naturally (many files / row
    groups) and never hits this. Applied at the QUERY layer, only where
    per-row CPU dominates scan+exchange cost: the round-robin exchange
    moves each row exactly once, and AQE does not coalesce an explicit
    numPartitions, so the fan-out survives adaptive re-planning.

    SCALE-ADAPTIVE (r13, guide §2.4 "remove shuffles outright"): when
    the input already plans to at least ``min_partitions`` splits (the
    100 TB case — many files / row groups), the repartition is a pure
    round-robin shuffle of every byte for no parallelism gain, so it
    is SKIPPED and the plan carries no Exchange at all. The partition
    probe is metadata-only (physical planning, no job). Results are
    partitioning-independent by the registry's invariance contract,
    so the conditional cannot change any query's output.
    """
    n = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= n:
            return df
    except Exception:  # noqa: BLE001 — fall back to the unconditional shuffle
        pass
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql use)."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
