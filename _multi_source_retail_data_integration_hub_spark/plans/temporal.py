"""Temporal-join query surface.

q36: as-of join — for every click event, the most recent view event of
the same user at-or-before it (operators/asof.py's union-sort-carry
construction). The DuckDB oracle uses its native ASOF LEFT JOIN, so
this differentially proves the distributed construction implements the
canonical semantics.

q44: interval (range) join — every purchase opens a 4-hour attribution
window [ts, ts+4h); click/view events of the same user inside the
window are counted and summed per purchase. Built on
operators/ranges.py's bucket equi-reduction, so the physical plan is a
plain shuffled hash join on (user_id, bucket) with a residual range
filter — never a BroadcastNestedLoopJoin (tests/test_ranges.py asserts
this). The DuckDB oracle expresses the range join directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.ranges import interval_join
from ..sources.testdata import load_table
from .registry import dsum, query


@query(
    "q36_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    views AS (  -- one row per (user, ts): defined tie-break
      SELECT user_id, ts, MAX(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT c.event_id, c.user_id, c.ts,
           v.ts AS view_ts, v.view_value,
           (epoch_us(c.ts) - epoch_us(v.ts)) / 1000000.0 AS gap_secs
    FROM clicks c
    ASOF LEFT JOIN views v ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def q36_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    joined = asof_join(clicks, views, on="ts", by="user_id", value_cols=["view_value"])
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("view_ts"),
        F.col("view_value_right").alias("view_value"),
        ((F.unix_micros("ts") - F.unix_micros("ts_right")) / 1_000_000.0).alias("gap_secs"),
    )


@query(
    "q44_interval_join",
    oracle="""
    WITH iv AS (
      SELECT event_id AS purchase_id, user_id,
             ts AS start_ts, ts + INTERVAL 4 HOUR AS end_ts
      FROM events WHERE event_type = 'purchase'
    ),
    pts AS (
      SELECT user_id, ts, value
      FROM events WHERE event_type IN ('click', 'view')
    )
    SELECT iv.purchase_id, iv.user_id,
           COUNT(*) AS n_window_events,
           CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS window_value
    FROM iv JOIN pts p
      ON iv.user_id = p.user_id
     AND iv.start_ts <= p.ts AND p.ts < iv.end_ts
    GROUP BY 1, 2
    """,
)
def q44_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    iv = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 4 HOURS")).alias("end_ts"),
    )
    pts = events.where(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts", "value"
    )
    # bucket width == interval length: each interval lands in <= 2 buckets.
    joined = interval_join(
        iv, pts, on=["user_id"], start_col="start_ts", end_col="end_ts",
        ts_col="ts", bucket_seconds=4 * 3600,
    )
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count("*").alias("n_window_events"),
        dsum("value").alias("window_value"),
    )
