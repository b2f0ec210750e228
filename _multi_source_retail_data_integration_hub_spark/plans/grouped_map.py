"""Explicit window-frame surfaces: per-user gaps, moving averages and
purchase→error attribution, all as JVM-native plans.

q39: per-user inter-event gap statistics — LAG window for the gaps,
then a grouped min/max/count/percentile(0.5). Spark's exact percentile
interpolation is bit-identical to DuckDB MEDIAN, so no Python runs in
the plan (SURVEY §2.11: native Column expressions only).

q40: 7-row trailing moving average over daily revenue with an explicit
ROWS BETWEEN frame — the frame-spec window class the reference never
uses (SURVEY §2.6) but any trend dashboard wants.

q61: purchase→error attribution with a range-frame window instead of
a range join (see the comment block above the query).

Scale notes: q39 shuffles once on user_id (the window partition key
and the grouping key — one Exchange reused for both); q40's window
runs on the tiny post-aggregate daily table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import DEC, query


# ---------------------------------------------------------------------------
# q39 — per-user gap statistics (LAG window + grouped aggregate)
# ---------------------------------------------------------------------------
@query(
    "q39_user_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             (epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               / 1000000.0 AS gap_secs
      FROM events
    )
    SELECT user_id,
           COUNT(gap_secs) AS n_gaps,
           MIN(gap_secs) AS min_gap_secs,
           MEDIAN(gap_secs) AS median_gap_secs,
           MAX(gap_secs) AS max_gap_secs
    FROM gaps
    WHERE gap_secs IS NOT NULL
    GROUP BY 1
    """,
)
def q39_user_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = events.select(
        "user_id",
        ((F.col("ts_us") - F.lag("ts_us").over(w)) / 1_000_000.0).alias("gap_secs"),
    ).where(F.col("gap_secs").isNotNull())
    # users with a single event have no gaps and (like the SQL's WHERE)
    # produce no row at all.
    return gaps.groupBy("user_id").agg(
        F.count("gap_secs").alias("n_gaps"),
        F.min("gap_secs").alias("min_gap_secs"),
        F.percentile("gap_secs", F.lit(0.5)).alias("median_gap_secs"),
        F.max("gap_secs").alias("max_gap_secs"),
    )


# ---------------------------------------------------------------------------
# q40 — trailing 7-row moving average with explicit ROWS BETWEEN frame
# ---------------------------------------------------------------------------
@query(
    "q40_moving_avg",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             SUM(CAST(value AS DECIMAL(18,2))) AS rev_dec
      FROM events GROUP BY 1
    )
    SELECT day,
           CAST(rev_dec AS DOUBLE) AS daily_value,
           CAST(SUM(rev_dec) OVER (
                  ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
                ) AS DOUBLE)
             / COUNT(*) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
             AS ma7
    FROM daily
    """,
)
def q40_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.col("value").cast(DEC)).alias("rev_dec")
    )
    # post-aggregate table is tiny (#days); single-task window is fine
    # at any input scale.
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day",
        F.col("rev_dec").cast("double").alias("daily_value"),
        (F.sum("rev_dec").over(w).cast("double") / F.count("*").over(w)).alias("ma7"),
    )


# ---------------------------------------------------------------------------
# q61 — purchase→error attribution. The plan is fully JVM-native: one
# shuffle on user_id feeds (a) a range-frame window that finds the
# latest purchase strictly before each error and (b) the per-user type
# counts; a hit is an error whose nearest preceding purchase is within
# the window (if the nearest is too far, every earlier one is farther —
# so the single running max suffices, no e⋈p range join, no quadratic
# blow-up). The oracle checks it against DuckDB's explicit range join.
# ---------------------------------------------------------------------------
ERR_WINDOW_US = 3600 * 1_000_000  # errors within 1 h after a purchase


@query(
    "q61_cogroup_timelines",
    oracle=f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS ts_us FROM events
      WHERE event_type = 'purchase'
    ),
    e AS (
      SELECT user_id, epoch_us(ts) AS ts_us FROM events
      WHERE event_type = 'error'
    ),
    hits AS (
      SELECT e.user_id, e.ts_us
      FROM e JOIN p ON p.user_id = e.user_id
       AND e.ts_us > p.ts_us AND e.ts_us - p.ts_us <= {ERR_WINDOW_US}
      GROUP BY 1, 2
    ),
    base AS (
      SELECT user_id,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
             COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
      FROM events GROUP BY 1
    )
    SELECT b.user_id, b.n_purchases, b.n_errors,
           (SELECT COUNT(*) FROM hits h WHERE h.user_id = b.user_id)
             AS n_errors_after_purchase
    FROM base b
    WHERE b.n_purchases > 0 OR b.n_errors > 0
    """,
)
def q61_cogroup_timelines(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    tagged = events.where(F.col("event_type").isin("purchase", "error")).select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    # latest purchase STRICTLY before each row (rangeBetween end = -1 on
    # the microsecond axis excludes same-instant purchases, matching the
    # oracle's e.ts_us > p.ts_us)
    w = Window.partitionBy("user_id").orderBy("ts_us").rangeBetween(
        Window.unboundedPreceding, -1
    )
    last_purchase = F.max(
        F.when(F.col("event_type") == "purchase", F.col("ts_us"))
    ).over(w)

    hits = (
        tagged.select("user_id", "event_type", "ts_us", last_purchase.alias("lp_us"))
        .where(
            (F.col("event_type") == "error")
            & F.col("lp_us").isNotNull()
            & (F.col("ts_us") - F.col("lp_us") <= ERR_WINDOW_US)
        )
        # hits are DISTINCT error instants (duplicate ts collapse), like
        # the oracle's GROUP BY user_id, ts_us
        .groupBy("user_id")
        .agg(F.count_distinct("ts_us").alias("n_errors_after_purchase"))
    )

    base = tagged.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    )
    return base.join(hits, "user_id", "left").select(
        "user_id",
        "n_purchases",
        "n_errors",
        F.coalesce("n_errors_after_purchase", F.lit(0)).alias(
            "n_errors_after_purchase"
        ),
    )
