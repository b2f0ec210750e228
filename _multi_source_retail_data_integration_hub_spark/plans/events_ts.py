"""Event/time-series query surface over the ``events`` table
(event_id, ts TIMESTAMP, user_id, event_type, value DOUBLE, props JSON):

- q29: tumbling daily windows (batch twin of the streaming job in
  streaming/jobs.py — identical results by construction)
- q30: sessionization (gaps-and-islands, 12 h inactivity gap)
- q31: sliding 7-day windows advancing 1 day

Determinism: window boundaries are epoch-aligned day boundaries in both
engines; session ordering ties break on (ts, event_id); money-style
sums go through DECIMAL(18,2); time arithmetic uses exact integer
microseconds (Spark ``unix_micros`` == DuckDB ``epoch_us``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import DEC, dsum, query

SESSION_GAP_US = 12 * 3600 * 1_000_000  # 12 hours of inactivity ends a session

# monotonically increasing suffix for per-call temp-view names (SQL-surface
# queries must be safe under concurrent invocation, tests/test_concurrency.py)
import itertools as _itertools  # noqa: E402

_VIEW_SEQ = _itertools.count()


# ---------------------------------------------------------------------------
# q29 — tumbling 1-day windows by event_type
# ---------------------------------------------------------------------------
@query(
    "q29_tumbling_daily",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q29_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# q30 — sessionization: 12 h-gap islands per user
# At scale this is one shuffle on user_id (the window partition key);
# the streaming twin (streaming/jobs.py) keeps the same semantics with
# session_window + watermark instead of a LAG scan.
# ---------------------------------------------------------------------------
@query(
    "q30_sessionization",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > {SESSION_GAP_US}
                     THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    sessions AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           -- CAST: DuckDB windowed SUM(INT) yields HUGEINT; align with
           -- Spark's BIGINT for the driver's value hash.
           CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           MAX(ts_us) - MIN(ts_us) AS duration_us,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def q30_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        F.lag(F.unix_micros("ts")).over(order).alias("prev_us"),
    ).withColumn(
        "is_new",
        F.when(
            F.col("prev_us").isNull() | (F.col("ts_us") - F.col("prev_us") > SESSION_GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = flagged.withColumn("session_seq", F.sum("is_new").over(cum))
    # duration stays integer microseconds (BIGINT): hash-robust across
    # engines, and exact — callers can divide by 1e6 for display.
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.count("*").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        dsum("value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q31 — sliding windows: 7-day span advancing 1 day, by event_type
# ---------------------------------------------------------------------------
@query(
    "q31_sliding_weekly",
    oracle="""
    WITH expanded AS (
      SELECT date_trunc('day', ts) - to_days(CAST(k AS INT)) AS window_start,
             event_type, user_id, value
      FROM events, unnest(range(0, 7)) AS t(k)
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM expanded
    GROUP BY 1, 2
    """,
)
def q31_sliding_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "7 days", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# q48 — funnel analysis: view -> click -> purchase, strictly ordered by
# first occurrence per user. One grouped pass computes the three stage
# timestamps (conditional MIN — map-side combinable), then one tiny
# aggregation counts stage completion. No joins, no per-user windows.
# ---------------------------------------------------------------------------
@query(
    "q48_funnel",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
             MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
             MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events
      GROUP BY 1
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t_view) AS n_view,
           COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_view_then_click,
           COUNT(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END)
             AS n_full_funnel
    FROM stages
    """,
)
def q48_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    stages = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    through_click = F.col("t_click") > F.col("t_view")
    through_purchase = through_click & (F.col("t_purchase") > F.col("t_click"))
    return stages.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(through_click, F.lit(1))).alias("n_view_then_click"),
        F.count(F.when(through_purchase, F.lit(1))).alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# q51 — per-user recent-action sequence: the 3 most recent event types
# joined newest-first into one string. Sequence features like this feed
# churn/propensity models; the construction (top-k window -> ordered
# collect) is the canonical Spark shape for "last N actions per entity".
# collect_list order is made deterministic by sorting (rank, value)
# structs, never by relying on row arrival order.
# ---------------------------------------------------------------------------
@query(
    "q51_recent_event_seq",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY rn) AS recent_events,
           COUNT(*) AS n_recent
    FROM ranked WHERE rn <= 3
    GROUP BY 1
    """,
)
def q51_recent_event_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    recent = events.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
        lambda s: s["event_type"],
    )
    return recent.groupBy("user_id").agg(
        F.array_join(ordered, ">").alias("recent_events"),
        F.count("*").alias("n_recent"),
    )


# ---------------------------------------------------------------------------
# q62 — CDC apply: reduce a change stream to final per-key state.
# events replay as a change log per user: 'signup' = insert, 'purchase'
# = upsert of the running value, 'error' = delete. The final state is
# decided by the LAST change per user in (ts, event_id) order — one
# row_number window, then a filter; deleted keys drop out. This is the
# merge shape every CDC ingestion (Debezium-style) needs at the sink.
# ---------------------------------------------------------------------------
@query(
    "q62_cdc_apply",
    oracle="""
    WITH changes AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'signup' THEN 'I' WHEN 'purchase' THEN 'U'
                             WHEN 'error' THEN 'D' END AS op,
             value
      FROM events
      WHERE event_type IN ('signup', 'purchase', 'error')
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM changes
    )
    SELECT user_id, op AS last_op,
           CAST(value AS DOUBLE) AS final_value,
           CAST(epoch_us(ts) AS BIGINT) AS last_change_us
    FROM ranked
    WHERE rn = 1 AND op <> 'D'
    """,
)
def q62_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "purchase", "U")
        .when(F.col("event_type") == "error", "D")
    )
    changes = events.where(
        F.col("event_type").isin("signup", "purchase", "error")
    ).select("user_id", "ts", "event_id", op.alias("op"), "value")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    last = changes.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return last.where(F.col("op") != "D").select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("value").cast("double").alias("final_value"),
        F.unix_micros("ts").alias("last_change_us"),
    )


# ---------------------------------------------------------------------------
# q63 — group-median imputation: a deterministic subset of values is
# masked NULL (event_id % 20 == 0 — the reproducible-sampling pattern
# from q45), then imputed with the per-event-type median of the
# REMAINING values. Exact percentile keeps both engines bit-identical;
# at 100 TB the same plan swaps in percentile_approx. Output aggregates
# prove the imputation: per type, how many were imputed and the exact
# total after imputation.
# ---------------------------------------------------------------------------
@query(
    "q63_median_impute",
    oracle="""
    WITH masked AS (
      SELECT event_type,
             CASE WHEN event_id % 20 = 0 THEN NULL ELSE value END AS value
      FROM events
    ),
    med AS (
      SELECT event_type, MEDIAN(CAST(value AS DOUBLE)) AS m
      FROM masked WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT ms.event_type,
           COUNT(*) AS n_events,
           COUNT(CASE WHEN ms.value IS NULL THEN 1 END) AS n_imputed,
           CAST(SUM(CAST(COALESCE(ms.value, med.m) AS DECIMAL(18,6))) AS DOUBLE)
             AS total_after_impute
    FROM masked ms JOIN med USING (event_type)
    GROUP BY 1
    """,
)
def q63_median_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    masked = events.select(
        "event_type",
        F.when(F.col("event_id") % 20 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("value"),
    )
    med = (
        masked.where(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.percentile(F.col("value").cast("double"), F.lit(0.5)).alias("m"))
    )
    joined = masked.join(F.broadcast(med), "event_type")
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count(F.when(F.col("value").isNull(), F.lit(1))).alias("n_imputed"),
        F.sum(
            F.coalesce(F.col("value"), F.col("m")).cast("decimal(18,6)")
        ).cast("double").alias("total_after_impute"),
    )


# ---------------------------------------------------------------------------
# q68 — calendar gap-fill + forward fill: the time-series densification
# every feature pipeline needs (a user with no events on a day must
# contribute yesterday's running value, not a hole). Plan: daily
# aggregate -> per-user [min_day, max_day] spine via sequence() +
# explode (JVM-side, no UDF) -> left join -> last(ignorenulls) over an
# unbounded-preceding frame. One shuffle on user_id serves the spine
# aggregate, the join, and the window. Spine rows = users x days —
# linear in users, never events².
# ---------------------------------------------------------------------------
@query(
    "q68_forward_fill",
    oracle="""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             SUM(CAST(value AS DECIMAL(18,2))) AS v
      FROM events GROUP BY 1, 2
    ),
    spans AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      FROM spans
    ),
    j AS (
      SELECT s.user_id, s.day, d.v
      FROM spine s LEFT JOIN daily d USING (user_id, day)
    )
    SELECT user_id, day,
           CAST(v IS NULL AS INT) AS is_filled,
           CAST(LAST_VALUE(v IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS DOUBLE) AS filled_value
    FROM j
    """,
)
def q68_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast(DEC)).alias("v"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        F.col("v").isNull().cast("int").alias("is_filled"),
        F.last("v", ignorenulls=True).over(w).cast("double").alias("filled_value"),
    )


# ---------------------------------------------------------------------------
# q69 — native session_window in batch: the same 30-minute-gap
# sessionization q30 builds by hand (lag -> break flag -> running sum),
# expressed with Spark's built-in session_window — the operator the
# STREAMING sessionization uses, here proven equivalent to the
# declarative islands SQL. Session semantics: an event at exactly
# prev_ts + gap starts a NEW session (windows are [start, last+gap)),
# hence the >= in the oracle's break condition.
# ---------------------------------------------------------------------------
@query(
    "q69_session_window_batch",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM o
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM s GROUP BY user_id, sid
    """,
)
def q69_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


# ---------------------------------------------------------------------------
# q79 — weekly retention cohorts: users grouped by first-activity week,
# retention = distinct users active k weeks later. The canonical
# product-analytics matrix. cohort_week is a min-over-window on the
# distinct user-week table — ONE shuffle on user_id serves both the
# window and the table it annotates (a groupBy+self-join would
# exchange the user-week table twice); the only other shuffle is the
# final (cohort, offset) aggregate. No row explosion anywhere.
# ---------------------------------------------------------------------------
@query(
    "q79_retention_cohorts",
    oracle="""
    WITH user_weeks AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week
      FROM events
    ),
    firsts AS (
      SELECT user_id, MIN(week) AS cohort_week FROM user_weeks GROUP BY 1
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, w.week) / 7 AS INT) AS week_offset,
           COUNT(DISTINCT w.user_id) AS n_active_users
    FROM user_weeks w JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def q79_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    user_weeks = events.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    w = Window.partitionBy("user_id")
    return (
        user_weeks.withColumn("cohort_week", F.min("week").over(w))
        .select(
            "user_id",
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active_users"))
    )


# ---------------------------------------------------------------------------
# q113 — rolling z-score anomaly detection over daily series.
# Capability class: data-quality monitoring for a continuously
# ingested pipeline — flag days whose metric deviates > 3 sigma from
# the trailing window, per series (the batch twin of a streaming
# alerting job; a reference dashboard eyeballs the same daily trend
# lines, streamlit_app.py's time-series tabs).
#
# Shape: one map-side-combined daily aggregate (decimal-exact totals),
# then a single window pass per event_type ordered by day with a
# trailing ROWS frame [-7, -1] — the frame EXCLUDES the current row,
# so the baseline is uncontaminated by the day being judged (a
# self-inclusive frame would dilute every spike by itself). Mean and
# variance come from decimal-exact sum/sum-of-squares partials
# converted to double in an identical IEEE expression sequence on
# both engines (sqrt and +-*/ are correctly-rounded, so the z-scores
# hash-match exactly; no stddev_samp over raw doubles, whose
# accumulation order is engine-defined).
# At 100 TB: the daily table is tiny (days x series), so the window
# sort is trivial; the heavy lifting is the first aggregate, which
# partial-aggregates before its one shuffle.
# ---------------------------------------------------------------------------
ANOM_WINDOW = 7  # trailing days in the baseline
ANOM_Z = 3.0


@query(
    "q113_rolling_anomaly",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,2))) AS total_dec
      FROM events GROUP BY 1, 2
    ),
    framed AS (
      SELECT event_type, day,
             CAST(total_dec AS DOUBLE) AS daily_total,
             COUNT(*) OVER w AS n_base,
             CAST(SUM(CAST(total_dec AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS s_base,
             CAST(SUM(CAST(total_dec AS DECIMAL(18,2))
                      * CAST(total_dec AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS ss_base
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {ANOM_WINDOW} PRECEDING AND 1 PRECEDING)
    ),
    scored AS (
      SELECT event_type, day, daily_total, n_base,
             s_base / n_base AS base_mean,
             sqrt(greatest(
               (ss_base - n_base * (s_base / n_base) * (s_base / n_base))
                 / (n_base - 1), 0.0)) AS base_std
      FROM framed
      WHERE n_base >= 2
    )
    SELECT event_type, day, daily_total, n_base, base_mean, base_std,
           CASE WHEN base_std > 0
                THEN (daily_total - base_mean) / base_std END AS z,
           CAST(CASE WHEN base_std > 0
                      AND abs((daily_total - base_mean) / base_std) > {ANOM_Z}
                     THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM scored
    ORDER BY event_type, day
    """,
)
def q113_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.sum(F.col("value").cast(DEC)).alias("total_dec"))
    td = F.col("total_dec").cast(DEC)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-ANOM_WINDOW, -1)
    )
    framed = daily.select(
        "event_type",
        "day",
        F.col("total_dec").cast("double").alias("daily_total"),
        F.count("*").over(w).alias("n_base"),
        F.sum(td).over(w).cast("double").alias("s_base"),
        F.sum(td * td).over(w).cast("double").alias("ss_base"),
    )
    mean = F.col("s_base") / F.col("n_base")
    # identical IEEE sequence to the oracle: (ss - n*mean*mean)/(n-1)
    var = (
        F.col("ss_base") - F.col("n_base") * mean * mean
    ) / (F.col("n_base") - 1)
    scored = framed.where(F.col("n_base") >= 2).select(
        "event_type",
        "day",
        "daily_total",
        "n_base",
        mean.alias("base_mean"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("base_std"),
    )
    z = (F.col("daily_total") - F.col("base_mean")) / F.col("base_std")
    return scored.select(
        "event_type",
        "day",
        "daily_total",
        "n_base",
        "base_mean",
        "base_std",
        F.when(F.col("base_std") > 0, z).alias("z"),
        F.when((F.col("base_std") > 0) & (F.abs(z) > ANOM_Z), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_anomaly"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# q119 — consecutive-day purchase streaks via NATIVE RECURSIVE CTE
# (Spark 4 WITH RECURSIVE — a SQL operator class this engine gains over
# Spark 3; DuckDB runs the identical recursion, so the fixpoint itself
# is differentially verified). The recursion follows FUNCTIONAL edges —
# each (user, day) has at most one successor (user, day+1) — so depth
# equals the longest streak and rows grow linearly (no transitive
# blow-up; Spark refuses UNION-distinct recursion, and with edges like
# these none is needed).
#
# Scale notes: gaps-and-islands via window functions (q30) is the
# preferred O(one shuffle) plan for unbounded streak lengths; the
# recursive form is the right tool when each step must CONSULT other
# tables or apply non-monoidal logic per hop (pricing chains,
# escalation policies). Recursion runs one job per level with depth =
# the LONGEST streak (9 at sf0.1, ~log-growing) — a pathological
# corpus (one bot with a 10k-day streak) would run 10k jobs. The
# ``max_depth`` guard (ON BY DEFAULT at 400 since r11 — the r10
# verdict flagged that a None default left the driver path unguarded)
# bounds that: one cheap gaps-and-islands window pass (the q30 plan
# shape) measures the actual longest streak first and the function
# fails fast with a pointer to the islands plan when it exceeds the
# EFFECTIVE cap = min(max_depth, spark.sql.cteRecursionLevelLimit - 1),
# instead of launching an unbounded job chain or escaping into the
# engine's own opaque level-limit error. Under the engine's default
# limit (100) the effective cap is 99 and the 400 is headroom that
# binds only in sessions that raise the engine limit — 400 ≈ a year
# of daily purchases, the calendar-plausible ceiling for this query.
# Pass None to skip the guard pass entirely (explicit opt-out).
# ---------------------------------------------------------------------------
@query(
    "q119_purchase_streaks",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events WHERE event_type = 'purchase'
    ),
    starts AS (
      SELECT d.user_id, d.day
      FROM daily d LEFT JOIN daily p
        ON p.user_id = d.user_id AND p.day = d.day - 1
      WHERE p.day IS NULL
    ),
    chain AS (
      SELECT user_id, day AS start_day, day AS cur_day, 1 AS len FROM starts
      UNION ALL
      SELECT c.user_id, c.start_day, n.day, c.len + 1
      FROM chain c JOIN daily n
        ON n.user_id = c.user_id AND n.day = c.cur_day + 1
    ),
    streaks AS (
      SELECT user_id, start_day, MAX(len) AS streak_len
      FROM chain GROUP BY 1, 2
    )
    SELECT user_id,
           COUNT(*) AS n_streaks,
           CAST(MAX(streak_len) AS BIGINT) AS longest_streak,
           CAST(SUM(streak_len) AS BIGINT) AS purchase_days
    FROM streaks GROUP BY 1 ORDER BY 1
    """,
)
def q119_purchase_streaks(
    spark: SparkSession, sf_dir: str, max_depth: int | None = 400
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
        # materialized ONCE (r13, guide §2.4/§5): the frame feeds the
        # guard's islands window AND three references inside the
        # recursive CTE — and the recursion re-executes its join input
        # EVERY round, so without this each of the N sequential rounds
        # re-scanned events and re-ran the distinct. Checkpoint blocks
        # make each round an in-memory hash join against ~|users x
        # active days| rows.
        .localCheckpoint(eager=True)
    )
    if max_depth is not None:
        # guard pass: ONE gaps-and-islands window shuffle (q30 shape)
        # measures the longest streak = the recursion depth the CTE
        # below would need; refuse to launch an unbounded job chain.
        # The cap is the TIGHTER of max_depth and the session's live
        # engine limit (spark.sql.cteRecursionLevelLimit, default 100,
        # minus one level of margin) — a guard-passed plan must never
        # escape into the engine's own opaque level-limit error.
        # NO fallback argument: conf.get(key) returns the REGISTERED
        # engine default (100 on Spark 4.1) when the session never set
        # the key, whereas conf.get(key, "100") would mask a vendor
        # build's different default with our guess (verified on 4.1.2)
        try:
            engine_cap = (
                int(spark.conf.get("spark.sql.cteRecursionLevelLimit")) - 1
            )
        except Exception:  # noqa: BLE001 — builds predating recursive CTEs
            engine_cap = 99
        cap = min(max_depth, engine_cap)
        w = Window.partitionBy("user_id").orderBy("day")
        island = F.date_sub("day", F.row_number().over(w))
        longest = (
            daily.withColumn("island", island)
            .groupBy("user_id", "island")
            .count()
            .agg(F.max("count"))
            .first()[0]
        ) or 0
        if longest > cap:
            which = (
                f"max_depth={max_depth}"
                if cap == max_depth
                else f"spark.sql.cteRecursionLevelLimit-1={engine_cap}"
            )
            raise ValueError(
                f"q119_purchase_streaks: longest streak is {longest} days, "
                f"above {which} — the recursive plan would "
                f"run {longest} sequential jobs. Use the gaps-and-islands "
                "window plan (q30_sessionization shape) for unbounded "
                "streak lengths, or raise both the cap and the session "
                "recursion limit."
            )
    # per-call view name: concurrent callers (possibly with different
    # sf_dirs) must not race on a shared temp-view registration
    daily_v = f"q119_daily_{next(_VIEW_SEQ)}"
    daily.createOrReplaceTempView(daily_v)
    try:
        return spark.sql(
            f"""
        WITH RECURSIVE starts AS (
          SELECT d.user_id, d.day
          FROM {daily_v} d LEFT JOIN {daily_v} p
            ON p.user_id = d.user_id AND p.day = date_sub(d.day, 1)
          WHERE p.day IS NULL
        ),
        chain AS (
          SELECT user_id, day AS start_day, day AS cur_day, 1 AS len
          FROM starts
          UNION ALL
          SELECT c.user_id, c.start_day, n.day, c.len + 1
          FROM chain c JOIN {daily_v} n
            ON n.user_id = c.user_id AND n.day = date_add(c.cur_day, 1)
        ),
        streaks AS (
          SELECT user_id, start_day, MAX(len) AS streak_len
          FROM chain GROUP BY 1, 2
        )
        SELECT user_id,
               COUNT(*) AS n_streaks,
               CAST(MAX(streak_len) AS BIGINT) AS longest_streak,
               CAST(SUM(streak_len) AS BIGINT) AS purchase_days
        FROM streaks GROUP BY 1 ORDER BY 1
        """
        )
    finally:
        # spark.sql analyzes eagerly, so the returned DataFrame no
        # longer needs the catalog entry — drop it or a long-lived
        # shared session leaks one view per call (ADVICE r4)
        spark.catalog.dropTempView(daily_v)


# ---------------------------------------------------------------------------
# q118 — LATERAL correlated subquery top-k (Spark 4 SQL surface): the
# per-group top-k expressed as a correlated LATERAL (ORDER BY .. LIMIT
# k per outer row) instead of the window row_number()<=k plan (q06/q16
# family). Catalyst decorrelates it into a join + per-group limit —
# the test of record is the DuckDB twin running the IDENTICAL lateral
# SQL. Ties pinned (acctbal DESC, custkey ASC) so both engines pick
# the same two customers per nation.
# ---------------------------------------------------------------------------
@query(
    "q118_lateral_topk",
    oracle="""
    SELECT n.n_name AS nation, t.c_name, t.c_acctbal
    FROM nation n,
    LATERAL (
      SELECT c_name, c_acctbal, c_custkey
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    ORDER BY nation, t.c_acctbal DESC, t.c_name
    """,
)
def q118_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = next(_VIEW_SEQ)
    nation_v, customer_v = f"nation_lat_v{seq}", f"customer_lat_v{seq}"
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(nation_v)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(customer_v)
    try:
        return spark.sql(
            f"""
        SELECT n.n_name AS nation, t.c_name, t.c_acctbal
        FROM {nation_v} n,
        LATERAL (
          SELECT c_name, c_acctbal, c_custkey
          FROM {customer_v} c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t
        ORDER BY nation, t.c_acctbal DESC, t.c_name
        """
        )
    finally:
        # analyzed eagerly by spark.sql — drop or leak per call
        spark.catalog.dropTempView(nation_v)
        spark.catalog.dropTempView(customer_v)


def _drain_memory_sink(agg: DataFrame, label: str) -> DataFrame:
    """Drain a streaming aggregate into a memory sink (availableNow,
    complete mode) and return a BATCH snapshot of the result.

    Shared by q126/q136 so the hygiene-critical invariants live once:
    the bounded snapshot is collected BEFORE the temp view drops, and the
    view is dropped even when the drain/collect fails (a failed call
    must not leak a memory-sink view holding the aggregate — r5 review
    finding). Callers must guarantee the aggregate is BOUNDED (a few
    rows per group key), which is what makes the snapshot-collect
    driver-safe at any corpus size.
    """
    from ..streaming.jobs import run_available_now

    spark = agg.sparkSession
    name = f"{label}_mem_{next(_VIEW_SEQ)}"
    try:
        run_available_now(agg, name)
        snap = spark.table(name)
        rows = snap.collect()  # bounded by the caller's contract
        return spark.createDataFrame(rows, snap.schema)
    finally:
        spark.catalog.dropTempView(name)


# ---------------------------------------------------------------------------
# q126 — the STREAMING plan under the batch oracle: the driver-gate
# version of tests/test_streaming.py's batch-equivalence suite. The
# query builds the real Structured Streaming job (file-stream source →
# watermark → tumbling window aggregation, streaming/jobs.py::
# tumbling_daily), drains the full backlog with trigger=availableNow
# into a memory sink, and returns the drained result — which the
# driver then hash-compares against the plain batch SQL. This promotes
# "streaming == batch" from a pytest claim to a driver-verified row:
# the watermark bookkeeping, state-store aggregation and sink path all
# sit on the verified side. n_users is approx_count_distinct in the
# streaming plan (exact distinct isn't supported under streaming
# aggregation), so the HLL column stays out of the compared schema —
# the exact columns (counts, decimal-exact sums) are the contract.
# The drained aggregate is one row per (day, event_type) — bounded —
# so the snapshot-collect that frees the memory sink's temp view is
# driver-safe at any corpus size.
# ---------------------------------------------------------------------------
@query(
    "q126_streaming_tumbling",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q126_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    stream = jobs.read_events_stream(spark, sf_dir)
    agg = jobs.tumbling_daily(stream)
    out = _drain_memory_sink(agg, "q126")  # one row per (day, type): bounded
    return out.select(
        "window_start", "event_type", "n_events", "total_value"
    ).orderBy("window_start", "event_type")


# ---------------------------------------------------------------------------
# q136 — STREAMING DEDUP under the batch oracle: the at-least-once →
# effectively-once contract, driver-verified. The stream reads the
# events file source TWICE and unions the legs — every event arrives
# (at least) twice, the upstream-retry shape — then
# dropDuplicatesWithinWatermark collapses them with watermark-bounded
# state, and a downstream streaming aggregation reduces the deduped
# rows to one bounded row per event_type (two chained stateful
# operators — dedup state + agg state — the multi-stateful pipeline
# Spark 3.5+ supports). The dedup KEY is the full column list, not
# just event_id: our injected duplicates are byte-identical rows, and
# keying on content makes the batch oracle (aggregate over SELECT
# DISTINCT *) well-defined on ANY data generation — an id-keyed dedup
# would silently depend on the generator never reusing event_ids
# (review finding). Any duplicate the dedup lets through, or any row
# its state handling drops, breaks the integer count / decimal-exact
# sum equality. Complements q126 (windowed aggregation): together the
# two registered streaming rows cover both stateful-operator families.
# ---------------------------------------------------------------------------
@query(
    "q136_streaming_dedup",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM (SELECT DISTINCT * FROM events)
    GROUP BY 1
    ORDER BY 1
    """,
)
def q136_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import jobs

    one_leg = jobs.read_events_stream(spark, sf_dir)
    doubled = one_leg.unionByName(jobs.read_events_stream(spark, sf_dir))
    deduped = jobs.deduped_events(doubled, keys=list(one_leg.columns))
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )
    out = _drain_memory_sink(agg, "q136")  # one row per event_type: bounded
    return out.select("event_type", "n_events", "total_value").orderBy(
        "event_type"
    )


# ---------------------------------------------------------------------------
# q166 — behavioral-sequence dataset construction: per user, the
# chronological event-type sequence truncated to the most recent
# SEQ_N events, split into (context, target) for next-event-prediction
# training — the recsys / behavior-LM dataset builder (SASRec-style
# example construction expressed relationally).
#
# Scale shape: the recency window is a hash-partitioned ranking
# window rewritten to WindowGroupLimit (per-partition top-N heaps —
# a power user with millions of events never materializes them all;
# only the <= SEQ_N survivors reach collect_list), and the total
# count rides a separate map-side-combined aggregate joined back on
# the user grain. Ordering ties broken by event_id, so both engines
# assemble identical sequences.
# ---------------------------------------------------------------------------
SEQ_N = 20


@query(
    "q166_user_sequences",
    oracle=f"""
    WITH s AS (
      SELECT user_id, COUNT(*) AS n,
             array_agg(event_type ORDER BY ts, event_id) AS seq
      FROM events GROUP BY 1
    ),
    t AS (
      SELECT user_id, n, LEAST(n, {SEQ_N}) AS seq_len,
             list_slice(seq, GREATEST(1, n - {SEQ_N - 1}), n) AS last
      FROM s
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           CAST(seq_len AS BIGINT) AS seq_len,
           array_to_string(list_slice(last, 1, CAST(seq_len - 1 AS INT)), ' ')
             AS context,
           last[CAST(seq_len AS INT)] AS target
    FROM t ORDER BY user_id
    """,
)
def q166_user_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    recent = ev.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= SEQ_N
    )
    counts = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("n_events"))
    seqs = recent.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s.getField("event_type"),
        ).alias("last")
    )
    return (
        seqs.join(counts, "user_id")
        .select(
            "user_id",
            "n_events",
            F.size("last").cast("bigint").alias("seq_len"),
            F.concat_ws(
                " ", F.expr("slice(last, 1, size(last) - 1)")
            ).alias("context"),
            F.element_at("last", -1).alias("target"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q177 — grouped robust-outlier audit (median/MAD modified z-score,
# Iglewicz-Hoaglin 0.6745*(x-med)/MAD > 3.5): the outlier screen that
# survives the outliers it is measuring (mean/stddev screens do not).
# Exactness: both medians are
# exact interpolating percentiles (the q63 engine-parity scheme — at
# 100 TB the same plan swaps in percentile_approx), and every
# downstream op is IEEE arithmetic on identical doubles; counts and
# ppm stay integer.
#
# Scale shape: two grouped aggregations + two broadcast-sized joins on
# the |event_types| grain — the corpus is scanned twice (med, then
# deviations), never sorted globally.
# ---------------------------------------------------------------------------
MAD_Z_CUTOFF = 3.5
MAD_CONSISTENCY = 0.6745


@query(
    "q177_mad_outliers",
    oracle=f"""
    WITH vals AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL
    ),
    med AS (SELECT event_type, MEDIAN(v) AS med FROM vals GROUP BY 1),
    dev AS (
      SELECT v.event_type, v.v, m.med, ABS(v.v - m.med) AS ad
      FROM vals v JOIN med m USING (event_type)
    ),
    mad AS (SELECT event_type, MEDIAN(ad) AS mad FROM dev GROUP BY 1),
    agg AS (
      SELECT d.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MIN(d.med) AS med,
             MIN(m2.mad) AS mad,
             CAST(SUM(CASE WHEN m2.mad > 0
                            AND {MAD_CONSISTENCY} * d.ad / m2.mad
                                > {MAD_Z_CUTOFF}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev d JOIN mad m2 USING (event_type)
      GROUP BY 1
    )
    SELECT event_type, n_events, med, mad, n_outliers,
           CAST(n_outliers * 1000000 // n_events AS BIGINT) AS outlier_ppm
    FROM agg ORDER BY event_type
    """,
)
def q177_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    vals = events.where(F.col("value").isNotNull()).select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    # materialize the tiny per-type median ONCE (r13 s3, guide §2.4):
    # ``dev`` feeds two consumers (mad + the outlier aggregate) and each
    # re-planned the median's full events pass — the executed plan ran
    # 4 corpus scans and the percentile aggregation twice. The median
    # table is |event_type| rows; checkpointing it leaves the 3 corpus
    # passes the algorithm fundamentally needs (median, median-of-
    # deviations, outlier count) and nothing corpus-sized in memory.
    med = vals.groupBy("event_type").agg(
        F.expr("percentile(v, 0.5)").alias("med")
    ).localCheckpoint()
    dev = vals.join(med, "event_type").withColumn(
        "ad", F.abs(F.col("v") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    agg = (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(
                    (F.col("mad") > 0)
                    & (
                        MAD_CONSISTENCY * F.col("ad") / F.col("mad")
                        > MAD_Z_CUTOFF
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )
    return agg.select(
        "event_type",
        "n_events",
        "med",
        "mad",
        "n_outliers",
        F.expr("n_outliers * 1000000 DIV n_events").alias("outlier_ppm"),
    ).orderBy("event_type")
