"""Hierarchical rollup query surface (engine extension: the reference
has no grouping sets — SURVEY §2.5 — but any warehouse serving its
dashboards wants subtotal pyramids computed in one pass).

q38: revenue by (year, quarter) with quarter and grand subtotals via
ROLLUP — one shuffle for all three grains instead of three queries.
``grouping()`` flags disambiguate real NULLs from subtotal rows in
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import dsum, query


@query(
    "q38_rollup",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
           CAST(quarter(o_orderdate) AS BIGINT) AS quarter,
           CAST(GROUPING(year(o_orderdate)) AS INT) AS is_year_total,
           CAST(GROUPING(quarter(o_orderdate)) AS INT) AS is_quarter_total,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
    FROM orders
    GROUP BY ROLLUP(year(o_orderdate), quarter(o_orderdate))
    """,
)
def q38_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("year"),
        F.quarter("o_orderdate").cast("long").alias("quarter"),
        "o_totalprice",
    )
    return (
        orders.rollup("year", "quarter")
        .agg(
            F.grouping(F.col("year")).cast("int").alias("is_year_total"),
            F.grouping(F.col("quarter")).cast("int").alias("is_quarter_total"),
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_revenue"),
        )
        .select(
            "year", "quarter", "is_year_total", "is_quarter_total", "n_orders", "total_revenue"
        )
    )


# ---------------------------------------------------------------------------
# q46 — CUBE over (order year, market segment): all four grains
# (year x segment, year totals, segment totals, grand total) in one
# shuffle. grouping() flags disambiguate subtotal rows from real NULLs,
# exactly as in q38's rollup.
# ---------------------------------------------------------------------------
@query(
    "q46_cube",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS year,
           c.c_mktsegment AS mktsegment,
           CAST(GROUPING(year(o.o_orderdate)) AS INT) AS is_year_total,
           CAST(GROUPING(c.c_mktsegment) AS INT) AS is_segment_total,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY CUBE(year(o.o_orderdate), c.c_mktsegment)
    """,
)
def q46_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # customer scales with SF — no hint; the planner broadcasts it at
    # bench scale from size stats and shuffle-joins past the ceiling
    base = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(
        F.year("o_orderdate").cast("long").alias("year"),
        F.col("c_mktsegment").alias("mktsegment"),
        "o_totalprice",
    )
    return (
        base.cube("year", "mktsegment")
        .agg(
            F.grouping(F.col("year")).cast("int").alias("is_year_total"),
            F.grouping(F.col("mktsegment")).cast("int").alias("is_segment_total"),
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_revenue"),
        )
        .select(
            "year", "mktsegment", "is_year_total", "is_segment_total",
            "n_orders", "total_revenue",
        )
    )


# ---------------------------------------------------------------------------
# q67 — arbitrary GROUPING SETS (the general form ROLLUP/CUBE are sugar
# for): four hand-picked grains — (status, priority), (status),
# (priority), () — computed in ONE pass/shuffle via the SQL interface
# (spark.sql over a registered view; Spark expands the sets with a
# single Expand + hash aggregate, the same physical shape as q38/q46).
# ---------------------------------------------------------------------------
_GROUPING_SETS_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS is_status_total,
           CAST(GROUPING(o_orderpriority) AS INT) AS is_priority_total,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
    FROM {table}
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
"""


@query("q67_grouping_sets", oracle=_GROUPING_SETS_SQL.format(table="orders"))
def q67_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs_v")
    return spark.sql(_GROUPING_SETS_SQL.format(table="orders_gs_v"))
