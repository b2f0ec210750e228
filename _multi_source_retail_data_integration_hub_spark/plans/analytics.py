"""The reference's analytical query surface, re-expressed Spark-first
over the testdata star schema (orders/lineitem/customer/part/nation/
region stand in for the retail fact + dims).

Each query mirrors a numbered query in
/root/reference/sql/analytical_queries.sql or a dashboard computation in
/root/reference/streamlit_app.py (cited per function), exercising the
operator inventory of SURVEY.md §2: hash aggregation, countDistinct,
broadcast equi-joins, LAG windows, share-of-total windows, pivot,
binning, top-k, calendar derivation.

Determinism: see plans/registry.py — float sums go through
DECIMAL(18,2) so Spark and the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.quantiles import (
    cutpoint_bucket_sql,
    histogram_bucket,
    histogram_bucket_map,
)
from ..sources.testdata import load_table
from .registry import DEC, dsum, query


# ---------------------------------------------------------------------------
# Query 1 — monthly sales trend with MoM growth
# Reference: sql/analytical_queries.sql:8-26 (GROUP BY year/month + LAG(1)
# + NULLIF growth guard); pandas twin etl/transform.py:412-428 (W1, A2).
# ---------------------------------------------------------------------------
@query(
    "q01_monthly_sales_trend",
    oracle="""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) AS BIGINT)  AS year,
             CAST(month(o_orderdate) AS BIGINT) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
             COUNT(DISTINCT o_orderkey) AS total_orders,
             COUNT(DISTINCT o_custkey)  AS unique_customers
      FROM orders
      GROUP BY 1, 2
    )
    SELECT year, month, total_revenue, total_orders, unique_customers,
           total_revenue / total_orders AS avg_order_value,
           LAG(total_revenue) OVER (ORDER BY year, month) AS prev_month_revenue,
           (total_revenue - LAG(total_revenue) OVER (ORDER BY year, month))
             / NULLIF(LAG(total_revenue) OVER (ORDER BY year, month), 0) * 100
             AS mom_growth_pct
    FROM monthly
    ORDER BY year, month
    """,
)
def q01_monthly_sales_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("year"),
        F.month("o_orderdate").cast("long").alias("month"),
    ).agg(
        dsum("o_totalprice").alias("total_revenue"),
        F.countDistinct("o_orderkey").alias("total_orders"),
        F.countDistinct("o_custkey").alias("unique_customers"),
    )
    # Post-aggregation cardinality is tiny (#months), so the
    # unpartitioned window is a single-task no-op at any input scale.
    w = Window.orderBy("year", "month")
    prev = F.lag("total_revenue").over(w)
    return monthly.select(
        "year",
        "month",
        "total_revenue",
        "total_orders",
        "unique_customers",
        (F.col("total_revenue") / F.col("total_orders")).alias("avg_order_value"),
        prev.alias("prev_month_revenue"),
        ((F.col("total_revenue") - prev) / F.nullif(prev, F.lit(0)) * 100).alias(
            "mom_growth_pct"
        ),
    ).orderBy("year", "month")


# ---------------------------------------------------------------------------
# Query 2 — category performance with revenue share of total
# Reference: sql/analytical_queries.sql:29-45 (LEFT JOIN dim_category +
# SUM(SUM(x)) OVER () share, J6 + A4/W3); pandas twin etl/transform.py:448-462.
# ---------------------------------------------------------------------------
@query(
    "q02_category_share",
    oracle="""
    WITH by_type AS (
      SELECT p.p_type AS category,
             COUNT(*) AS n_items,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS rev_dec,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS gross_dec
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    )
    SELECT category, n_items,
           CAST(rev_dec AS DOUBLE) AS total_revenue,
           CAST(rev_dec AS DOUBLE) / NULLIF(CAST(SUM(rev_dec) OVER () AS DOUBLE), 0) * 100
             AS revenue_share_pct,
           CAST(gross_dec AS DOUBLE) / n_items AS avg_item_price
    FROM by_type
    ORDER BY total_revenue DESC, category
    """,
)
def q02_category_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # part is the dimension side (reference hand-rolls this with a
    # dict-map at etl/transform.py:364-369; here it is a hash join).
    # No broadcast HINT: part scales with SF, so the planner owns the
    # decision — broadcast under the ceiling, shuffle join past it.
    joined = lineitem.join(
        part.select("p_partkey", "p_type"),
        lineitem.l_partkey == part.p_partkey,
    )
    by_type = joined.groupBy(F.col("p_type").alias("category")).agg(
        F.count("*").alias("n_items"),
        # Cast the raw 2-decimal columns to DECIMAL *before* multiplying:
        # rounding a computed double to decimal is engine-dependent near
        # half-cents; rounding a stored 2-decimal double is not.
        F.sum(
            F.col("l_extendedprice").cast(DEC)
            * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
        ).alias("rev_dec"),
        F.sum(F.col("l_extendedprice").cast(DEC)).alias("gross_dec"),
    )
    total = F.sum("rev_dec").over(Window.partitionBy())  # exact decimal total
    return by_type.select(
        "category",
        "n_items",
        F.col("rev_dec").cast("double").alias("total_revenue"),
        (
            F.col("rev_dec").cast("double")
            / F.nullif(total.cast("double"), F.lit(0))
            * 100
        ).alias("revenue_share_pct"),
        (F.col("gross_dec").cast("double") / F.col("n_items")).alias("avg_item_price"),
    ).orderBy(F.desc("total_revenue"), "category")


# ---------------------------------------------------------------------------
# Query 3 — customer value segmentation (binning)
# Reference: customer_segment pd.cut bins at etl/transform.py:214-218 (D7,
# right-closed: 1=New, 2-3=Occasional, 4-5=Regular, 6+=Loyal) feeding
# sql/analytical_queries.sql:50-62 (A1 + group-by-segment rollup).
# ---------------------------------------------------------------------------
@query(
    "q03_customer_segments",
    oracle="""
    WITH per_customer AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec
      FROM orders
      GROUP BY 1
    ), labeled AS (
      SELECT CASE WHEN n_orders <= 1 THEN 'New'
                  WHEN n_orders <= 3 THEN 'Occasional'
                  WHEN n_orders <= 5 THEN 'Regular'
                  ELSE 'Loyal' END AS customer_segment,
             n_orders, spend_dec
      FROM per_customer
    )
    SELECT customer_segment,
           COUNT(*) AS n_customers,
           -- CAST: DuckDB SUM(BIGINT) yields HUGEINT, which serializes
           -- differently from Spark's BIGINT in the driver's value hash.
           CAST(SUM(n_orders) AS BIGINT) AS total_orders,
           CAST(SUM(spend_dec) AS DOUBLE) AS total_revenue,
           CAST(SUM(n_orders) AS DOUBLE) / NULLIF(COUNT(*), 0) AS avg_orders_per_customer,
           CAST(SUM(spend_dec) AS DOUBLE) / NULLIF(COUNT(*), 0) AS avg_revenue_per_customer
    FROM labeled
    GROUP BY 1
    ORDER BY total_revenue DESC
    """,
)
def q03_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_customer = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("spend_dec"),
    )
    # pd.cut right-closed bins [0,1,3,5,inf] -> <= chains (SURVEY §7.4.2).
    seg = (
        F.when(F.col("n_orders") <= 1, "New")
        .when(F.col("n_orders") <= 3, "Occasional")
        .when(F.col("n_orders") <= 5, "Regular")
        .otherwise("Loyal")
    )
    labeled = per_customer.withColumn("customer_segment", seg)
    n_cust = F.count("*")
    return (
        labeled.groupBy("customer_segment")
        .agg(
            n_cust.alias("n_customers"),
            F.sum("n_orders").alias("total_orders"),
            F.sum("spend_dec").cast("double").alias("total_revenue"),
            (F.sum("n_orders").cast("double") / F.nullif(n_cust, F.lit(0))).alias(
                "avg_orders_per_customer"
            ),
            (F.sum("spend_dec").cast("double") / F.nullif(n_cust, F.lit(0))).alias(
                "avg_revenue_per_customer"
            ),
        )
        .orderBy(F.desc("total_revenue"))
    )


# ---------------------------------------------------------------------------
# Query 4 — market-segment x order-status pivot with share columns
# Reference: the gender pivot mart at etl/transform.py:465-491 (A5:
# two-level agg -> pivot with FIXED column list -> fillna(0) -> pct columns).
# ---------------------------------------------------------------------------
@query(
    "q04_segment_status_pivot",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS mktsegment,
             COALESCE(SUM(CASE WHEN o.o_orderstatus = 'F' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END), 0) AS f_dec,
             COALESCE(SUM(CASE WHEN o.o_orderstatus = 'O' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END), 0) AS o_dec,
             COALESCE(SUM(CASE WHEN o.o_orderstatus = 'P' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END), 0) AS p_dec
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    )
    SELECT mktsegment,
           CAST(f_dec AS DOUBLE) AS revenue_f,
           CAST(o_dec AS DOUBLE) AS revenue_o,
           CAST(p_dec AS DOUBLE) AS revenue_p,
           CAST(f_dec AS DOUBLE) / NULLIF(CAST(f_dec + o_dec + p_dec AS DOUBLE), 0) * 100 AS f_pct,
           CAST(o_dec AS DOUBLE) / NULLIF(CAST(f_dec + o_dec + p_dec AS DOUBLE), 0) * 100 AS o_pct
    FROM base
    ORDER BY mktsegment
    """,
)
def q04_segment_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        customer.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == customer.c_custkey,
    )
    # Fixed pivot value list => stable output schema even when a status is
    # absent from the data (SURVEY §7.4.9).
    pivoted = (
        joined.groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(F.col("o_totalprice").cast(DEC)))
        .na.fill(0)
    )
    f_dec, o_dec, p_dec = F.col("F"), F.col("O"), F.col("P")
    total = (f_dec + o_dec + p_dec).cast("double")
    return pivoted.select(
        "mktsegment",
        f_dec.cast("double").alias("revenue_f"),
        o_dec.cast("double").alias("revenue_o"),
        p_dec.cast("double").alias("revenue_p"),
        (f_dec.cast("double") / F.nullif(total, F.lit(0)) * 100).alias("f_pct"),
        (o_dec.cast("double") / F.nullif(total, F.lit(0)) * 100).alias("o_pct"),
    ).orderBy("mktsegment")


# ---------------------------------------------------------------------------
# Query 5 — day-of-week sales pattern
# Reference: sql/analytical_queries.sql:66-75 (query 4: weekday rollup) +
# the calendar derivations D3/D4 at etl/transform.py:152-160 (Mon=0
# day_of_week, weekend flag).
# ---------------------------------------------------------------------------
@query(
    "q05_weekday_analysis",
    oracle="""
    SELECT CAST(isodow(o_orderdate) - 1 AS BIGINT) AS day_of_week,
           dayname(o_orderdate) AS day_name,
           isodow(o_orderdate) - 1 >= 5 AS is_weekend,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / NULLIF(COUNT(*), 0)
             AS avg_order_value
    FROM orders
    GROUP BY 1, 2, 3
    ORDER BY day_of_week
    """,
)
def q05_weekday_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Spark dayofweek is Sun=1..Sat=7; reference uses pandas Mon=0
    # (etl/transform.py:156) => (dayofweek+5) % 7.
    dow = ((F.dayofweek("o_orderdate") + 5) % 7).cast("long")
    return (
        orders.groupBy(
            dow.alias("day_of_week"),
            F.date_format("o_orderdate", "EEEE").alias("day_name"),
            (dow >= 5).alias("is_weekend"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_revenue"),
            (dsum("o_totalprice") / F.nullif(F.count("*"), F.lit(0))).alias(
                "avg_order_value"
            ),
        )
        .orderBy("day_of_week")
    )


# ---------------------------------------------------------------------------
# Query 6 — top-20 customers by lifetime value (top-k with dim joins)
# Reference: sql/analytical_queries.sql:92-108 (query 6: ORDER BY revenue
# DESC LIMIT 20, O3) + dashboard nlargest at streamlit_app.py:1787 (O4).
# ---------------------------------------------------------------------------
@query(
    "q06_top_customers",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS name, c.c_mktsegment AS mktsegment,
           n.n_name AS nation, r.r_name AS region,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / NULLIF(COUNT(*), 0)
             AS avg_order_value,
           MIN(o.o_orderdate) AS first_order,
           MAX(o.o_orderdate) AS last_order
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY total_revenue DESC, custkey
    LIMIT 20
    """,
)
def q06_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # Aggregate the fact FIRST (map-side partial agg shrinks it to one row
    # per customer) and only then join the dims — at 100 TB the pre-agg
    # then broadcast-join plan avoids shuffling the wide fact.
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("spend_dec"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )
    dims = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    joined = per_cust.join(dims, per_cust.o_custkey == dims.c_custkey)
    return (
        joined.select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "n_orders",
            F.col("spend_dec").cast("double").alias("total_revenue"),
            (F.col("spend_dec").cast("double") / F.nullif(F.col("n_orders"), F.lit(0))).alias(
                "avg_order_value"
            ),
            "first_order",
            "last_order",
        )
        # Deterministic tiebreak so top-k is stable across engines/runs.
        .orderBy(F.desc("total_revenue"), "custkey")
        .limit(20)  # Spark plans TakeOrderedAndProject — no global sort.
    )


# ---------------------------------------------------------------------------
# Query 7 — catalog profile by brand
# Reference: sql/analytical_queries.sql:112-123 (query 7: COUNT/AVG/MIN/
# MAX/SUM catalog rollup, A7) on stg_api_products.
# ---------------------------------------------------------------------------
@query(
    "q07_catalog_stats",
    oracle="""
    SELECT p_brand AS brand,
           COUNT(*) AS n_products,
           COUNT(DISTINCT p_type) AS n_types,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / NULLIF(COUNT(*), 0)
             AS avg_price,
           MIN(p_retailprice) AS min_price,
           MAX(p_retailprice) AS max_price,
           CAST(SUM(p_size) AS DOUBLE) / NULLIF(COUNT(*), 0) AS avg_size
    FROM part
    GROUP BY 1
    ORDER BY brand
    """,
)
def q07_catalog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_products"),
            F.countDistinct("p_type").alias("n_types"),
            (dsum("p_retailprice") / F.nullif(F.count("*"), F.lit(0))).alias("avg_price"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
            (F.sum("p_size").cast("double") / F.nullif(F.count("*"), F.lit(0))).alias(
                "avg_size"
            ),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Query 8 — quarterly revenue with YoY growth (LAG 4)
# Reference: sql/analytical_queries.sql:127-142 (query 8: LAG(4) over
# quarter order + NULLIF YoY pct, W2).
# ---------------------------------------------------------------------------
@query(
    "q08_quarterly_yoy",
    oracle="""
    WITH quarterly AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
             CAST(quarter(o_orderdate) AS BIGINT) AS quarter,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY 1, 2
    )
    SELECT year, quarter, total_revenue, n_orders,
           LAG(total_revenue, 4) OVER (ORDER BY year, quarter) AS prev_year_revenue,
           (total_revenue - LAG(total_revenue, 4) OVER (ORDER BY year, quarter))
             / NULLIF(LAG(total_revenue, 4) OVER (ORDER BY year, quarter), 0) * 100
             AS yoy_growth_pct
    FROM quarterly
    ORDER BY year, quarter
    """,
)
def q08_quarterly_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    quarterly = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("year"),
        F.quarter("o_orderdate").cast("long").alias("quarter"),
    ).agg(
        dsum("o_totalprice").alias("total_revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("year", "quarter")
    prev = F.lag("total_revenue", 4).over(w)
    return quarterly.select(
        "year",
        "quarter",
        "total_revenue",
        "n_orders",
        prev.alias("prev_year_revenue"),
        ((F.col("total_revenue") - prev) / F.nullif(prev, F.lit(0)) * 100).alias(
            "yoy_growth_pct"
        ),
    ).orderBy("year", "quarter")


# ---------------------------------------------------------------------------
# q52 — anti-join surfaced as a query: customers with NO orders, by
# market segment. The reference exercises anti-joins only inside the
# SCD2 merge (J8); this makes the operator an oracle-checked plan of
# its own. Spark's left_anti over a broadcast/shuffled hash join ==
# DuckDB's NOT EXISTS.
# ---------------------------------------------------------------------------
@query(
    "q52_customers_no_orders",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_customers_no_orders,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
)
def q52_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    no_orders = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    )
    return no_orders.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").alias("n_customers_no_orders"),
        dsum("c_acctbal").alias("acctbal_sum"),
    )


# ---------------------------------------------------------------------------
# q54 — NTILE decile feature bucketing: customers deciled by lifetime
# spend (ties broken by custkey so the bucketing is deterministic in
# both engines), then per-decile stats. The canonical feature-
# engineering shape for "spend decile" model inputs.
# ---------------------------------------------------------------------------
@query(
    "q54_spend_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey AS custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec
      FROM orders GROUP BY 1
    ),
    deciled AS (
      SELECT custkey, spend_dec,
             NTILE(10) OVER (ORDER BY spend_dec, custkey) AS decile
      FROM spend
    )
    SELECT decile,
           COUNT(*) AS n_customers,
           CAST(MIN(spend_dec) AS DOUBLE) AS min_spend,
           CAST(MAX(spend_dec) AS DOUBLE) AS max_spend,
           CAST(SUM(spend_dec) AS DOUBLE) AS total_spend
    FROM deciled
    GROUP BY 1
    ORDER BY 1
    """,
)
def q54_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("spend_dec")
    )
    # post-aggregate cardinality = #customers; the single-task global
    # NTILE window is fine at test scale, and at 100 TB the same
    # bucketing is computed scalably from percentile cutpoints instead
    # (q142_decile_cutpoints below IS that scale path, side by side).
    w = Window.orderBy("spend_dec", "custkey")
    deciled = spend.withColumn("decile", F.ntile(10).over(w))
    return (
        deciled.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("spend_dec").cast("double").alias("min_spend"),
            F.max("spend_dec").cast("double").alias("max_spend"),
            F.sum("spend_dec").cast("double").alias("total_spend"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q142 — HISTOGRAM-CUTPOINT deciles: the 100 TB alternative to q54's
# NTILE that q54's comment has promised since round 3, now a first-
# class registered query so the two bucketings sit side by side.
# NTILE(10) OVER (ORDER BY ...) is an Exchange SinglePartition + global
# sort — a one-task straggler at billions of customers; the scalable
# shape is the histogram-cutpoint bucketing, factored (round-8 verdict
# ask) into operators/quantiles.py::histogram_bucket and shared with
# q132's RFM quintile scores. Deciles are approximate at bin
# granularity — ties within a bin land together, so heavy bins can
# leave neighboring deciles empty; the output reports achieved counts
# per NON-EMPTY decile, which is the honest contract of every
# histogram/t-digest quantile at scale. All arithmetic integer or
# DECIMAL-exact; the driver hash gate holds.
# ---------------------------------------------------------------------------
DECILE_BIN_CENTS = 1_000_000  # $10k spend bins

_Q142_CTES = cutpoint_bucket_sql("binned", "bin", 10, tag="dec", out_col="decile")


@query(
    "q142_decile_cutpoints",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey AS custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec
      FROM orders GROUP BY 1
    ),
    binned AS (
      SELECT custkey, spend_dec,
             CAST(spend_dec * 100 AS BIGINT) // {DECILE_BIN_CENTS} AS bin
      FROM spend
    ),{_Q142_CTES},
    assigned AS (
      SELECT b.custkey, b.spend_dec, m.decile
      FROM binned b JOIN map_dec m ON m.bin = b.bin
    )
    SELECT decile,
           COUNT(*) AS n_customers,
           CAST(MIN(spend_dec) AS DOUBLE) AS min_spend,
           CAST(MAX(spend_dec) AS DOUBLE) AS max_spend,
           CAST(SUM(spend_dec) AS DOUBLE) AS total_spend
    FROM assigned
    GROUP BY 1
    ORDER BY 1
    """,
)
def q142_decile_cutpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("spend_dec")
    )
    binned = spend.withColumn(
        "bin",
        F.expr(f"CAST(spend_dec * 100 AS BIGINT) div {DECILE_BIN_CENTS}"),
    )
    assigned = histogram_bucket(binned, "bin", 10, "decile")
    return (
        assigned.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("spend_dec").cast("double").alias("min_spend"),
            F.max("spend_dec").cast("double").alias("max_spend"),
            F.sum("spend_dec").cast("double").alias("total_spend"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q55 — single-pass dataset profiling: row count, per-column null
# counts, distinct counts, and key ranges for the orders table — the
# data-quality profile every ingestion pipeline computes before
# trusting a source. ONE aggregation job; the reference's pandas
# equivalent (.info()/.describe()) makes a pass per statistic.
# ---------------------------------------------------------------------------
@query(
    "q55_profile",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_custkey) AS null_custkey,
           COUNT(*) - COUNT(o_orderdate) AS null_orderdate,
           COUNT(*) - COUNT(o_totalprice) AS null_totalprice,
           COUNT(DISTINCT o_custkey) AS distinct_custkey,
           COUNT(DISTINCT o_orderstatus) AS distinct_status,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey,
           CAST(MIN(o_orderdate) AS DATE) AS min_orderdate,
           CAST(MAX(o_orderdate) AS DATE) AS max_orderdate
    FROM orders
    """,
)
def q55_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    n = F.count("*")
    return orders.agg(
        n.alias("n_rows"),
        (n - F.count("o_custkey")).alias("null_custkey"),
        (n - F.count("o_orderdate")).alias("null_orderdate"),
        (n - F.count("o_totalprice")).alias("null_totalprice"),
        F.countDistinct("o_custkey").alias("distinct_custkey"),
        F.countDistinct("o_orderstatus").alias("distinct_status"),
        F.min("o_orderkey").cast("long").alias("min_orderkey"),
        F.max("o_orderkey").cast("long").alias("max_orderkey"),
        F.min("o_orderdate").cast("date").alias("min_orderdate"),
        F.max("o_orderdate").cast("date").alias("max_orderdate"),
    )


# ---------------------------------------------------------------------------
# q57 — set operations surfaced as a query: purchasers INTERSECT
# error-reporters, and purchasers EXCEPT error-reporters, summarized as
# counts + id checksums (sum of user ids — exact integer, order-free).
# Spark's intersect/exceptAll compile to the same aggregate/join shapes
# DuckDB's INTERSECT/EXCEPT use.
# ---------------------------------------------------------------------------
@query(
    "q57_set_ops",
    oracle="""
    WITH purchasers AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    erroring AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    ),
    both_sets AS (SELECT user_id FROM purchasers INTERSECT SELECT user_id FROM erroring),
    only_purchase AS (SELECT user_id FROM purchasers EXCEPT SELECT user_id FROM erroring)
    SELECT
      (SELECT COUNT(*) FROM both_sets) AS n_both,
      (SELECT CAST(COALESCE(SUM(user_id), 0) AS BIGINT) FROM both_sets) AS both_id_sum,
      (SELECT COUNT(*) FROM only_purchase) AS n_only_purchase,
      (SELECT CAST(COALESCE(SUM(user_id), 0) AS BIGINT) FROM only_purchase) AS only_id_sum
    """,
)
def q57_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchasers = events.where(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = events.where(F.col("event_type") == "error").select("user_id").distinct()
    both_sets = purchasers.intersect(erroring)
    # subtract == set EXCEPT (the oracle's declared semantics);
    # exceptAll would silently become multiset difference if the
    # inputs ever stopped being pre-distinct
    only_purchase = purchasers.subtract(erroring)
    b = both_sets.agg(
        F.count("*").alias("n_both"),
        F.coalesce(F.sum("user_id"), F.lit(0)).alias("both_id_sum"),
    )
    o = only_purchase.agg(
        F.count("*").alias("n_only_purchase"),
        F.coalesce(F.sum("user_id"), F.lit(0)).alias("only_id_sum"),
    )
    return b.crossJoin(o)  # two 1-row aggregates


# ---------------------------------------------------------------------------
# q58 — correlated-aggregate pattern: customers whose account balance
# beats their nation's average. SQL writes it as a correlated subquery;
# the scalable Spark plan computes per-nation averages once and joins
# back (broadcast — #nations rows), which is also what a decorrelating
# optimizer produces.
# ---------------------------------------------------------------------------
@query(
    "q58_above_nation_avg",
    oracle="""
    WITH avgs AS (
      -- SUM/COUNT instead of AVG: both engines then compute the same
      -- exact decimal sum and ONE IEEE division (AVG's internal
      -- rounding differs between Spark and DuckDB near the last ulp).
      SELECT c_nationkey,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS nation_avg
      FROM customer GROUP BY 1
    )
    SELECT n.n_name AS nation,
           COUNT(*) AS n_above_avg,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS above_sum
    FROM customer c
    JOIN avgs a ON a.c_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE CAST(c.c_acctbal AS DOUBLE) > a.nation_avg
    GROUP BY 1
    ORDER BY 1
    """,
)
def q58_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    avgs = customer.groupBy("c_nationkey").agg(
        (dsum("c_acctbal") / F.count("*")).alias(
            "nation_avg"
        )
    )
    above = (
        customer.join(F.broadcast(avgs), "c_nationkey")
        .where(F.col("c_acctbal").cast("double") > F.col("nation_avg"))
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    return (
        above.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_above_avg"),
            dsum("c_acctbal").alias("above_sum"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# q64 — four-table star join: region -> nation -> customer -> orders,
# revenue rolled up by region and nation. All three dimension legs
# broadcast (region/nation are tiny, customer is dim-sized); the fact
# never shuffles. The canonical multi-join rollup every warehouse runs.
# ---------------------------------------------------------------------------
@query(
    "q64_revenue_by_nation",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q64_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_revenue"),
        )
        .orderBy("region", "nation")
    )


# ---------------------------------------------------------------------------
# q65 — shipping-priority top-k (TPC-H Q3 shape): the one join class the
# rest of the surface doesn't exercise — FACT ⋈ FACT (orders ⋈ lineitem
# on orderkey), which shuffles both sides at scale (sort-merge/shuffled
# hash; AQE picks). Date + segment predicates push into both scans
# before the join; top-10 plans as TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@query(
    "q65_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           o.o_orderdate,
           o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q65_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = "1997-01-01"
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < cutoff
    )
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > cutoff
    )
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
    )
    rev = F.sum(
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
    ).cast("double")
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q66 — full pricing summary (TPC-H Q1 shape): the canonical "wide
# aggregate over the biggest fact" — 8 measures over lineitem in ONE
# hash-aggregate pass with map-side partial aggregation; output
# cardinality is tiny (|returnflag| x |linestatus|). Decimal discipline:
# every product is cast to a width that can never round (qty/price/
# disc/tax are bounded), so both engines sum exact rationals and the
# final doubles agree bit-for-bit.
# ---------------------------------------------------------------------------
@query(
    "q66_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)))
                AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))
                         * (1 + CAST(l_tax AS DECIMAL(4,2))) AS DECIMAL(24,6)))
                AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q66_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    ep = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = (ep * (F.lit(1) - disc)).cast("decimal(18,4)")
    charge = (disc_price * (F.lit(1) + tax)).cast("decimal(24,6)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(ep).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
        (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# q71 — fuzzy name matching with blocking: the classic entity-resolution
# shape. Comparing every part name to every other is O(n^2); blocking on
# (p_brand, p_size) bounds each comparison group, then exact Levenshtein
# runs only within blocks and a per-block window keeps the single best
# pair. At 100 TB this is the standard record-linkage plan: the blocking
# key is the shuffle key, cost is sum(block^2), never corpus^2 — the
# same Σ-bucket² argument as LSH candidate pairs, with the same knob:
# fixed-cardinality keys mean blocks grow with the corpus, so a growing
# catalog widens the key (add a name-prefix component) exactly as LSH
# raises n_planes. The best-pair rank filter plans as WindowGroupLimit
# (partial top-1 per partition before the shuffle). Levenshtein is exact
# integer DP in both engines, so the oracle matches bit-for-bit.
# ---------------------------------------------------------------------------
@query(
    "q71_fuzzy_part_match",
    oracle="""
    WITH pairs AS (
      SELECT a.p_brand, a.p_size,
             a.p_partkey AS id_a, b.p_partkey AS id_b,
             levenshtein(a.p_name, b.p_name) AS name_dist
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY p_brand, p_size
               ORDER BY name_dist, id_a, id_b
             ) AS rn
      FROM pairs
    )
    SELECT p_brand, p_size, id_a, id_b, name_dist
    FROM ranked WHERE rn = 1
    """,
)
def q71_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_name"
    )
    a = p.select(
        "p_brand", "p_size", F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a")
    )
    b = p.select(
        "p_brand", "p_size", F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b")
    )
    pairs = (
        a.join(b, ["p_brand", "p_size"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "p_brand",
            "p_size",
            "id_a",
            "id_b",
            F.levenshtein("name_a", "name_b").alias("name_dist"),
        )
    )
    w = Window.partitionBy("p_brand", "p_size").orderBy("name_dist", "id_a", "id_b")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# q75 — EXISTS semi-join (TPC-H Q4 shape): orders with at least one
# late-shipping lineitem, counted by priority. Catalyst plans the
# EXISTS as a LeftSemi hash join — each order emits at most once no
# matter how many lineitems match, so the join never multiplies rows
# (the property that distinguishes semi from inner at 100 TB: the
# build side dedups by key instead of exploding).
# ---------------------------------------------------------------------------
@query(
    "q75_late_orders_semi",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_late_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY 1
    """,
)
def q75_late_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        lineitem,
        (orders.o_orderkey == lineitem.l_orderkey)
        & (lineitem.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_late_orders"))


# ---------------------------------------------------------------------------
# q76 — rank-distribution windows: percent_rank + cume_dist of customer
# spend within nation (the window classes the suite hadn't exercised;
# q54's ntile is the bucketed cousin). One shuffle on nation; ties get
# identical ranks in both engines by definition of the functions, and
# the DECIMAL spend makes the ordering key exact, so no tie ambiguity.
# Scale note: full rank distributions need the whole partition ordered
# (one task per nation) — that is inherent to the semantics, and the
# window input here is the POST-aggregate spend table (one row per
# customer), orders of magnitude smaller than the fact. Corpora whose
# per-stratum row counts overwhelm a task use approx percentiles (q49)
# or ntile buckets (q54) instead.
# ---------------------------------------------------------------------------
@query(
    "q76_spend_percentiles",
    oracle="""
    WITH spend AS (
      SELECT c.c_nationkey, c.c_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT c_nationkey, c_custkey, total_spend,
           PERCENT_RANK() OVER (PARTITION BY c_nationkey ORDER BY total_spend)
             AS spend_pct_rank,
           CUME_DIST() OVER (PARTITION BY c_nationkey ORDER BY total_spend)
             AS spend_cume_dist
    FROM spend
    """,
)
def q76_spend_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(dsum("o_totalprice").alias("total_spend"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("total_spend")
    return spend.select(
        "c_nationkey",
        "c_custkey",
        "total_spend",
        F.percent_rank().over(w).alias("spend_pct_rank"),
        F.cume_dist().over(w).alias("spend_cume_dist"),
    )


# ---------------------------------------------------------------------------
# q82 — cross-nation trade volume (TPC-H Q7 shape). Exercises the one
# join pattern the surface didn't yet: the SAME dimension joined TWICE
# in different roles (nation as supplier-nation and customer-nation).
# Both roles broadcast; the only all-rows shuffle is the
# lineitem ⋈ orders fact-fact join plus the final group-by — exactly
# the floor any engine pays for this query at 100 TB.
# ---------------------------------------------------------------------------
@query(
    "q82_volume_shipping",
    oracle="""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate) AS ship_year,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    WHERE ns.n_nationkey <> nc.n_nationkey
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q82_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .where(F.col("ns_key") != F.col("nc_key"))
    )
    rev = F.sum(
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
    ).cast("double")
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("ship_year")
        )
        .agg(F.count("*").alias("n_lineitems"), rev.alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


# ---------------------------------------------------------------------------
# q83 — returned-items revenue at risk, top customers (TPC-H Q10
# shape): selective fact filter (returnflag = 'R') pushed to the scan,
# fact-fact join, then a top-k that plans as TakeOrderedAndProject —
# never a full sort of the aggregate at scale.
# ---------------------------------------------------------------------------
@query(
    "q83_returned_top_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           COUNT(*) AS n_return_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS lost_revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY lost_revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q83_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    rev = F.sum(
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
    ).cast("double")
    return (
        joined.groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_return_items"), rev.alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q84 — local-supplier volume (TPC-H Q5 shape): the co-location
# residual (supplier and customer in the SAME nation) rides on the
# supplier equi-join, so it filters during the join rather than after;
# region/nation roll up via broadcast.
# ---------------------------------------------------------------------------
@query(
    "q84_local_supplier_volume",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS local_revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q84_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (supplier.s_nationkey == customer.c_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    rev = F.sum(
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
    ).cast("double")
    return (
        joined.groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_lineitems"), rev.alias("local_revenue"))
        .orderBy("region", "nation")
    )


# ---------------------------------------------------------------------------
# q86 — promo revenue share by month (TPC-H Q14 shape): conditional
# aggregation over a fact ⋈ part join. The part dim broadcasts; promo
# and total revenue come out of ONE grouped pass (two conditional
# decimal sums), and the share is a single double division — never a
# second scan or a self-join.
# ---------------------------------------------------------------------------
@query(
    "q86_promo_share",
    oracle="""
    SELECT EXTRACT(year FROM l.l_shipdate) AS ship_year,
           EXTRACT(month FROM l.l_shipdate) AS ship_month,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(12,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS total_revenue,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(12,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / NULLIF(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE), 0)
             * 100 AS promo_share_pct
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q86_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_expr = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)")
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", rev_expr).otherwise(F.lit(0).cast(DEC))
    ).cast("double")
    total = F.sum(rev_expr).cast("double")
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .groupBy(
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
            F.month("l_shipdate").cast("bigint").alias("ship_month"),
        )
        .agg(
            promo.alias("promo_revenue"),
            total.alias("total_revenue"),
            (promo / F.nullif(total, F.lit(0)) * 100).alias("promo_share_pct"),
        )
        .orderBy("ship_year", "ship_month")
    )


# ---------------------------------------------------------------------------
# q87 — supplier-nation market share per customer region and year
# (TPC-H Q8 shape, generalized to all nations): multi-role dim joins
# (customer side resolves region, supplier side resolves nation), one
# grouped pass, then an unpartitioned-within-(region, year) window sum
# turns absolute revenue into share-of-market — the aggregate is tiny
# (regions x years x nations), so the window never touches fact rows.
# ---------------------------------------------------------------------------
@query(
    "q87_market_share",
    oracle="""
    WITH flows AS (
      SELECT r.r_name AS market_region,
             EXTRACT(year FROM l.l_shipdate) AS ship_year,
             ns.n_name AS supp_nation,
             -- stay DECIMAL through the window sum: double summation
             -- order differs between engines (last-ulp drift)
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS dec_rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = nc.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      GROUP BY 1, 2, 3
    )
    SELECT market_region, ship_year, supp_nation,
           CAST(dec_rev AS DOUBLE) AS nation_revenue,
           CAST(dec_rev AS DOUBLE)
             / NULLIF(CAST(SUM(dec_rev)
                 OVER (PARTITION BY market_region, ship_year) AS DOUBLE), 0)
             * 100 AS market_share_pct
    FROM flows
    ORDER BY 1, 2, 3
    """,
)
def q87_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    # stay DECIMAL through BOTH the grouped sum and the window sum —
    # double summation order differs between engines (last-ulp drift);
    # cast to double only for the final division
    dec_rev = F.sum(
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
    )
    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(region), F.col("nc_region") == region.r_regionkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .groupBy(
            F.col("r_name").alias("market_region"),
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
            "supp_nation",
        )
        .agg(dec_rev.alias("dec_rev"))
    )
    w = Window.partitionBy("market_region", "ship_year")
    return flows.select(
        "market_region",
        "ship_year",
        "supp_nation",
        F.col("dec_rev").cast("double").alias("nation_revenue"),
        (
            F.col("dec_rev").cast("double")
            / F.nullif(F.sum("dec_rev").over(w).cast("double"), F.lit(0))
            * 100
        ).alias("market_share_pct"),
    ).orderBy("market_region", "ship_year", "supp_nation")


# ---------------------------------------------------------------------------
# q127 — GOLDEN RECORD survivorship merge (MDM): fuse conflicting
# multi-source records of one entity into a single best record, per
# attribute. q71 finds which records ARE the same entity (blocking +
# fuzzy match); this is the step after: per attribute take the value
# from the most recent record that HAS one, tie-broken by source
# priority — the standard "most recent non-null wins" survivorship
# rule. Reference analogue: the dim_customer build keeps one arbitrary
# row per customer (etl/transform.py first()-style aggregation); a
# golden record keeps the freshest value PER FIELD.
#
# Records are synthesized deterministically from customer (three
# source variants with disjoint null patterns and conflicting
# casings), so both engines see the identical fusion problem. The
# survivorship aggregate is arg_max/max_by over a packed
# (ts, priority) BIGINT key with FILTER (WHERE attr IS NOT NULL) —
# one grouped pass, map-side combinable, no windows, no self-joins;
# at 100 TB this is a single shuffle on the entity key. The packed
# keys are UNIQUE per entity by construction (sources get distinct
# priorities) — survivorship requires a total order or arg_max ties
# break engine-arbitrarily.
# ---------------------------------------------------------------------------
@query(
    "q127_golden_record",
    oracle="""
    WITH records AS (
      SELECT c_custkey, 'legacy' AS src, 1 AS ts, 1 AS prio,
             upper(c_name) AS name,
             CAST(c_acctbal AS DOUBLE) AS balance,
             c_mktsegment AS segment
      FROM customer
      UNION ALL
      SELECT c_custkey, 'crm', 2, 2,
             c_name,
             NULL,
             CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_mktsegment END
      FROM customer
      UNION ALL
      SELECT c_custkey, 'web', CASE WHEN c_custkey % 3 = 0 THEN 3 ELSE 1 END, 0,
             NULL, CAST(c_acctbal AS DOUBLE) + 10.0, NULL
      FROM customer
    ),
    keyed AS (SELECT *, CAST(ts * 10 + prio AS BIGINT) AS k FROM records)
    SELECT c_custkey,
           arg_max(name, k) FILTER (WHERE name IS NOT NULL) AS golden_name,
           arg_max(balance, k) FILTER (WHERE balance IS NOT NULL)
             AS golden_balance,
           arg_max(segment, k) FILTER (WHERE segment IS NOT NULL)
             AS golden_segment,
           COUNT(*) AS n_records,
           COUNT(DISTINCT name) AS n_name_variants
    FROM keyed
    GROUP BY 1
    ORDER BY 1
    """,
)
def q127_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    legacy = c.select(
        "c_custkey",
        F.lit("legacy").alias("src"), F.lit(1).alias("ts"), F.lit(1).alias("prio"),
        F.upper("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("balance"),
        F.col("c_mktsegment").alias("segment"),
    )
    crm = c.select(
        "c_custkey",
        F.lit("crm").alias("src"), F.lit(2).alias("ts"), F.lit(2).alias("prio"),
        F.col("c_name").alias("name"),
        F.lit(None).cast("double").alias("balance"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    web = c.select(
        "c_custkey",
        F.lit("web").alias("src"),
        F.when(F.col("c_custkey") % 3 == 0, 3).otherwise(1).alias("ts"),
        F.lit(0).alias("prio"),
        F.lit(None).cast("string").alias("name"),
        (F.col("c_acctbal").cast("double") + F.lit(10.0)).alias("balance"),
        F.lit(None).cast("string").alias("segment"),
    )
    keyed = (
        legacy.unionByName(crm)
        .unionByName(web)
        .withColumn("k", (F.col("ts") * 10 + F.col("prio")).cast("bigint"))
    )
    return (
        keyed.groupBy("c_custkey")
        .agg(
            F.expr("max_by(name, k) FILTER (WHERE name IS NOT NULL)").alias("golden_name"),
            F.expr("max_by(balance, k) FILTER (WHERE balance IS NOT NULL)").alias("golden_balance"),
            F.expr("max_by(segment, k) FILTER (WHERE segment IS NOT NULL)").alias("golden_segment"),
            F.count("*").alias("n_records"),
            F.countDistinct("name").alias("n_name_variants"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q130 — A/B experiment readout (two-proportion z-test). The classic
# product-analytics statistic the dashboards' KPI counts stop short
# of: split users into variants (deterministic user_id % 2 here —
# exactly how a hash-bucketed experiment assigns), measure conversion
# (>= 1 purchase event), and compute the pooled two-proportion z.
# Float determinism: +, -, *, / and sqrt() are all IEEE-exactly-
# rounded in both engines, so writing the IDENTICAL expression tree on
# both sides yields bit-equal z — no tolerance needed; the only
# operations avoided are the non-correctly-rounded transcendentals
# (no p-value erf(); the |z| > 1.96 cutoff is the integer verdict).
# One grouped pass over events; output is a single row.
# ---------------------------------------------------------------------------
@query(
    "q130_ab_test",
    oracle="""
    WITH ranked AS (
      SELECT user_id, user_id % 2 AS variant, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    per_user AS (
      SELECT user_id, variant,
             MAX(CASE WHEN rn = 1 AND event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS conv
      FROM ranked GROUP BY 1, 2
    ),
    v AS (
      SELECT variant, COUNT(*) AS n_users,
             CAST(SUM(conv) AS BIGINT) AS n_conv
      FROM per_user GROUP BY 1
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n_users END) AS n0,
        MAX(CASE WHEN variant = 0 THEN n_conv END) AS c0,
        MAX(CASE WHEN variant = 1 THEN n_users END) AS n1,
        MAX(CASE WHEN variant = 1 THEN n_conv END) AS c1
      FROM v
    )
    SELECT n0, c0, n1, c1,
           CAST(c0 AS DOUBLE) / n0 AS rate0,
           CAST(c1 AS DOUBLE) / n1 AS rate1,
           (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
             / NULLIF(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 0.0) AS z_stat,
           CAST(COALESCE(abs((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
             / NULLIF(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 0.0)) > 1.96, FALSE)
             AS BIGINT) AS significant_95
    FROM wide
    """,
)
def q130_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # conversion = the user's FIRST event (by ts, event_id) is a
    # purchase: a scale-invariant definition whose rate sits strictly
    # inside (0, 1) on any generation, so the pooled variance cannot
    # degenerate to zero (guarded by NULLIF both sides regardless)
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = events.select(
        "user_id",
        (F.col("user_id") % 2).alias("variant"),
        "event_type",
        F.row_number().over(order).alias("rn"),
    )
    per_user = ranked.groupBy("user_id", "variant").agg(
        F.max(
            F.when((F.col("rn") == 1) & (F.col("event_type") == "purchase"), 1)
            .otherwise(0)
        ).alias("conv")
    )
    v = per_user.groupBy("variant").agg(
        F.count("*").alias("n_users"), F.sum("conv").cast("bigint").alias("n_conv")
    )
    wide = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_conv"))).alias("c1"),
    )
    # IDENTICAL expression tree as the oracle (IEEE-exact ops only)
    r0 = F.col("c0").cast("double") / F.col("n0")
    r1 = F.col("c1").cast("double") / F.col("n1")
    pooled = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    se = F.sqrt(
        pooled * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    z = (r0 - r1) / F.nullif(se, F.lit(0.0))
    return wide.select(
        "n0", "c0", "n1", "c1",
        r0.alias("rate0"),
        r1.alias("rate1"),
        z.alias("z_stat"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).cast("bigint").alias(
            "significant_95"
        ),
    )


# ---------------------------------------------------------------------------
# q131 — MARKET BASKET: co-purchase pair support + lift, the staple
# retail association analysis missing from the reference's dashboards.
# Pairs form WITHIN an order only (self-join on l_orderkey with
# part_a < part_b), so cost is Σ basket_size² — bounded by the max
# basket (7 lines in TPC-H-shaped data), i.e. linear in orders, never
# corpus-quadratic; the pair groupBy is the one real shuffle. lift =
# P(a,b) / (P(a)·P(b)) computed as one float expression from exact
# integer counts — identical trees both engines, no float summation.
# Top-k by (support, pair) keeps the output deterministic under ties.
# ---------------------------------------------------------------------------
BASKET_TOPK = 50


@query(
    "q131_market_basket",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
    item_cnt AS (SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS pair_cnt
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b, p.pair_cnt,
           ca.cnt AS cnt_a, cb.cnt AS cnt_b,
           CAST(p.pair_cnt * n.n_orders AS DOUBLE) / (ca.cnt * cb.cnt)
             AS lift
    FROM pairs p
    JOIN item_cnt ca ON ca.l_partkey = p.part_a
    JOIN item_cnt cb ON cb.l_partkey = p.part_b
    CROSS JOIN n
    ORDER BY p.pair_cnt DESC, p.part_a, p.part_b
    LIMIT {BASKET_TOPK}
    """,
)
def q131_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # r13 restructure (guide §2.3/§2.4): ONE shuffle on the order key
    # builds the per-order distinct basket as a sorted array; the
    # within-order pair enumeration (part_a < part_b, exactly the old
    # self-join's output) then runs per-row with array functions and a
    # map-side explode. Replaces the (orderkey, partkey) distinct
    # shuffle + the orderkey self-join shuffle — and basket sizes are
    # bounded (few items per order), so per-row pair fan-out is tiny
    # at any corpus size. Materialized once: three consumers (order
    # count, per-part counts, pair counts).
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint(eager=True)
    )
    n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    item_cnt = baskets.select(
        F.explode("parts").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    pair_structs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("parts"), i + F.lit(2), F.size("parts")
                ),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("_p"))
        .select("_p.part_a", "_p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_cnt"))
    )
    ca = item_cnt.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    cb = item_cnt.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    lift = (F.col("pair_cnt") * F.col("n_orders")).cast("double") / (
        F.col("cnt_a") * F.col("cnt_b")
    )
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n))
        .select("part_a", "part_b", "pair_cnt", "cnt_a", "cnt_b", lift.alias("lift"))
        .orderBy(F.desc("pair_cnt"), "part_a", "part_b")
        .limit(BASKET_TOPK)
    )


# ---------------------------------------------------------------------------
# q132 — RFM segmentation: recency / frequency / monetary quintiles
# per customer, the canonical CRM scoring the reference's one-axis
# segment binning (D7, q03) stops short of. Round 8 (verdict ask #4):
# the three scores now use the histogram-cutpoint bucketing shared
# with q142 (operators/quantiles.py::histogram_bucket) instead of
# three unpartitioned NTILE windows — at ~10^9 customers NTILE is a
# single-task full sort ×3, while here every per-customer-scale
# operation is a partial-aggregated groupBy and the only windows run
# over the tiny bin histograms (recency: day bins; frequency: order
# count itself; monetary: $10k spend bins). q54 keeps NTILE as the
# exact-small-data demonstration of the operator. Quintiles are
# approximate at bin granularity (ties in one bin land together) —
# the honest scale contract, identical on both engines.
# ---------------------------------------------------------------------------
_RFM_CTES = [
    cutpoint_bucket_sql("per_cust", bin_col, 5, tag=tag, out_col=f"{tag}_score")
    for bin_col, tag in (("r_bin", "r"), ("f_bin", "f"), ("m_bin", "m"))
]


@query(
    "q132_rfm_segments",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend,
             CAST(date_diff('day', DATE '1970-01-01', MAX(o_orderdate))
                  AS BIGINT) AS r_bin,
             CAST(COUNT(*) AS BIGINT) AS f_bin,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               // {DECILE_BIN_CENTS} AS m_bin
      FROM orders GROUP BY 1
    ),{",".join(_RFM_CTES)},
    scored AS (
      SELECT p.o_custkey, p.spend, r.r_score, f.f_score, m.m_score
      FROM per_cust p
      JOIN map_r r ON r.bin = p.r_bin
      JOIN map_f f ON f.bin = p.f_bin
      JOIN map_m m ON m.bin = p.m_bin
    )
    SELECT r_score || '-' || f_score || '-' || m_score AS rfm_segment,
           COUNT(*) AS n_customers,
           CAST(SUM(spend) AS DOUBLE) AS total_spend
    FROM scored
    GROUP BY 1
    ORDER BY 1
    """,
)
def q132_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
        F.datediff(F.max("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("r_bin"),
        F.count("*").cast("bigint").alias("f_bin"),
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) "
            f"div {DECILE_BIN_CENTS}"
        ).alias("m_bin"),
    )
    # three tiny bin->quintile maps off the SAME per_cust aggregate,
    # assigned via broadcast hash joins — never a window or sort over
    # the per-customer table. materialize ONCE (r13 s3, guide §2.4):
    # exchange reuse does NOT deduplicate the four per_cust subtrees —
    # column pruning narrows each map's aggregate to its own bin column,
    # so the exchanges canonicalize differently and the executed plan
    # ran the orders scan + per-customer aggregation 4x (0 ReusedExchange
    # observed). One localCheckpoint = one fact scan, one aggregation;
    # the three bin maps read the ~|customers|-row block instead.
    per_cust = per_cust.localCheckpoint()
    scored = per_cust
    for bin_col, out_col in (
        ("r_bin", "r_score"),
        ("f_bin", "f_score"),
        ("m_bin", "m_score"),
    ):
        scored = scored.join(
            F.broadcast(histogram_bucket_map(per_cust, bin_col, 5, out_col)),
            bin_col,
        )
    seg = F.concat_ws("-", "r_score", "f_score", "m_score")
    return (
        scored.groupBy(seg.alias("rfm_segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("spend").cast("double").alias("total_spend"),
        )
        .orderBy("rfm_segment")
    )


# ---------------------------------------------------------------------------
# q133 — deterministic PSEUDONYMIZATION with referential integrity:
# the structured-data complement of q70's free-text PII scrub. A
# PII-safe dev/analytics copy replaces every natural key and name with
# a keyed-hash pseudonym (md5(salt || value)) — deterministic, so the
# SAME input maps to the SAME pseudonym in every table and foreign-key
# joins still work, but the original values are not derivable without
# the salt. The query masks customer keys/names in BOTH customer and
# orders, re-joins ON THE PSEUDONYMS, and emits per-segment
# cardinalities that must exactly match the unmasked join — the
# referential-integrity proof — plus a structural no-leak check (no
# pseudonym equals its source key's rendering). Pure projections + the
# same join the unmasked pipeline runs: zero added shuffles at 100 TB.
# ---------------------------------------------------------------------------
PSEUDO_SALT = "pseudo-v1:"


@query(
    "q133_pseudonymize",
    oracle=f"""
    WITH cust_m AS (
      SELECT md5('{PSEUDO_SALT}' || CAST(c_custkey AS VARCHAR)) AS pseudo_key,
             md5('{PSEUDO_SALT}' || c_name) AS pseudo_name,
             c_mktsegment,
             CAST(c_custkey AS VARCHAR) AS orig_key
      FROM customer
    ),
    ord_m AS (
      SELECT md5('{PSEUDO_SALT}' || CAST(o_custkey AS VARCHAR)) AS pseudo_key
      FROM orders
    ),
    joined AS (
      SELECT c.c_mktsegment, c.pseudo_key, c.pseudo_name, c.orig_key
      FROM cust_m c JOIN ord_m o ON o.pseudo_key = c.pseudo_key
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT pseudo_key) AS n_customers,
           COUNT(DISTINCT pseudo_name) AS n_names,
           CAST(SUM(CASE WHEN pseudo_key = orig_key THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaks
    FROM joined
    GROUP BY 1
    ORDER BY 1
    """,
)
def q133_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    def pseudo(col):
        return F.md5(F.concat(F.lit(PSEUDO_SALT), col))

    cust = load_table(spark, sf_dir, "customer").select(
        pseudo(F.col("c_custkey").cast("string")).alias("pseudo_key"),
        pseudo(F.col("c_name")).alias("pseudo_name"),
        "c_mktsegment",
        F.col("c_custkey").cast("string").alias("orig_key"),
    )
    ords = load_table(spark, sf_dir, "orders").select(
        pseudo(F.col("o_custkey").cast("string")).alias("pseudo_key")
    )
    joined = ords.join(cust, "pseudo_key")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("pseudo_key").alias("n_customers"),
            F.countDistinct("pseudo_name").alias("n_names"),
            F.sum(
                F.when(F.col("pseudo_key") == F.col("orig_key"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_leaks"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q172 — k-anonymity audit (Sweeney 2002): group sizes over the
# quasi-identifier tuple (mktsegment, nationkey, acctbal band). A
# released dataset is k-anonymous iff every quasi-identifier class
# holds >= k individuals; classes below k re-identify their members.
# Completes the privacy family next to q70's PII scrub and q133's
# pseudonymization: scrub removes direct identifiers, this audits the
# INDIRECT ones a "safe" projection still leaks. Output per class:
# size, meets_k flag, and the class's share of the population in ppm
# — plus the audit summary a release gate reads (n_at_risk).
#
# Scale shape: one hash aggregate at the quasi-identifier grain (the
# class table is bounded by the attribute domain product, never by
# row count) + a 1-row population scalar. acctbal banding is
# FLOOR(x/1000) on identical doubles — IEEE-deterministic across
# engines. (Spark DIV and DuckDB // both truncate toward zero —
# verified, e.g. -7 // 2 = -3 in both — so negative integer division
# is parity-safe; the ppm math here is non-negative regardless.)
# ---------------------------------------------------------------------------
K_ANONYMITY = 15


@query(
    "q172_k_anonymity",
    oracle=f"""
    WITH q AS (
      SELECT c_mktsegment,
             c_nationkey,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band
      FROM customer
    ),
    cls AS (
      SELECT c_mktsegment, c_nationkey, acctbal_band,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM q GROUP BY 1, 2, 3
    ),
    pop AS (SELECT CAST(SUM(class_size) AS BIGINT) AS n_pop FROM cls)
    SELECT c_mktsegment, c_nationkey, acctbal_band, class_size,
           CAST(CASE WHEN class_size >= {K_ANONYMITY} THEN 1 ELSE 0 END
                AS BIGINT) AS meets_k,
           CAST(class_size * 1000000 // pop.n_pop AS BIGINT) AS share_ppm
    FROM cls CROSS JOIN pop
    ORDER BY c_mktsegment, c_nationkey, acctbal_band
    """,
)
def q172_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    cls = (
        customer.select(
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias(
                "acctbal_band"
            ),
        )
        .groupBy("c_mktsegment", "c_nationkey", "acctbal_band")
        .agg(F.count("*").cast("bigint").alias("class_size"))
    )
    pop = cls.agg(F.sum("class_size").cast("bigint").alias("n_pop"))
    return (
        cls.crossJoin(F.broadcast(pop))
        .select(
            "c_mktsegment",
            "c_nationkey",
            "acctbal_band",
            "class_size",
            F.when(F.col("class_size") >= K_ANONYMITY, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("meets_k"),
            F.expr("class_size * 1000000 DIV n_pop").alias("share_ppm"),
        )
        .orderBy("c_mktsegment", "c_nationkey", "acctbal_band")
    )


# ---------------------------------------------------------------------------
# q176 — feature correlation matrix at the monthly-mart grain: Pearson
# correlation between every pair of monthly KPIs (revenue, quantity,
# line items, distinct orders). The feature-redundancy screen a
# modeling pipeline runs before training on mart features.
#
# Exactness: raw doubles are never float-summed. Monthly values are
# exact integers (DECIMAL(18,2) sums floored to BIGINT; revenue in
# kilodollars so every moment product stays far inside int64 at 100x
# this scale); all five moments are exact BIGINT sums; corr is then a
# few IEEE ops on identical integers — bit-identical across engines.
# The variance product is multiplied in DOUBLE (it can exceed int64;
# the FACTORS cannot).
#
# Scale shape: one hash agg to the month grain (map-side partials),
# then melt + pair self-join + corr all on the |months| x 4 table.
# ---------------------------------------------------------------------------
_Q176_MELT = """stack(4,
    'n_items',  n_items,
    'n_orders', n_orders,
    'qty',      qty,
    'rev_k',    rev_k
) AS (metric, v)"""


@query(
    "q176_feature_corr",
    oracle="""
    WITH m AS (
      SELECT CAST(EXTRACT(year FROM l_shipdate) * 100
                  + EXTRACT(month FROM l_shipdate) AS BIGINT) AS mk,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2))))
                  AS BIGINT) // 1000 AS rev_k,
             CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,2))))
                  AS BIGINT) AS qty,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM lineitem GROUP BY 1
    ),
    melt AS (
      SELECT mk, 'rev_k' AS metric, rev_k AS v FROM m
      UNION ALL SELECT mk, 'qty', qty FROM m
      UNION ALL SELECT mk, 'n_items', n_items FROM m
      UNION ALL SELECT mk, 'n_orders', n_orders FROM m
    ),
    moments AS (
      SELECT a.metric AS metric_a, b.metric AS metric_b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a.v) AS BIGINT) AS sx,
             CAST(SUM(b.v) AS BIGINT) AS sy,
             CAST(SUM(a.v * b.v) AS BIGINT) AS sxy,
             CAST(SUM(a.v * a.v) AS BIGINT) AS sxx,
             CAST(SUM(b.v * b.v) AS BIGINT) AS syy
      FROM melt a JOIN melt b ON a.mk = b.mk AND a.metric < b.metric
      GROUP BY 1, 2
    )
    SELECT metric_a, metric_b, n AS n_months,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) AS corr
    FROM moments
    ORDER BY metric_a, metric_b
    """,
)
def q176_feature_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    m = (
        lineitem.groupBy(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("mk")
        )
        .agg(
            F.expr(
                "CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))) "
                "AS BIGINT) DIV 1000"
            ).alias("rev_k"),
            F.floor(F.sum(F.col("l_quantity").cast("decimal(18,2)")))
            .cast("bigint")
            .alias("qty"),
            F.count("*").cast("bigint").alias("n_items"),
            F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
        )
    )
    # melt feeds BOTH self-join sides; left lazy the whole lineitem
    # scan + monthly aggregation re-plans per side (r13 capture: 2
    # parquet scans, 6 Exchanges). One eager localCheckpoint of the
    # ~|months| x 4-row melt runs the corpus aggregation once; the
    # self-join then happens over a few hundred checkpointed rows
    # (guide §2.4).
    melt = m.selectExpr("mk", _Q176_MELT).localCheckpoint(eager=True)
    a = melt.select("mk", F.col("metric").alias("metric_a"), F.col("v").alias("va"))
    b = melt.select("mk", F.col("metric").alias("metric_b"), F.col("v").alias("vb"))
    moments = (
        a.join(b, "mk")
        .where(F.col("metric_a") < F.col("metric_b"))
        .groupBy("metric_a", "metric_b")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("va").cast("bigint").alias("sx"),
            F.sum("vb").cast("bigint").alias("sy"),
            F.sum(F.col("va") * F.col("vb")).cast("bigint").alias("sxy"),
            F.sum(F.col("va") * F.col("va")).cast("bigint").alias("sxx"),
            F.sum(F.col("vb") * F.col("vb")).cast("bigint").alias("syy"),
        )
    )
    return moments.select(
        "metric_a",
        "metric_b",
        F.col("n").alias("n_months"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            )
        ).alias("corr"),
    ).orderBy("metric_a", "metric_b")
