"""The retail warehouse build: clean -> conform -> star schema -> marts.

Re-expresses /root/reference/etl/transform.py (572 LoC of eager pandas)
as a lazy Catalyst dataflow. Each function returns an unevaluated
DataFrame; the driver (pipeline.py) triggers execution at write time.

Determinism: every surrogate key is ``row_number() OVER (ORDER BY
business_key)`` — dense, stable across runs and partitionings — instead
of the reference's insertion-order ``range(1, n+1)``
(etl/transform.py:192,264,303-305,379; SURVEY §7.4.4). ``run_ts`` is an
explicit parameter everywhere the reference stamps ``datetime.utcnow()``
so rebuilds are reproducible.

Scale notes: dimension builds aggregate/deduplicate on the business key
(one shuffle each); the fact build broadcasts every dim (dims are tiny
relative to the fact at any scale where this schema makes sense); the
fact output should be written partitioned by date_key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cleansing, derived
from ..operators.scd2 import scd2_initial
from .registry import DEC, dsum


# ---------------------------------------------------------------------------
# Cleaning (etl/transform.py:30-127; P1-P9, D1)
# ---------------------------------------------------------------------------
def clean_retail_sales(raw: DataFrame) -> DataFrame:
    """Mirror of clean_retail_sales (etl/transform.py:30-95).

    total_amount is recomputed unconditionally: the reference overwrites
    it for every row whenever ANY row mismatches (etl/transform.py:58-74)
    and the two branches agree when no row mismatches, so recompute-always
    is semantics-preserving and null-safe (SURVEY §7.4.6).
    """
    df = cleansing.normalize_column_names(raw)
    df = df.withColumn("date", F.try_to_timestamp("date"))  # P2: null on error
    df = df.filter(F.col("date").isNotNull())  # P3
    df = (
        df.withColumn("quantity", F.col("quantity").cast("long"))
        .withColumn("price_per_unit", F.col("price_per_unit").cast("double"))
        .withColumn("total_amount", F.col("total_amount").cast("double"))
    )
    df = df.filter(F.col("quantity") > 0)  # P4
    df = df.withColumn("total_amount", F.col("quantity") * F.col("price_per_unit"))  # P5
    df = df.withColumn("gender", cleansing.std_text("gender"))  # P6
    df = df.withColumn("product_category", cleansing.std_text("product_category"))
    df = df.withColumn("age", cleansing.clip("age", 18, 100))  # P7
    # D1: md5("{transaction_id}_{date}_{customer_id}") with pandas'
    # str(Timestamp) rendering (etl/transform.py:88-93).
    df = df.withColumn(
        "row_hash",
        derived.row_hash(
            F.col("transaction_id").cast("string"),
            derived.ts_str("date"),
            F.col("customer_id"),
        ),
    )
    return df


def clean_api_products(raw: DataFrame) -> DataFrame:
    """Mirror of clean_api_products (etl/transform.py:98-127)."""
    df = cleansing.normalize_column_names(raw)
    df = df.withColumn("price", F.col("price").cast("double"))
    df = df.withColumn("category", cleansing.std_text("category"))
    df = df.withColumn("description", cleansing.truncate("description", 500))  # P8
    df = df.withColumn("title", F.trim("title"))
    df = df.withColumn("rating_rate", cleansing.clip("rating_rate", 0, 5))
    df = df.withColumn("rating_count", cleansing.clip("rating_count", lo=0))
    return df


# ---------------------------------------------------------------------------
# Dimensions (etl/transform.py:134-339)
# ---------------------------------------------------------------------------
def build_dim_date(clean_sales: DataFrame) -> DataFrame:
    """Calendar dimension spanning full years of the sales date range
    (etl/transform.py:134-172). Generated with sequence+explode — a
    handful of thousands of rows; always broadcastable."""
    bounds = clean_sales.agg(
        F.make_date(F.year(F.min("date")), F.lit(1), F.lit(1)).alias("start"),
        F.make_date(F.year(F.max("date")), F.lit(12), F.lit(31)).alias("end"),
    )
    days = bounds.select(
        F.explode(F.sequence("start", "end", F.expr("interval 1 day"))).alias("full_date")
    )
    cal = derived.calendar_columns("full_date")
    return days.select("full_date", *[expr.alias(name) for name, expr in cal.items()])


def build_dim_customer(clean_sales: DataFrame, run_ts) -> DataFrame:
    """Customer dimension with SCD2 stamps (etl/transform.py:176-222).

    ``first(gender/age)`` is made deterministic with min_by over
    (date, transaction_id) — file order in pandas, earliest transaction
    here (SURVEY §7.4.5).
    """
    order = F.struct("date", "transaction_id")
    customers = clean_sales.groupBy("customer_id").agg(
        F.min_by("gender", order).alias("gender"),
        F.min_by("age", order).alias("age"),
        F.min("date").alias("first_purchase_date"),
        F.max("date").alias("last_purchase_date"),
        F.countDistinct("transaction_id").alias("total_transactions"),
    )
    customers = customers.withColumn(
        "customer_key", F.row_number().over(Window.orderBy("customer_id"))
    )
    customers = scd2_initial(customers, run_ts, start_col="first_purchase_date")
    customers = customers.withColumn(
        "row_hash",
        derived.row_hash(
            F.col("customer_id"), F.col("gender"), F.col("age").cast("string")
        ),
    )
    customers = customers.withColumn("age_group", derived.age_group("age"))
    customers = customers.withColumn(
        "customer_segment", derived.customer_segment("total_transactions")
    )
    return customers.withColumn("_loaded_at", F.lit(run_ts).cast("timestamp"))


def build_dim_product(clean_products: DataFrame, run_ts) -> DataFrame:
    """Product dimension with SCD2 stamps (etl/transform.py:228-280)."""
    products = clean_products.select(
        F.col("id").alias("api_product_id"),
        F.col("title").alias("product_name"),
        F.col("price").alias("api_price"),
        "description",
        F.col("category").alias("product_category"),
        F.col("image").alias("product_image_url"),
        "rating_rate",
        "rating_count",
    )
    products = products.withColumn(
        "product_key", F.row_number().over(Window.orderBy("api_product_id"))
    )
    products = scd2_initial(products, run_ts)
    products = products.withColumn(
        "row_hash",
        derived.row_hash(
            F.col("api_product_id").cast("string"),
            F.col("product_name"),
            F.col("api_price").cast("string"),
        ),
    )
    return products.withColumn("_loaded_at", F.lit(run_ts).cast("timestamp"))


def build_dim_category(
    clean_sales: DataFrame, api_categories: DataFrame, run_ts
) -> DataFrame:
    """Category dimension: distinct union of retail + API category names,
    sorted, with membership tagging and keyword-group classification
    (etl/transform.py:284-339; U1, D8, D10, D11)."""
    retail = clean_sales.select(F.col("product_category").alias("category_name")).distinct()
    api = api_categories.select(cleansing.std_text("category").alias("category_name")).distinct()
    all_cats = retail.unionByName(api).distinct()
    all_cats = all_cats.withColumn(
        "category_key", F.row_number().over(Window.orderBy("category_name"))
    )
    # Membership tags (case-insensitive on the API side, mirroring
    # etl/transform.py:309-313): realized as broadcast-able left joins.
    retail_flag = retail.withColumn("_in_retail", F.lit(True))
    api_flag = api.select(F.lower("category_name").alias("_lc")).distinct().withColumn(
        "_in_api", F.lit(True)
    )
    tagged = (
        all_cats.join(F.broadcast(retail_flag), "category_name", "left")
        .join(F.broadcast(api_flag), F.lower("category_name") == F.col("_lc"), "left")
        .withColumn(
            "category_source",
            F.when(F.col("_in_retail") & F.col("_in_api"), "both")
            .when(F.col("_in_retail"), "retail")
            .otherwise("api"),
        )
        .drop("_in_retail", "_in_api", "_lc")
    )
    # D8 keyword classifier — order-sensitive elif chain
    # (etl/transform.py:316-333).
    name_lower = F.lower("category_name")
    group = (
        F.when(name_lower.rlike("electronics|tech|computer"), "Electronics")
        .when(name_lower.rlike("clothing|fashion|apparel|men's|women's"), "Fashion & Apparel")
        .when(name_lower.rlike("beauty|jewelery|jewelry|cosmetics"), "Beauty & Accessories")
        .otherwise("Other")
    )
    tagged = tagged.withColumn("category_group", group)
    return tagged.select(
        "category_key",
        "category_name",
        "category_source",
        "category_group",
        F.lit(run_ts).cast("timestamp").alias("_loaded_at"),
    )


# ---------------------------------------------------------------------------
# Fact (etl/transform.py:346-386)
# ---------------------------------------------------------------------------
def build_fact_sales(
    clean_sales: DataFrame,
    dim_customer: DataFrame,
    dim_category: DataFrame,
    run_ts,
) -> DataFrame:
    """Fact table with surrogate FK resolution via broadcast hash joins —
    the reference hand-rolls these as dict .map lookups
    (etl/transform.py:364-369, J1/J2); Catalyst's BroadcastHashJoin is
    the same algorithm distributed."""
    fact = clean_sales.withColumn("date_key", derived.date_key("date"))
    fact = fact.join(
        F.broadcast(dim_customer.select("customer_id", "customer_key")),
        "customer_id",
        "left",
    )
    fact = fact.join(
        F.broadcast(
            dim_category.select(
                F.col("category_name").alias("product_category"), "category_key"
            )
        ),
        "product_category",
        "left",
    )
    fact = fact.withColumn(
        "sales_key", F.row_number().over(Window.orderBy("transaction_id"))
    )
    return fact.select(
        "sales_key",
        "transaction_id",
        "date_key",
        "customer_key",
        "category_key",
        "quantity",
        "price_per_unit",
        "total_amount",
        "customer_id",
        "product_category",
        "gender",
        "age",
        "_extracted_at",
        "_source",
        F.lit(run_ts).cast("timestamp").alias("_loaded_at"),
    )


# ---------------------------------------------------------------------------
# Marts (etl/transform.py:393-507)
# ---------------------------------------------------------------------------
def build_mart_sales_performance(
    fact_sales: DataFrame, dim_date: DataFrame, run_ts
) -> DataFrame:
    """Monthly performance mart with MoM growth (etl/transform.py:399-434;
    A2 + W1). Division guarded with NULLIF semantics (SURVEY §7.4.7)."""
    mart = fact_sales.join(
        F.broadcast(dim_date.select("date_key", "year", "month", "month_name")),
        "date_key",
        "left",
    )
    monthly = mart.groupBy("year", "month", "month_name").agg(
        dsum("total_amount").alias("total_revenue"),
        F.countDistinct("transaction_id").alias("total_transactions"),
        F.sum("quantity").alias("total_quantity"),
        (
            dsum("total_amount")
            / F.nullif(F.count("total_amount"), F.lit(0))
        ).alias("avg_order_value"),
        F.countDistinct("customer_id").alias("unique_customers"),
    )
    w = Window.orderBy("year", "month")
    prev = F.lag("total_revenue").over(w)
    return (
        monthly.withColumn("revenue_prev_month", prev)
        .withColumn(
            "revenue_growth_pct",
            F.round((F.col("total_revenue") - prev) / F.nullif(prev, F.lit(0)) * 100, 2),
        )
        .withColumn("_mart_generated_at", F.lit(run_ts).cast("timestamp"))
    )


def build_mart_category_analysis(
    fact_sales: DataFrame, dim_category: DataFrame, run_ts
) -> DataFrame:
    """Category mart: 7-aggregate rollup + revenue share + gender pivot
    with fixed column list (etl/transform.py:441-507; A3-A5)."""
    perf = fact_sales.groupBy("product_category").agg(
        F.sum(F.col("total_amount").cast(DEC)).alias("rev_dec"),
        F.countDistinct("transaction_id").alias("total_transactions"),
        F.sum("quantity").alias("total_quantity"),
        (
            dsum("price_per_unit")
            / F.nullif(F.count("price_per_unit"), F.lit(0))
        ).alias("avg_price"),
        (
            dsum("total_amount")
            / F.nullif(F.count("total_amount"), F.lit(0))
        ).alias("avg_order_value"),
        F.countDistinct("customer_id").alias("unique_customers"),
        (
            F.sum("age").cast("double") / F.nullif(F.count("age"), F.lit(0))
        ).alias("avg_customer_age"),
    )
    total = F.sum("rev_dec").over(Window.partitionBy())
    perf = perf.withColumn(
        "revenue_share_pct",
        F.round(
            F.col("rev_dec").cast("double") / F.nullif(total.cast("double"), F.lit(0)) * 100,
            2,
        ),
    ).withColumn("total_revenue", F.col("rev_dec").cast("double"))
    gender_pivot = (
        fact_sales.groupBy("product_category")
        .pivot("gender", ["Female", "Male"])
        .agg(F.sum(F.col("total_amount").cast(DEC)))
        .na.fill(0)
    )
    gender_pivot = gender_pivot.select(
        "product_category",
        F.round(
            F.col("Female").cast("double")
            / F.nullif((F.col("Female") + F.col("Male")).cast("double"), F.lit(0))
            * 100,
            2,
        ).alias("female_revenue_pct"),
    ).withColumn("male_revenue_pct", 100 - F.col("female_revenue_pct"))
    mart = perf.join(gender_pivot, "product_category", "left")
    mart = mart.join(
        F.broadcast(
            dim_category.select(
                F.col("category_name"), "category_group"
            )
        ),
        mart.product_category == F.col("category_name"),
        "left",
    )
    return mart.select(
        "product_category",
        "total_revenue",
        "total_transactions",
        "total_quantity",
        "avg_price",
        "avg_order_value",
        "unique_customers",
        "avg_customer_age",
        "revenue_share_pct",
        "female_revenue_pct",
        "male_revenue_pct",
        "category_name",
        "category_group",
        F.lit(run_ts).cast("timestamp").alias("_mart_generated_at"),
    )


# ---------------------------------------------------------------------------
# Full warehouse build (etl/transform.py:514-572)
# ---------------------------------------------------------------------------
def build_warehouse(
    raw_sales: DataFrame,
    raw_products: DataFrame,
    api_categories: DataFrame,
    run_ts="2024-01-01 00:00:00",
) -> dict[str, DataFrame]:
    """The fixed transform DAG (etl/transform.py:514-572): clean -> dims
    -> fact -> marts. Returns all 9 warehouse tables, lazily."""
    stg_sales = clean_retail_sales(raw_sales)
    stg_products = clean_api_products(raw_products)
    dim_date = build_dim_date(stg_sales)
    dim_customer = build_dim_customer(stg_sales, run_ts)
    dim_product = build_dim_product(stg_products, run_ts)
    dim_category = build_dim_category(stg_sales, api_categories, run_ts)
    fact_sales = build_fact_sales(stg_sales, dim_customer, dim_category, run_ts)
    return {
        "stg_retail_sales": stg_sales,
        "stg_api_products": stg_products,
        "dim_date": dim_date,
        "dim_customer": dim_customer,
        "dim_product": dim_product,
        "dim_product_category": dim_category,
        "fact_sales": fact_sales,
        "mart_sales_performance": build_mart_sales_performance(fact_sales, dim_date, run_ts),
        "mart_category_analysis": build_mart_category_analysis(fact_sales, dim_category, run_ts),
    }
