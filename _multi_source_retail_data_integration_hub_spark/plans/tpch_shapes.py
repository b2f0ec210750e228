"""The remaining classic TPC-H decision-support shapes (Q2, Q9, Q11,
Q13, Q15, Q16, Q17, Q18, Q19, Q20, Q21, Q22), adapted to the testdata
star schema (which has no partsupp table and fewer columns than real
TPC-H — cost/complaint/phone predicates are re-expressed over the
columns that exist, keeping each query's *operator shape* intact).

These complete the engine's subquery coverage: groupwise-min
correlated subqueries (q88), HAVING against a global scalar (q90),
outer-join count distributions (q91), equality against a scalar MAX
(q92), NOT IN (q93), correlated AVG (q94), IN-over-grouped-HAVING
(q95), disjunctive join residuals (q96), nested semi-join chains
(q97), multi-EXISTS self-correlation (q98), and anti-join +
scalar-average gating (q99).  Reference analogue: the warehouse-side
analytical queries in /root/reference/sql/analytical_queries.sql
(grouped trends, top-k, share-of-total) generalized to the classical
decision-support benchmark shapes a retail warehouse grows into.

Spark-first notes (the 100 TB reading):

- Every correlated subquery is decorrelated by construction — windows
  over the already-aggregated (small) relation, or broadcast 1-row
  scalar joins — never a per-row rescan of the fact table.
- Dimension sides (part, supplier, customer, nation) broadcast; the
  only all-rows shuffles are fact-side group-bys on their natural
  keys, which partial-aggregate map-side first.
- Numeric determinism follows the registry convention: money sums in
  DECIMAL(18,2) (exact, order-independent), cast to DOUBLE at the
  edge; quantity sums/averages are integer-valued doubles (exact in
  IEEE for any summation order); per-row double arithmetic (division,
  0.5*avg) is bit-deterministic given identical inputs.
- Every LIMIT carries a full deterministic tie-break (unique key last)
  so Spark and DuckDB pick identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import DEC, dsum, query


def _rev_dec() -> F.Column:
    """Exact lineitem net revenue: DECIMAL(18,2) price x (1 - discount)."""
    return F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)")
    )


# ---------------------------------------------------------------------------
# q88 — best-price supplier per part (TPC-H Q2 shape). The classic
# groupwise-min correlated subquery: real Q2 finds the min-cost
# partsupp supplier; with no partsupp table the "offer" relation is
# derived from lineitem (per (part, supplier) minimum observed unit
# price). The correlation decorrelates to a window MIN over the
# already-aggregated offers relation — one shuffle on l_partkey that
# the group-by already paid, never a per-part rescan.
# ---------------------------------------------------------------------------
@query(
    "q88_best_price_supplier",
    oracle="""
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS best_price
      FROM lineitem GROUP BY 1, 2
    )
    SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
           n.n_name AS nation, o.best_price, s.s_acctbal
    FROM offers o
    JOIN part p ON p.p_partkey = o.l_partkey
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE o.best_price = (SELECT MIN(o2.best_price) FROM offers o2
                          WHERE o2.l_partkey = o.l_partkey)
    ORDER BY s.s_acctbal DESC, p.p_partkey, s.s_suppkey
    LIMIT 100
    """,
)
def q88_best_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # per-row double division is bit-deterministic; MIN is order-free
    offers = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("best_price")
    )
    # decorrelated: window MIN over the aggregated offers (|parts x supps|
    # rows), partitioned on the key the group-by already clustered
    part_min = Window.partitionBy("l_partkey")
    best = offers.withColumn("part_best", F.min("best_price").over(part_min)).where(
        F.col("best_price") == F.col("part_best")
    )
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(supplier, best.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            "best_price",
            "s_acctbal",
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_suppkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q89 — product-line profit by supplier nation and year (TPC-H Q9
# shape). No partsupp supply cost exists, so cost is proxied as half
# the part's retail price per unit; the shape — LIKE-filtered part dim,
# fact joined to supplier nation, profit = revenue - cost aggregated
# by (nation, year) — is Q9's. All decimal factors keep exact scales
# (price s2 x qty s0 x 0.5 s1 => s3) so Spark and DuckDB sum
# identically.
# ---------------------------------------------------------------------------
@query(
    "q89_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           EXTRACT(year FROM l.l_shipdate) AS o_year,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(12,2)))
                    - CAST(p.p_retailprice AS DECIMAL(18,2))
                      * CAST(l.l_quantity AS DECIMAL(4,0))
                      * CAST(0.5 AS DECIMAL(2,1))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2 DESC
    """,
)
def q89_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount",
        "l_quantity",
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cost = (
        F.col("p_retailprice").cast(DEC)
        * F.col("l_quantity").cast("decimal(4,0)")
        * F.lit(0.5).cast("decimal(2,1)")
    )
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("bigint").alias("o_year"),
        )
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum(_rev_dec() - cost).cast("double").alias("profit"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# q90 — high-value parts vs a global threshold (TPC-H Q11 shape): the
# HAVING clause compares each group's value against a scalar subquery
# over the SAME aggregate. The per-part aggregate is computed once and
# reused for both sides; the scalar total is a 1-row broadcast cross
# join, so the fact table is scanned exactly once.
# ---------------------------------------------------------------------------
@query(
    "q90_important_parts",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS part_value
      FROM lineitem GROUP BY 1
    ), tot AS (SELECT SUM(part_value) AS total_value FROM pv)
    SELECT pv.l_partkey AS p_partkey, p.p_name,
           CAST(pv.part_value AS DOUBLE) AS part_value,
           CAST(pv.part_value AS DOUBLE) / CAST(tot.total_value AS DOUBLE)
             AS value_share
    FROM pv CROSS JOIN tot
    JOIN part p ON p.p_partkey = pv.l_partkey
    WHERE pv.part_value > tot.total_value * CAST(0.0007 AS DECIMAL(5,5))
    ORDER BY part_value DESC, p_partkey
    """,
)
def q90_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    pv = lineitem.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast(DEC)).alias("part_value")
    )
    # scalar subquery -> 1-row broadcast cross join (exact decimal compare)
    tot = pv.agg(F.sum("part_value").alias("total_value"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(
            F.col("part_value")
            > F.col("total_value") * F.lit(0.0007).cast("decimal(5,5)")
        )
        .join(part, F.col("l_partkey") == part.p_partkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            F.col("part_value").cast("double").alias("part_value"),
            (
                F.col("part_value").cast("double")
                / F.col("total_value").cast("double")
            ).alias("value_share"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


# ---------------------------------------------------------------------------
# q91 — customer order-count distribution (TPC-H Q13 shape): LEFT
# OUTER join so zero-order customers survive with count 0, then a
# second aggregation over the counts themselves — a histogram of
# group sizes. The priority filter rides in the join condition (not a
# WHERE), which is the semantic crux of Q13.
# ---------------------------------------------------------------------------
@query(
    "q91_custdist",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY 1
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY 1
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q91_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    c_orders = (
        customer.join(
            orders,
            (orders.o_custkey == customer.c_custkey)
            & (orders.o_orderpriority != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# q92 — top supplier(s) by quarterly revenue (TPC-H Q15 shape): the
# revenue view is built once, and the "= (SELECT MAX(...))" equality
# becomes an unpartitioned window MAX over the aggregated relation —
# ~|suppliers| rows, so the single-partition window is a non-issue;
# the comparison stays in exact DECIMAL so ties are exact.
# ---------------------------------------------------------------------------
@query(
    "q92_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation,
           CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM revenue r
    JOIN supplier s ON s.s_suppkey = r.supplier_no
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q92_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = lineitem.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_dec()).alias("total_rev")
    )
    # scalar MAX over the aggregated relation (|suppliers| rows): an
    # unpartitioned window here touches ~100 rows, never fact rows
    w = Window.partitionBy()
    best = revenue.withColumn("max_rev", F.max("total_rev").over(w)).where(
        F.col("total_rev") == F.col("max_rev")
    )
    return (
        best.join(supplier, best.supplier_no == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# q93 — supplier diversity per part attribute (TPC-H Q16 shape):
# distinct (part, supplier) pairs from the fact, a NOT-IN exclusion
# list (negative-balance suppliers standing in for Q16's complaint
# filter) planned as a broadcast anti-join, and COUNT(DISTINCT) per
# part attribute triple.
# ---------------------------------------------------------------------------
@query(
    "q93_supplier_diversity",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE NOT (p.p_brand = 'Brand#5' AND p.p_type = 'PROMO')
      AND ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q93_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").where(
        ~((F.col("p_brand") == "Brand#5") & (F.col("p_type") == "PROMO"))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        pairs.join(
            excluded,
            pairs.l_suppkey == excluded.s_suppkey,
            "left_anti",
        )
        .join(part, F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# q94 — small-order revenue drain (TPC-H Q17 shape): the correlated
# AVG subquery ("quantity below half this part's average") decorrelates
# into a per-part aggregate joined back to the same filtered rows. The
# brand filter shrinks the part dim BEFORE the fact join, so both the
# aggregate and the probe run over a sliver of lineitem.
# ---------------------------------------------------------------------------
@query(
    "q94_small_order_drain",
    oracle="""
    WITH pl AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#1'
    ), avgq AS (
      SELECT l_partkey, AVG(l_quantity) AS avg_qty FROM pl GROUP BY 1
    )
    SELECT COUNT(*) AS n_small_lines,
           CAST(SUM(CAST(pl.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0 AS avg_yearly
    FROM pl JOIN avgq ON avgq.l_partkey = pl.l_partkey
    WHERE pl.l_quantity < 0.5 * avgq.avg_qty
    """,
)
def q94_small_order_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    pl = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
    )
    # AVG over integer-valued doubles: partial sums are exact in IEEE
    # for any order, so Spark and DuckDB agree bit-for-bit
    avgq = pl.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    small = pl.join(avgq, "l_partkey").where(
        F.col("l_quantity") < 0.5 * F.col("avg_qty")
    )
    return small.agg(
        F.count("*").alias("n_small_lines"),
        (dsum("l_extendedprice") / 7.0).alias(
            "avg_yearly"
        ),
    )


# ---------------------------------------------------------------------------
# q95 — large-volume orders (TPC-H Q18 shape): the IN-over-HAVING
# subquery is the grouped fact itself, so the "IN" disappears into a
# join against the HAVING-filtered aggregate — lineitem is read once,
# aggregated by order, filtered, then enriched from orders/customer.
# ---------------------------------------------------------------------------
@query(
    "q95_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, big.sum_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q95_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q96 — disjunctive-predicate revenue (TPC-H Q19 shape): three
# OR-of-conjunction arms over (brand, size, quantity). The common
# p_partkey = l_partkey equi-condition is what keeps this a broadcast
# HASH join with the disjunction as a post-join residual — the naive
# reading (join condition = the whole OR) degrades to nested-loop.
# ---------------------------------------------------------------------------
@query(
    "q96_disjunctive_revenue",
    oracle="""
    SELECT COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 11 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 26 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q96_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")

    def arm(brand: str, size_lo: int, size_hi: int, q_lo: int, q_hi: int) -> F.Column:
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(size_lo, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    # equi-join on partkey first; the OR stays a residual filter so the
    # plan is a broadcast hash join, not a nested loop
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .where(
            arm("Brand#1", 1, 10, 1, 20)
            | arm("Brand#2", 11, 25, 10, 30)
            | arm("Brand#3", 26, 50, 20, 40)
        )
        .agg(
            F.count("*").alias("n_items"),
            F.sum(_rev_dec()).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q97 — suppliers with excess shipments of a part family (TPC-H Q20
# shape): a chain of nested IN subqueries (name-filtered parts ->
# heavily-shipped (supplier, part) pairs -> suppliers) that flattens
# into aggregate-then-semi-join. Each stage only ever narrows, so
# nothing re-scans the fact.
# ---------------------------------------------------------------------------
@query(
    "q97_excess_shipments",
    oracle="""
    WITH excess AS (
      SELECT l.l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
      WHERE l.l_shipdate >= DATE '1997-01-01'
        AND l.l_shipdate < DATE '1998-01-01'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(l.l_quantity) > 40
    )
    SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN excess e ON e.l_suppkey = s.s_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    ORDER BY s.s_suppkey
    """,
)
def q97_excess_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    red_parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    excess = (
        lineitem.join(red_parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 40)
        .select("l_suppkey")
    )
    return (
        supplier.join(
            excess, supplier.s_suppkey == excess.l_suppkey, "left_semi"
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# q98 — sole failing supplier on multi-supplier orders (TPC-H Q21
# shape): the EXISTS / NOT-EXISTS pair over the same fact ("another
# supplier exists on the order; no OTHER supplier failed") collapses
# into ONE aggregation per order — distinct suppliers, distinct
# failing suppliers, and the failing supplier id — instead of two
# correlated rescans of lineitem. returnflag 'R' stands in for Q21's
# receipt-after-commit lateness.
# ---------------------------------------------------------------------------
@query(
    "q98_sole_failing_supplier",
    oracle="""
    WITH failing AS (
      SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
      FROM lineitem l1
      WHERE l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
    )
    SELECT s.s_name, s.s_suppkey, COUNT(*) AS numwait
    FROM failing f JOIN supplier s ON s.s_suppkey = f.l_suppkey
    GROUP BY 1, 2
    ORDER BY numwait DESC, s_suppkey
    LIMIT 100
    """,
)
def q98_sole_failing_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # both EXISTS conditions become aggregates. Two-level instead of
    # countDistinct: two distinct aggregates in one pass would plan an
    # Expand (3x the fact rows through the first shuffle); deduping to
    # (order, supplier) first keeps every stage map-side combined.
    per_supp = lineitem.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_r")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supps"),
        F.sum("has_r").alias("n_failing"),
        F.max(F.when(F.col("has_r") == 1, F.col("l_suppkey"))).alias(
            "failing_supp"
        ),
    )
    culprits = per_order.where(
        (F.col("n_supps") >= 2) & (F.col("n_failing") == 1)
    ).select("failing_supp")
    return (
        culprits.groupBy("failing_supp")
        .agg(F.count("*").alias("numwait"))
        .join(
            supplier, F.col("failing_supp") == supplier.s_suppkey
        )
        .select("s_name", "s_suppkey", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q99 — dormant high-balance customers by name-code (TPC-H Q22 shape):
# substring-derived segment code (standing in for Q22's phone country
# code), a scalar positive-balance average as the gate (1-row
# broadcast), and a NOT EXISTS planned as a broadcast anti-join against
# the filtered orders side.
# ---------------------------------------------------------------------------
@query(
    "q99_dormant_customers",
    oracle="""
    WITH eligible AS (
      SELECT substring(c.c_name, 17, 2) AS code, c.c_custkey, c.c_acctbal
      FROM customer c
      WHERE substring(c.c_name, 17, 2) IN ('05','12','19','23','31','44')
        AND c.c_acctbal > 0
    ), avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_acctbal
      FROM eligible
    )
    SELECT e.code, COUNT(*) AS n_custs,
           CAST(SUM(CAST(e.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS total_acctbal
    FROM eligible e CROSS JOIN avg_bal
    WHERE e.c_acctbal > avg_bal.avg_acctbal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = e.c_custkey
                        AND o.o_orderpriority = '1-URGENT'
                        AND o.o_orderdate >= DATE '2000-01-01')
    GROUP BY 1 ORDER BY 1
    """,
)
def q99_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = ["05", "12", "19", "23", "31", "44"]
    eligible = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.substring("c_name", 17, 2).alias("code"), "c_custkey", "c_acctbal"
        )
        .where(F.col("code").isin(codes) & (F.col("c_acctbal") > 0))
    )
    recent_urgent = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("2000-01-01"))
        )
        .select("o_custkey")
    )
    # scalar average: exact decimal sum / exact count, divided in double
    avg_bal = eligible.agg(
        (
            dsum("c_acctbal") / F.count("*")
        ).alias("avg_acctbal")
    )
    return (
        eligible.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_acctbal"))
        .join(
            recent_urgent,
            F.col("c_custkey") == recent_urgent.o_custkey,
            "left_anti",
        )
        .groupBy("code")
        .agg(
            F.count("*").alias("n_custs"),
            dsum("c_acctbal").alias(
                "total_acctbal"
            ),
        )
        .orderBy("code")
    )


# ---------------------------------------------------------------------------
# q102 — forecast revenue change (TPC-H Q6 shape): the pure
# filter-and-aggregate query. Everything here should reach the parquet
# scan as pushed predicates; the aggregate is one map-side-combined
# pass with no shuffle beyond the final 1-row combine. The floor any
# engine pays is exactly one scan of the filtered splits.
# ---------------------------------------------------------------------------
@query(
    "q102_forecast_revenue",
    oracle="""
    SELECT COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q102_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return lineitem.agg(
        F.count("*").alias("n_items"),
        F.sum(
            F.col("l_extendedprice").cast(DEC)
            * F.col("l_discount").cast("decimal(12,2)")
        )
        .cast("double")
        .alias("revenue_delta"),
    )


# ---------------------------------------------------------------------------
# q103 — priority mix by return status (TPC-H Q12 shape): conditional
# two-way counts over a fact-fact join (orders classified high/low
# priority per lineitem group — the shipmode column Q12 counts by does
# not exist in this schema, so return flag is the grouping axis). The
# CASE WHEN counts are plain conditional aggregates: one joined pass,
# no pivot, no second scan.
# ---------------------------------------------------------------------------
@query(
    "q103_priority_mix",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_items,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_items
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= DATE '1997-01-01' AND l.l_shipdate < DATE '1998-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)
def q103_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_priority_items"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_priority_items"),
        )
        .orderBy("l_returnflag")
    )
