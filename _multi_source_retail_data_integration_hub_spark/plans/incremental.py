"""Incremental materialized-view maintenance: refresh an aggregate
mart from a delta batch WITHOUT rescanning history.

Reference analogue: the warehouse marts (mart_sales_performance etc.,
/root/reference/etl/load.py and sql/analytical_queries.sql) are rebuilt
from the full fact table on every ETL run — fine at warehouse scale,
unaffordable when the fact table is 100 TB and a daily delta is a few
GB. The scalable pattern is the classic mergeable-partial-aggregate
view maintenance: store the mart as PARTIAL aggregate state
(count / decimal-exact sum / min / max per group — every one a
commutative monoid), then each refresh aggregates ONLY the delta batch
and merges it cell-wise into the stored state:

    merged.count = base.count + delta.count
    merged.sum   = base.sum   + delta.sum
    merged.min   = LEAST(base.min, delta.min)
    merged.max   = GREATEST(base.max, delta.max)

Derived measures (avg = sum/count) are computed AT READ TIME from the
partials — never stored — because avg is not mergeable but its
numerator and denominator are.

Deletes/updates (CDC, q62 semantics) are handled by
``cdc_merge_partials``: counts and sums are GROUPS under signed
weights (a delete is weight -1, an update is -1 old row +1 new row),
so the signed delta partial merges exactly like the insert-only case;
min/max are only monoids (no inverse), so the groups TOUCHED by the
CDC batch re-base their extrema from the post-CDC fact rows of those
groups — a scan proportional to the touched groups (partition-pruned
when the fact is laid out by the mart key), never the full history.
Untouched groups keep their stored extrema unscanned. q121 proves
delta-maintenance == full recompute differentially.

q111 demonstrates the refresh end-to-end and its oracle IS the full
recompute over base ∪ delta — proving merge(partial(base),
partial(delta)) == aggregate(base ∪ delta) row for row. The base
partial is materialized first (simulating the stored mart state), so
the merge plan the driver executes rescans only the delta rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkpointing import materialize
from ..sources.testdata import load_table
from .registry import DEC, query

CUTOFF = "1997-01-01"  # orders before this date are the "stored history"


def partial_order_mart(orders: DataFrame) -> DataFrame:
    """Partial (mergeable) aggregate state of the monthly order mart:
    one row per (month, status) with count / sum / min / max partials."""
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.col("o_orderstatus").alias("order_status"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("sum_price"),
        F.min(F.col("o_totalprice").cast(DEC)).alias("min_price"),
        F.max(F.col("o_totalprice").cast(DEC)).alias("max_price"),
    )


#: combine function per partial-state column kind (every one a
#: commutative monoid, which is what makes the state mergeable)
_COMBINE = {"sum": F.sum, "min": F.min, "max": F.max}


def merge_partials(
    base: DataFrame,
    delta: DataFrame,
    keys: list[str],
    merges: dict[str, str],
) -> DataFrame:
    """Cell-wise merge of two partial aggregate states (full outer
    union-merge: groups present only in one side pass through
    unchanged). ``merges`` maps each partial column to its combine
    op: counts and sums merge with 'sum', extrema with 'min'/'max'.
    Shared by the batch refresh (q111) and the streaming
    foreachBatch mart sink (streaming/jobs.py::foreach_batch_mart_merge).
    """
    unknown = [op for op in merges.values() if op not in _COMBINE]
    if unknown:
        raise ValueError(
            f"merge_partials: unknown combine op(s) {unknown}; supported: "
            f"{sorted(_COMBINE)} (avg is not mergeable — store sum+count "
            "partials and derive it at read time)"
        )
    return (
        base.unionByName(delta)
        .groupBy(*keys)
        .agg(*[_COMBINE[op](c).alias(c) for c, op in merges.items()])
    )


ORDER_MART_KEYS = ["order_month", "order_status"]
ORDER_MART_MERGES = {
    "n_orders": "sum",
    "sum_price": "sum",
    "min_price": "min",
    "max_price": "max",
}


def merge_order_mart(base: DataFrame, delta: DataFrame) -> DataFrame:
    return merge_partials(base, delta, ORDER_MART_KEYS, ORDER_MART_MERGES)


def cdc_merge_partials(
    base: DataFrame,
    signed_delta: DataFrame,
    rebase: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    extrema_cols: list[str],
) -> DataFrame:
    """Merge a CDC batch into stored partial-aggregate mart state.

    - ``signed_delta``: per-group partials of the CDC batch under
      signed weights (delete = -1, update = -1 old +1 new), covering
      the count/sum columns in ``sum_cols``. Every group the batch
      touches MUST appear here (that is what marks it touched).
    - ``rebase``: min/max partials over the POST-CDC fact rows of the
      touched groups only (``extrema_cols``) — extrema have no inverse,
      so deletes/updates force a re-scan, but only of those groups.
    - Groups whose merged count reaches 0 drop out of the mart.
    - Groups NOT touched by the batch keep their stored counts, sums
      AND extrema — zero rescans.
    """
    touched = signed_delta.select(*keys).distinct()
    cs = (
        base.select(*keys, *sum_cols)
        .unionByName(signed_delta.select(*keys, *sum_cols))
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
    )
    extrema = (
        base.select(*keys, *extrema_cols)
        .join(touched, keys, "left_anti")  # untouched: stored state
        .unionByName(rebase.select(*keys, *extrema_cols))
    )
    count_col = sum_cols[0]
    # inner join is total: a surviving group (count > 0) has post-CDC
    # rows, so it is either untouched-with-state or rebased
    return cs.where(F.col(count_col) > 0).join(extrema, keys)


@query(
    "q111_incremental_mart",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           o_orderstatus AS order_status,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_price,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS max_price
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q111_incremental_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh == full recompute, proven differentially.

    The oracle aggregates ALL orders in one pass; this plan aggregates
    history and delta separately and merges partials — the driver's
    hash compare is the maintenance-correctness proof.
    """
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(CUTOFF).cast("date")
    # stored mart state: materialized once; the refresh below never
    # rescans these rows (at 100 TB this is the difference between a
    # delta-sized job and a full-history job)
    base_state = materialize(partial_order_mart(orders.where(F.col("o_orderdate") < cutoff)))
    delta_state = partial_order_mart(orders.where(F.col("o_orderdate") >= cutoff))
    merged = merge_order_mart(base_state, delta_state)
    return merged.select(
        "order_month",
        "order_status",
        "n_orders",
        F.col("sum_price").cast("double").alias("total_price"),
        (F.col("sum_price").cast("double") / F.col("n_orders"))
        .cast("double")
        .alias("avg_price"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    ).orderBy("order_month", "order_status")


# ---------------------------------------------------------------------------
# q121 — CDC-aware incremental mart refresh (the r4 verdict ask):
# absorb DELETES and UPDATES into the stored mart without a full
# rebuild. Reference analogue: the marts rebuilt from scratch every
# run (/root/reference/etl/transform.py:393-507) — a rebuild is the
# only way that codebase can see a deleted or corrected order; here
# the refresh cost is |CDC batch| + |touched groups' rows|, never
# |history|. CDC op semantics follow q62 (I/U/D, last-write-wins);
# the batch is derived deterministically from the orders table so the
# DuckDB oracle can rebuild the exact same scenario:
#   - orders with o_orderkey % 10 == 7 are DELETED
#   - orders with o_orderkey % 10 == 3 are UPDATED: price + 100.00
#     (exact decimal add) and status -> 'P' (the update MOVES rows
#     across mart groups, exercising the signed-weight path on both
#     the old and the new group)
# The oracle recomputes the mart from the post-CDC fact in one pass;
# the Spark plan merges the stored pre-CDC state with signed-weight
# delta partials and rebases extrema only for touched groups — the
# driver's hash compare proves delta-maintenance == recompute.
# ---------------------------------------------------------------------------
_CDC_DEL = "o_orderkey % 10 = 7"
_CDC_UPD = "o_orderkey % 10 = 3"


@query(
    "q121_cdc_mart",
    oracle=f"""
    WITH post AS (
      SELECT o_orderdate,
             CASE WHEN {_CDC_UPD}
                  THEN CAST(o_totalprice + 100.00 AS DECIMAL(18,2))
                  ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price,
             CASE WHEN {_CDC_UPD} THEN 'P' ELSE o_orderstatus END AS status
      FROM orders
      WHERE NOT ({_CDC_DEL})
    )
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           status AS order_status,
           COUNT(*) AS n_orders,
           CAST(SUM(price) AS DOUBLE) AS total_price,
           CAST(MIN(price) AS DOUBLE) AS min_price,
           CAST(MAX(price) AS DOUBLE) AS max_price
    FROM post
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q121_cdc_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    price = F.col("o_totalprice").cast(DEC)
    is_del, is_upd = F.expr(_CDC_DEL), F.expr(_CDC_UPD)

    # stored mart state: the PRE-CDC partials, materialized once (the
    # refresh below rescans no history rows for counts/sums)
    base_state = materialize(partial_order_mart(orders))

    # CDC batch as signed rows: delete -> -1 old; update -> -1 old, +1 new
    old_rows = orders.where(is_del | is_upd).select(
        month, F.col("o_orderstatus").alias("order_status"),
        F.lit(-1).alias("w"), price.alias("price"),
    )
    new_rows = orders.where(is_upd).select(
        month, F.lit("P").alias("order_status"),
        F.lit(1).alias("w"),
        (price + F.lit(100.00).cast(DEC)).cast(DEC).alias("price"),
    )
    cdc = old_rows.unionByName(new_rows)
    signed_delta = cdc.groupBy("order_month", "order_status").agg(
        F.sum("w").cast("bigint").alias("n_orders"),
        F.sum(F.col("price") * F.col("w")).cast("decimal(38,2)").alias("sum_price"),
    )

    # extrema re-base: post-CDC rows of TOUCHED groups only (semi join
    # here; partition pruning when the fact is laid out by month)
    touched = signed_delta.select("order_month", "order_status")
    post_rows = orders.where(~is_del).select(
        month,
        F.when(is_upd, "P").otherwise(F.col("o_orderstatus")).alias("order_status"),
        F.when(is_upd, (price + F.lit(100.00).cast(DEC)).cast(DEC))
        .otherwise(price)
        .alias("price"),
    )
    rebase = (
        post_rows.join(F.broadcast(touched), ["order_month", "order_status"], "left_semi")
        .groupBy("order_month", "order_status")
        .agg(F.min("price").alias("min_price"), F.max("price").alias("max_price"))
    )

    merged = cdc_merge_partials(
        base_state.select(
            "order_month", "order_status", "n_orders",
            F.col("sum_price").cast("decimal(38,2)").alias("sum_price"),
            "min_price", "max_price",
        ),
        signed_delta,
        rebase,
        keys=["order_month", "order_status"],
        sum_cols=["n_orders", "sum_price"],
        extrema_cols=["min_price", "max_price"],
    )
    return merged.select(
        "order_month",
        "order_status",
        "n_orders",
        F.col("sum_price").cast("double").alias("total_price"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    ).orderBy("order_month", "order_status")
