"""End-to-end pipeline driver: gates, warehouse writes, audit log
(SURVEY §3.1-3.2). Reuses the fixture corpus from test_warehouse."""

import pytest
from pyspark.sql import functions as F

from _multi_source_retail_data_integration_hub_spark.plans import pipeline
from _multi_source_retail_data_integration_hub_spark.sources.retail import (
    categories_from_list,
    products_from_records,
)
from tests.test_warehouse import API_CATEGORIES, PRODUCTS, RAW_COLS, RAW_ROWS, RUN_TS

# fixture-sized thresholds (prod defaults assume the 1,000-row CSV)
THRESHOLDS = {"stg_retail_sales": 10, "dim_customer": 3, "dim_date": 365, "fact_sales": 10}


@pytest.fixture(scope="module")
def raw(spark):
    raw_sales = (
        spark.createDataFrame(RAW_ROWS, RAW_COLS)
        .withColumn("_extracted_at", F.lit(RUN_TS).cast("timestamp"))
        .withColumn("_source", F.lit("kaggle_retail_sales"))
    )
    return raw_sales, products_from_records(spark, PRODUCTS, extracted_at=RUN_TS), categories_from_list(
        spark, API_CATEGORIES
    )


@pytest.fixture(scope="module", autouse=True)
def _cleanup_test_db(spark):
    yield
    spark.sql("DROP DATABASE IF EXISTS test_dw CASCADE")


def test_full_run_loads_and_logs(spark, raw):
    raw_sales, raw_products, cats = raw
    res = pipeline.run_pipeline(
        spark, raw_sales, raw_products, cats, database="test_dw",
        run_ts=RUN_TS, thresholds=THRESHOLDS,
    )
    assert res.status == "success"
    assert res.counts["fact_sales"] == 12
    assert spark.table("test_dw.fact_sales").count() == 12
    # fact is partitioned by date_key (pruning at scale)
    parts = spark.sql("SHOW PARTITIONS test_dw.fact_sales").collect()
    assert len(parts) == 12 and parts[0].partition.startswith("date_key=")
    log = spark.table("test_dw.etl_run_log")
    assert log.count() == 1
    row = log.first()
    assert row.status == "success" and row.rows_extracted == len(RAW_ROWS)


def test_transform_gate_trips(spark, raw):
    raw_sales, raw_products, cats = raw
    with pytest.raises(pipeline.PipelineGateError, match="transform gate"):
        pipeline.run_pipeline(
            spark, raw_sales, raw_products, cats, database="test_dw",
            run_ts=RUN_TS, thresholds={"fact_sales": 10_000}, skip_load=True,
        )


def test_transform_gate_trip_writes_nothing(spark, raw):
    """A transform-gate failure on a run that WOULD load must stop
    before the first write: none of the 9 warehouse tables and no
    etl_run_log row appear."""
    raw_sales, raw_products, cats = raw
    spark.sql("DROP DATABASE IF EXISTS gate_dw CASCADE")
    with pytest.raises(pipeline.PipelineGateError, match="transform gate"):
        pipeline.run_pipeline(
            spark, raw_sales, raw_products, cats, database="gate_dw",
            run_ts=RUN_TS, thresholds={"fact_sales": 10_000},
        )
    names = [
        "stg_retail_sales", "stg_api_products", "dim_date", "dim_customer",
        "dim_product", "dim_product_category", "fact_sales",
        "mart_sales_performance", "mart_category_analysis", "etl_run_log",
    ]
    try:
        assert [n for n in names if spark.catalog.tableExists(f"gate_dw.{n}")] == []
    finally:
        spark.sql("DROP DATABASE IF EXISTS gate_dw CASCADE")


def test_load_gate_trips_on_empty_written_table(spark):
    """validate_load fails a load whose written table is empty and
    names it; a load whose tables all hold rows passes."""
    spark.sql("CREATE DATABASE IF NOT EXISTS loadgate_dw")
    try:
        spark.range(3).write.mode("overwrite").saveAsTable("loadgate_dw.full_tbl")
        spark.range(0).write.mode("overwrite").saveAsTable("loadgate_dw.empty_tbl")
        pipeline.validate_load(spark, "loadgate_dw", ["full_tbl"])
        with pytest.raises(pipeline.PipelineGateError, match=r"load gate failed.*empty_tbl"):
            pipeline.validate_load(spark, "loadgate_dw", ["full_tbl", "empty_tbl"])
    finally:
        spark.sql("DROP DATABASE IF EXISTS loadgate_dw CASCADE")


def test_extract_gate_trips(spark, raw):
    raw_sales, raw_products, cats = raw
    with pytest.raises(pipeline.PipelineGateError, match="extract gate"):
        pipeline.run_pipeline(
            spark, raw_sales.limit(0), raw_products, cats, database="test_dw",
            run_ts=RUN_TS, thresholds=THRESHOLDS, skip_load=True,
        )


def test_skip_load_writes_nothing(spark, raw):
    raw_sales, raw_products, cats = raw
    spark.sql("DROP TABLE IF EXISTS test_dw.etl_run_log")
    res = pipeline.run_pipeline(
        spark, raw_sales, raw_products, cats, database="test_dw",
        run_ts=RUN_TS, thresholds=THRESHOLDS, skip_load=True,
    )
    assert "load" not in res.durations
    assert not spark.catalog.tableExists("test_dw.etl_run_log")


def test_incremental_scd2_dim_merge(spark, raw, tmp_path_factory):
    raw_sales, raw_products, cats = raw
    spark.sql("DROP DATABASE IF EXISTS inc_dw CASCADE")
    # a crashed prior run can leave the warehouse dir without the catalog
    # entry; DROP DATABASE alone won't clear it
    import shutil
    shutil.rmtree("spark-warehouse/inc_dw.db", ignore_errors=True)
    pipeline.run_pipeline(
        spark, raw_sales, raw_products, cats, database="inc_dw",
        run_ts=RUN_TS, thresholds=THRESHOLDS, incremental=True,
    )
    dim1 = spark.table("inc_dw.dim_customer")
    keys1 = {r.customer_id: r.customer_key for r in dim1.collect()}
    assert dim1.count() == 5  # CUST001..CUST007 minus dropped rows (003, 005)

    # run 2: CUST001 ages a year -> new SCD2 version; everyone else unchanged
    run2_ts = "2024-07-01 00:00:00"
    mutated = raw_sales.withColumn(
        "Age",
        F.when(F.col("Customer ID") == "CUST001", F.lit(35)).otherwise(F.col("Age")),
    )
    pipeline.run_pipeline(
        spark, mutated, raw_products, cats, database="inc_dw",
        run_ts=run2_ts, thresholds=THRESHOLDS, incremental=True,
    )
    dim2 = spark.table("inc_dw.dim_customer")
    rows = {(r.customer_id, r.version): r for r in dim2.collect()}
    assert dim2.count() == 6  # 5 originals + 1 new version

    old = rows[("CUST001", 1)]
    new = rows[("CUST001", 2)]
    assert not old.is_current and str(old.effective_end_date) == run2_ts
    assert new.is_current and new.age == 35 and str(new.effective_start_date) == run2_ts
    # untouched rows keep their surrogate keys; the new version extends
    assert old.customer_key == keys1["CUST001"]
    assert new.customer_key == max(keys1.values()) + 1
    for cid, key in keys1.items():
        assert rows[(cid, 1)].customer_key == key
        assert rows[(cid, 1)].is_current == (cid != "CUST001")

    # dim_product merged with identical snapshot -> no new versions
    assert spark.table("inc_dw.dim_product").count() == 3

    # FK integrity: every fact row's customer_key must point at the
    # CURRENT dim version of its customer_id (the fact is rebuilt
    # against the merged dim, not the snapshot keys)
    fact2 = spark.table("inc_dw.fact_sales")
    current = {
        r.customer_id: r.customer_key
        for r in dim2.where("is_current").collect()
    }
    for r in fact2.select("customer_id", "customer_key").collect():
        assert r.customer_key == current[r.customer_id], r
    spark.sql("DROP DATABASE IF EXISTS inc_dw CASCADE")


def test_with_retries_policy():
    """Transient failures retry; gate failures never do (Airflow
    default_args analogue)."""
    from _multi_source_retail_data_integration_hub_spark.plans.pipeline import (
        PipelineGateError,
        with_retries,
    )

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise IOError("transient sink error")
        return "ok"

    seen = []
    assert (
        with_retries(flaky, retries=2, on_retry=lambda a, e: seen.append(a)) == "ok"
    )
    assert calls["n"] == 3 and seen == [1, 2]

    calls["n"] = 0
    import pytest as _pytest

    with _pytest.raises(IOError):
        with_retries(flaky, retries=1)  # budget exhausted after 2 calls
    assert calls["n"] == 2

    gate_calls = {"n": 0}

    def gate_fail():
        gate_calls["n"] += 1
        raise PipelineGateError("bad counts")

    with _pytest.raises(PipelineGateError):
        with_retries(gate_fail, retries=5)
    assert gate_calls["n"] == 1  # no retry on deterministic gate verdicts


def test_partitioned_overwrite_replaces_only_touched_partitions(spark):
    """write_warehouse_table on an existing partitioned table must keep
    partitions absent from the incoming batch (dynamic overwrite via
    insertInto — saveAsTable would drop the whole table)."""
    from _multi_source_retail_data_integration_hub_spark.sources import sinks

    spark.sql("CREATE DATABASE IF NOT EXISTS dynp_dw")
    spark.sql("DROP TABLE IF EXISTS dynp_dw.part_tbl")
    day1 = spark.createDataFrame(
        [(1, 10.0, 20240101), (2, 20.0, 20240102)], "id long, v double, date_key long"
    )
    sinks.write_warehouse_table(
        day1, "part_tbl", database="dynp_dw", partition_by=("date_key",)
    )
    # incremental batch touches ONLY 20240102 (new value) + adds 20240103
    day2 = spark.createDataFrame(
        [(3, 99.0, 20240102), (4, 30.0, 20240103)], "id long, v double, date_key long"
    )
    sinks.write_warehouse_table(
        day2, "part_tbl", database="dynp_dw", partition_by=("date_key",)
    )
    rows = {
        r.date_key: (r.id, r.v)
        for r in spark.table("dynp_dw.part_tbl").collect()
    }
    assert rows[20240101] == (1, 10.0)  # untouched partition survived
    assert rows[20240102] == (3, 99.0)  # touched partition replaced
    assert rows[20240103] == (4, 30.0)  # new partition added
    spark.sql("DROP DATABASE IF EXISTS dynp_dw CASCADE")


def test_run_log_retention_post_stage(spark, raw):
    """log_retention_days wires prune_run_log into the pipeline as the
    reference DAG's every-run cleanup task: an end-to-end run appends
    its own audit row, then prunes rows past the window — old
    completed rows go, NULL-stamped and fresh rows stay."""
    import datetime as dt

    from _multi_source_retail_data_integration_hub_spark.sources.sinks import (
        RUN_LOG_SCHEMA,
    )

    raw_sales, raw_products, cats = raw
    spark.sql("DROP TABLE IF EXISTS test_dw.etl_run_log")
    import shutil
    shutil.rmtree("spark-warehouse/test_dw.db/etl_run_log", ignore_errors=True)
    spark.sql("CREATE DATABASE IF NOT EXISTS test_dw")
    seed = spark.createDataFrame(
        [
            ("run_old", "success", 10, 10, 1.0, dt.datetime.now() - dt.timedelta(days=90)),
            ("run_inflight", "running", 5, 0, 0.0, None),  # age unknown: keep
        ],
        RUN_LOG_SCHEMA,
    )
    seed.write.mode("append").saveAsTable("test_dw.etl_run_log")

    res = pipeline.run_pipeline(
        spark, raw_sales, raw_products, cats, database="test_dw",
        run_ts=RUN_TS, thresholds=THRESHOLDS, log_retention_days=30,
    )
    assert res.status == "success"
    assert res.counts["run_log_pruned"] == 1  # only run_old
    ids = {r.run_id for r in spark.table("test_dw.etl_run_log").collect()}
    assert "run_old" not in ids
    assert "run_inflight" in ids and res.run_id in ids
