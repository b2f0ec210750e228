"""SCD2 merge scenario tests (SURVEY §5.2.3 / FIXTURES.md §4):
run-1 initial load, run-2 with unchanged + changed + new business keys;
assert expire/insert/version/anti-join-guard behavior, then a run-3
re-send of identical data must be a no-op.
"""

from pyspark.sql import functions as F

from _multi_source_retail_data_integration_hub_spark.functions.derived import row_hash
from _multi_source_retail_data_integration_hub_spark.operators.scd2 import (
    END_OF_TIME,
    scd2_initial,
    scd2_merge,
)

T1 = "2024-01-01 00:00:00"
T2 = "2024-02-01 00:00:00"
T3 = "2024-03-01 00:00:00"


def snap(spark, rows):
    df = spark.createDataFrame(rows, "customer_id string, gender string, age long")
    return df.withColumn(
        "row_hash", row_hash(F.col("customer_id"), F.col("gender"), F.col("age").cast("string"))
    )


def test_scd2_full_lifecycle(spark):
    run1 = snap(spark, [("C1", "Male", 30), ("C2", "Female", 40), ("C3", "Male", 50)])
    dim1 = scd2_initial(run1, T1)
    assert dim1.filter(F.col("is_current")).count() == 3

    # run 2: C1 unchanged, C2 changed (age 40->41), C4 new, C3 absent
    run2 = snap(spark, [("C1", "Male", 30), ("C2", "Female", 41), ("C4", "Female", 22)])
    dim2 = scd2_merge(dim1, run2, "customer_id", T2)
    rows = {(r.customer_id, r.version): r for r in dim2.collect()}
    assert len(rows) == 5  # 3 originals + C2v2 + C4v1

    # unchanged key untouched (anti-join guard dropped the re-send)
    c1 = rows[("C1", 1)]
    assert c1.is_current and str(c1.effective_end_date).startswith("9999")

    # changed key: old version expired AT the new version's start
    c2v1, c2v2 = rows[("C2", 1)], rows[("C2", 2)]
    assert not c2v1.is_current and str(c2v1.effective_end_date) == T2
    assert c2v2.is_current and c2v2.age == 41
    assert str(c2v2.effective_start_date) == T2
    assert str(c2v2.effective_end_date) == END_OF_TIME.replace(" 00:00:00", " 00:00:00")

    # absent key stays current (dimension never forgets)
    assert rows[("C3", 1)].is_current

    # brand-new key
    c4 = rows[("C4", 1)]
    assert c4.is_current and c4.version == 1

    # run 3: identical re-send of run2 -> strict no-op
    dim3 = scd2_merge(dim2, run2, "customer_id", T3)
    assert dim3.count() == 5
    assert dim3.filter(F.col("is_current")).count() == 4
    assert dim3.filter(F.col("effective_start_date") == F.lit(T3).cast("timestamp")).count() == 0


def test_scd2_version_increments_beyond_two(spark):
    dim = scd2_initial(snap(spark, [("C1", "Male", 30)]), T1)
    dim = scd2_merge(dim, snap(spark, [("C1", "Male", 31)]), "customer_id", T2)
    dim = scd2_merge(dim, snap(spark, [("C1", "Male", 32)]), "customer_id", T3)
    rows = sorted(dim.collect(), key=lambda r: r.version)
    assert [r.version for r in rows] == [1, 2, 3]
    assert [r.is_current for r in rows] == [False, False, True]
    # contiguous timeline: each end == next start
    assert rows[0].effective_end_date == rows[1].effective_start_date
    assert rows[1].effective_end_date == rows[2].effective_start_date

