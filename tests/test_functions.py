"""Unit tests for the native-expression function surface (SURVEY §2.2-2.3).

Each test pins a pandas/reference semantic trap from SURVEY §7.4:
right-closed bins, Mon=0 day-of-week, fiscal floor-mod, str.title()
apostrophe casing, clip null pass-through.
"""

import datetime as dt

from pyspark.sql import functions as F

from _multi_source_retail_data_integration_hub_spark.functions import (
    age_group,
    calendar_columns,
    clip,
    customer_segment,
    normalize_column_names,
    pandas_title,
    row_hash,
    truncate,
)
from _multi_source_retail_data_integration_hub_spark.functions.derived import ts_str


def test_pandas_title_matches_python(spark):
    cases = [
        "men's clothing",
        "women's clothing",
        "jewelery",
        "  WOMEN  dress ",
        "a-b c_d",
        "ELECTRONICS",
        "beauty & health",
        "3d printers",
        "o'neil's 2-in-1",
        "",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "raw string")
    got = {r.raw: r.t for r in df.select("raw", pandas_title("raw").alias("t")).collect()}
    for c in cases:
        assert got[c] == c.title(), f"{c!r}: spark={got[c]!r} python={c.title()!r}"


def test_age_group_right_closed_bins(spark):
    # pd.cut(bins=[0,25,35,45,55,65,100], right=True) boundaries.
    cases = {18: "18-25", 25: "18-25", 26: "26-35", 35: "26-35", 36: "36-45",
             45: "36-45", 55: "46-55", 65: "56-65", 66: "65+", 100: "65+"}
    df = spark.createDataFrame([(a,) for a in cases], "age int")
    got = {r.age: r.g for r in df.select("age", age_group("age").alias("g")).collect()}
    assert got == cases


def test_customer_segment_bins(spark):
    cases = {1: "New", 2: "Occasional", 3: "Occasional", 4: "Regular",
             5: "Regular", 6: "Loyal", 10: "Loyal"}
    df = spark.createDataFrame([(n,) for n in cases], "n int")
    got = {r.n: r.s for r in df.select("n", customer_segment("n").alias("s")).collect()}
    assert got == cases


def test_calendar_columns(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2023, 10, 1),), (dt.datetime(2023, 1, 2),), (dt.datetime(2024, 12, 31),)],
        "d timestamp",
    )
    out = df.withColumns(calendar_columns("d")).orderBy("d").collect()
    r = out[1]  # 2023-10-01, a Sunday
    assert (r.date_key, r.year, r.quarter, r.month) == (20231001, 2023, 4, 10)
    assert (r.month_name, r.day_name) == ("October", "Sunday")
    assert r.day_of_week == 6 and r.is_weekend
    assert (r.fiscal_year, r.fiscal_quarter) == (2024, 1)  # FY starts in Oct
    jan2 = out[0]  # 2023-01-02, a Monday
    assert jan2.day_of_week == 0 and not jan2.is_weekend
    assert (jan2.fiscal_year, jan2.fiscal_quarter) == (2023, 2)
    assert jan2.week_of_year == 1
    dec31 = out[2]
    assert (dec31.fiscal_year, dec31.fiscal_quarter) == (2025, 1)


def test_fiscal_quarter_all_months(spark):
    # Python reference: (m - 10) % 12 // 3 + 1 (floor-mod, etl/transform.py:164-166)
    expect = {m: (m - 10) % 12 // 3 + 1 for m in range(1, 13)}
    df = spark.createDataFrame([(dt.datetime(2023, m, 15),) for m in range(1, 13)], "d timestamp")
    got = {r.m: r.fq for r in df.select(
        F.month("d").alias("m"), calendar_columns("d")["fiscal_quarter"].alias("fq")).collect()}
    assert got == expect


def test_row_hash_matches_pandas_md5(spark):
    import hashlib

    ts = dt.datetime(2023, 11, 24)
    expected = hashlib.md5(f"CUST001_Male_{ts}".encode()).hexdigest()
    df = spark.createDataFrame([("CUST001", "Male", ts)], "cid string, g string, d timestamp")
    got = df.select(row_hash("cid", "g", ts_str("d")).alias("h")).collect()[0].h
    assert got == expected


def test_clip_and_truncate(spark):
    df = spark.createDataFrame([(5, "abcdef"), (150, "xy"), (None, None)], "age int, s string")
    rows = df.select(
        clip("age", 18, 100).alias("a"), truncate("s", 3).alias("t")
    ).collect()
    assert [(r.a, r.t) for r in rows] == [(18, "abc"), (100, "xy"), (None, None)]


def test_normalize_column_names(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["Transaction ID", " Price per Unit ", "Age"])
    assert normalize_column_names(df).columns == ["transaction_id", "price_per_unit", "age"]


def test_age_group_out_of_bin_edges_match_pd_cut(spark):
    """pd.cut(bins=[0,25,...,100]) yields NaN for NULL, <=0, and >100 —
    not a boundary bucket."""
    from _multi_source_retail_data_integration_hub_spark.functions.derived import (
        age_group,
    )

    df = spark.createDataFrame(
        [(None,), (0,), (-3,), (101,), (1,), (100,), (66,)], "age int"
    )
    got = [r["g"] for r in df.select(age_group("age").alias("g")).collect()]
    assert got == [None, None, None, None, "18-25", "65+", "65+"]


def test_clip_propagates_nan_and_null(spark):
    from _multi_source_retail_data_integration_hub_spark.functions.cleansing import (
        clip,
    )

    df = spark.createDataFrame(
        [(float("nan"),), (None,), (7.5,), (-1.0,)], "x double"
    )
    got = [r["c"] for r in df.select(clip("x", 0, 5).alias("c")).collect()]
    assert got[0] != got[0]  # NaN stays NaN (not clamped to the bound)
    assert got[1] is None
    assert got[2] == 5.0 and got[3] == 0.0


def test_tokens_empty_text_yields_empty_array(spark):
    from pyspark.sql import functions as F

    from _multi_source_retail_data_integration_hub_spark.operators.text import tokens

    df = spark.createDataFrame([("",), ("   ",), ("a b",)], "text string")
    got = [r["n"] for r in df.select(F.size(tokens("text")).alias("n")).collect()]
    assert got == [0, 0, 2]
