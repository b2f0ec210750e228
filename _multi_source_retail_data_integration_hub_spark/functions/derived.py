"""Derived-column expression surface (reference §2.3, D1-D13).

Everything is a native Column expression; the reference implemented
these as pandas ``.apply`` lambdas (its only "UDFs") — none of them
need a Python UDF on Spark.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TS_FMT = "yyyy-MM-dd HH:mm:ss"  # pandas str(Timestamp) rendering (SURVEY §7.4.3)


def row_hash(*cols: Column | str, sep: str = "_") -> Column:
    """MD5 change-detection hash over key columns (D1).

    Mirrors /root/reference/etl/transform.py:88-93,199-204,270-275:
    ``md5(f"{k1}_{k2}_...")``. Timestamp columns must be pre-formatted
    with :data:`TS_FMT` by the caller to match pandas' ``str()``
    rendering byte-for-byte.
    """
    return F.md5(F.concat_ws(sep, *cols))


def ts_str(col: Column | str) -> Column:
    """Render a timestamp the way pandas ``str(Timestamp)`` does."""
    return F.date_format(col, TS_FMT)


def date_key(col: Column | str) -> Column:
    """``strftime('%Y%m%d')`` as int (D2) — the smart date surrogate key."""
    return F.date_format(col, "yyyyMMdd").cast("int")


def day_of_week_mon0(col: Column | str) -> Column:
    """Monday=0..Sunday=6 day-of-week (pandas ``dt.dayofweek``, D3).

    Spark's ``dayofweek`` is Sunday=1..Saturday=7.
    """
    return ((F.dayofweek(col) + 5) % 7).cast("int")


def is_weekend(col: Column | str) -> Column:
    """Sat/Sun flag (D4): day_of_week in {5, 6} under Mon=0."""
    return day_of_week_mon0(col) >= 5


def fiscal_year(col: Column | str) -> Column:
    """FY = year+1 when month >= 10 (D5, etl/transform.py:161-163)."""
    return F.when(F.month(col) >= 10, F.year(col) + 1).otherwise(F.year(col))


def fiscal_quarter(col: Column | str) -> Column:
    """FQ = ((month-10) mod 12) // 3 + 1 (D5, etl/transform.py:164-166).

    ``(month+2) % 12`` == floor-mod of (month-10) for month in 1..12.
    """
    return (F.floor(((F.month(col) + 2) % 12) / 3) + 1).cast("int")


def age_group(col: Column | str) -> Column:
    """pd.cut right-closed age bins (D6, etl/transform.py:207-211):
    (0,25]='18-25', (25,35]='26-35', (35,45]='36-45', (45,55]='46-55',
    (55,65]='56-65', (65,100]='65+'.

    Exact pd.cut semantics at the edges too: NULL age, age <= 0, and
    age > 100 all fall OUTSIDE the bins and yield NULL (pd.cut -> NaN)
    rather than being forced into a boundary bucket."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.isNull() | (c <= 0) | (c > 100), F.lit(None))
        .when(c <= 25, "18-25")
        .when(c <= 35, "26-35")
        .when(c <= 45, "36-45")
        .when(c <= 55, "46-55")
        .when(c <= 65, "56-65")
        .otherwise("65+")
    )


def customer_segment(n_transactions: Column | str) -> Column:
    """pd.cut right-closed segment bins (D7, etl/transform.py:214-218):
    1='New', 2-3='Occasional', 4-5='Regular', 6+='Loyal'.
    NULL / non-positive counts fall outside the bins -> NULL (pd.cut)."""
    c = F.col(n_transactions) if isinstance(n_transactions, str) else n_transactions
    return (
        F.when(c.isNull() | (c <= 0), F.lit(None))
        .when(c <= 1, "New")
        .when(c <= 3, "Occasional")
        .when(c <= 5, "Regular")
        .otherwise("Loyal")
    )


def calendar_columns(col: Column | str) -> dict[str, Column]:
    """The full dim_date attribute set (D2-D5, etl/transform.py:151-166),
    keyed by output column name. Feed to ``df.withColumns``."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "date_key": date_key(c),
        "year": F.year(c),
        "quarter": F.quarter(c),
        "month": F.month(c),
        "month_name": F.date_format(c, "MMMM"),
        "week_of_year": F.weekofyear(c),
        "day_of_month": F.dayofmonth(c),
        "day_of_week": day_of_week_mon0(c),
        "day_name": F.date_format(c, "EEEE"),
        "is_weekend": is_weekend(c),
        "fiscal_year": fiscal_year(c),
        "fiscal_quarter": fiscal_quarter(c),
    }
