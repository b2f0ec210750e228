from .cleansing import clip, normalize_column_names, pandas_title, std_text, truncate
from .derived import (
    age_group,
    calendar_columns,
    customer_segment,
    date_key,
    fiscal_quarter,
    fiscal_year,
    row_hash,
)

__all__ = [
    "age_group",
    "calendar_columns",
    "clip",
    "customer_segment",
    "date_key",
    "fiscal_quarter",
    "fiscal_year",
    "normalize_column_names",
    "pandas_title",
    "row_hash",
    "std_text",
    "truncate",
]
