"""Query registry: named (spark, sf_dir) -> DataFrame callables plus
their ANSI-SQL DuckDB oracle twins.

The driver contract (/root/repo/__spark_entry__.py) runs every entry of
``QUERIES`` on Spark and the matching ``ORACLE`` SQL on DuckDB over the
same parquet tables, then compares row count + schema + order-insensitive
value hash. Registration keeps the Spark implementation and its oracle
side by side in the defining module.

Numeric determinism convention (so Spark and DuckDB hash-match exactly):
float aggregations are computed as ``SUM(CAST(x AS DECIMAL(18,2)))``
(exact, order-independent) and cast back to DOUBLE; every downstream
scalar op (division, multiplication, lag-difference) is IEEE-deterministic
given identical inputs. Never aggregate raw doubles with SUM/AVG in a
query that has an oracle twin.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Decorator: register a query; ``oracle`` is DuckDB-runnable SQL over
    the pre-registered views (region nation customer supplier part orders
    lineitem events documents embeddings). ``None`` => rows-only check
    (for genuinely non-SQL-expressible operators)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def dsum(col: str) -> Column:
    """Exact, order-independent money sum -> double (the convention above)."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")
