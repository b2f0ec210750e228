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

#: The exact money type of the convention above.
DEC = "decimal(18,2)"


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
    return F.sum(F.col(col).cast(DEC)).cast("double")


ID_OFFSET_UNIT = 100_000


def id_offset(max_id: int | None, k: int = 1) -> int:
    """Offset added to a real id to make a synthetic row's id (a
    mutant, a noised copy, a probe batch) in a table whose largest
    real id is ``max_id`` (``None``, an empty table, reads as 0):
    ``k * ID_OFFSET_UNIT * (max_id // ID_OFFSET_UNIT + 1)``.

    For non-negative real ids ``r <= max_id`` and ``o = id_offset(max_id)``:

    - ``o > max_id``, so ``r + o`` never equals a real id;
    - ``o`` is a multiple of 5, so an ``id % 5`` sample (q22) keeps
      or drops a row and its ``+o`` twin together;
    - ``r + o < 2 * o = id_offset(max_id, 2)``, so a ``k=2`` probe
      batch collides neither with real ids nor with ``k=1`` mutants.

    Every shipped corpus has ``max_id < ID_OFFSET_UNIT``, so the
    offsets there are 100000 and 200000. ``id_offset_sql`` renders
    the same rule for the DuckDB oracles."""
    return k * ID_OFFSET_UNIT * ((max_id or 0) // ID_OFFSET_UNIT + 1)


def id_offset_sql(table: str, col: str, k: int = 1) -> str:
    """``id_offset`` of ``table``'s max ``col`` as a DuckDB scalar subquery."""
    return (
        f"(SELECT {k * ID_OFFSET_UNIT} * "
        f"(COALESCE(MAX({col}), 0) // {ID_OFFSET_UNIT} + 1) FROM {table})"
    )
