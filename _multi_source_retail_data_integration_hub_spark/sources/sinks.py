"""Warehouse sinks (SURVEY §2.1 S5-S10).

The reference loads pandas frames into BigQuery with explicit schemas
and WRITE_TRUNCATE/WRITE_APPEND dispositions (etl/load.py:195-239),
optionally staging through MySQL with row-by-row INSERTs
(etl/mysql_staging.py:139-173). Here every sink is a Spark writer:
schema enforcement travels WITH the DataFrame, dispositions map to save
modes, and the JDBC path batches inserts natively instead of looping.

Scale notes: the fact table writes partitioned by date_key (daily
pruning at 100 TB — the Spark analogue of the reference's MySQL
secondary indexes, etl/mysql_staging.py:74-76); marts/dims are small
and write unpartitioned. ``overwrite`` on a partitioned table with
``partitionOverwriteMode=dynamic`` replaces only touched partitions —
the incremental daily-batch story of the Airflow DAG.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# table -> partition columns (fact partitioned for date pruning)
PARTITIONED_TABLES = {"fact_sales": ("date_key",)}


def bootstrap_warehouse(spark: SparkSession, database: str = "retail_dw") -> None:
    """S6: namespace bootstrap (etl/load.py:42-52's dataset create)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")


def write_warehouse_table(
    df: DataFrame,
    name: str,
    database: str = "retail_dw",
    mode: str = "overwrite",
    partition_by: tuple[str, ...] | None = None,
) -> None:
    """S5: truncate/append load (etl/load.py:195-239).

    WRITE_TRUNCATE -> mode="overwrite", WRITE_APPEND -> mode="append";
    the reference's tz-strip (etl/load.py:223-225) is unnecessary here —
    the session runs with spark.sql.session.timeZone=UTC throughout.

    Partitioned overwrite of an EXISTING table goes through
    ``insertInto`` with ``partitionOverwriteMode=dynamic``: only the
    partitions present in ``df`` are replaced (the incremental
    daily-batch story). ``saveAsTable(mode='overwrite')`` would drop
    and recreate the WHOLE table — dynamic mode has no effect on that
    path — silently deleting historical partitions.
    """
    parts = partition_by if partition_by is not None else PARTITIONED_TABLES.get(name, ())
    full_name = f"{database}.{name}"
    spark = df.sparkSession
    if parts and mode == "overwrite" and spark.catalog.tableExists(full_name):
        # align column order with the stored schema (insertInto is
        # positional) and replace only the touched partitions. Columns
        # the stored schema doesn't know are a schema-evolution event —
        # refuse rather than silently dropping the new data.
        stored_cols = spark.table(full_name).columns
        extra = [c for c in df.columns if c not in stored_cols]
        if extra:
            raise ValueError(
                f"write_warehouse_table: incoming batch for {full_name} "
                f"carries columns absent from the stored schema: {extra}. "
                "Evolve the table schema first (ALTER TABLE ... ADD "
                "COLUMNS) or drop the columns explicitly."
            )
        aligned = df.select(*stored_cols)
        (
            aligned.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .insertInto(full_name)
        )
        return
    writer = df.write.mode(mode)
    if parts:
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(*parts)
    writer.saveAsTable(full_name)


def ensure_table_writable(spark: SparkSession, table: str) -> None:
    """Make ``saveAsTable(table)`` safe to (re-)create: drop any
    catalog entry AND any stale managed location left in the
    warehouse directory.

    Why both: with the session-scoped in-memory catalog, a managed
    table written by a previous (possibly killed) process leaves its
    directory under ``spark.sql.warehouse.dir`` while the new
    session's catalog has no entry for it — ``saveAsTable`` then
    fails with LOCATION_ALREADY_EXISTS even in overwrite mode. A
    persistent-metastore deployment (Hive/Glue/Unity) doesn't have
    this asymmetry (DROP TABLE removes the location); this helper
    mirrors that contract locally so the persisted-table queries are
    re-runnable across sessions. Only local ``file:`` warehouses are
    swept — on a real cluster the metastore owns the lifecycle.
    """
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if warehouse.scheme not in ("", "file"):
        return
    parts = table.split(".")
    db = parts[-2] if len(parts) > 1 else None
    leaf = parts[-1]
    root = warehouse.path
    path = f"{root}/{db}.db/{leaf}" if db else f"{root}/{leaf}"
    shutil.rmtree(path, ignore_errors=True)


#: built-in columnar/row formats this engine round-trips without extra
#: jars. Delta/Iceberg/Hudi need their connectors on the classpath —
#: absent in this container, so they stay out of the supported set
#: rather than behind silently-broken options.
FILE_FORMATS = ("parquet", "orc", "json", "csv")


def write_files(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Format-parameterized file sink (parquet/ORC stay columnar with
    statistics + pushdown; JSON/CSV are the interchange row formats —
    CSV writes a header so the read side reconstructs column names).
    """
    if fmt not in FILE_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FILE_FORMATS}")
    writer = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_files(spark, path: str, fmt: str = "parquet", schema=None) -> DataFrame:
    """Format-parameterized scan twin of ``write_files``. Pass the
    explicit ``schema`` for JSON/CSV in production — inference scans the
    data once extra and can mis-type sparse columns; parquet/ORC carry
    their schema in the footer."""
    if fmt not in FILE_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FILE_FORMATS}")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("json", "csv"):
        reader = reader.option("inferSchema", "true")
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)


def jdbc_write_options(
    url: str,
    table: str,
    batch_size: int = 10_000,
    options: dict[str, str] | None = None,
) -> dict[str, str]:
    """Writer option set for S7 (pure, plan-level — unit-testable
    without an RDBMS). ``batchsize`` is the Spark-native replacement for
    the reference's per-row INSERT loop."""
    return {
        "url": url,
        "dbtable": table,
        "batchsize": str(batch_size),
        **(options or {}),
    }


def jdbc_bounds_query(table: str, partition_column: str, quote: str = '"') -> str:
    """The one-row MIN/MAX probe that seeds a partitioned JDBC read.

    The column is identifier-quoted (ANSI double quotes by default):
    Spark's JDBC writer quotes column names at CREATE, so case-folding
    databases (Derby, Postgres) store them case-sensitively and an
    unquoted probe would case-fold to a missing column. MySQL callers
    pass ``quote='`'`` (or run with ANSI_QUOTES). Explicit ``AS``
    everywhere — Derby rejects bare correlation names on derived
    tables."""
    c = f"{quote}{partition_column}{quote}"
    return f"(SELECT MIN({c}) AS lo, MAX({c}) AS hi FROM {table}) AS b"


def jdbc_read_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int = 8,
    options: dict[str, str] | None = None,
) -> dict[str, str]:
    """Reader option set for S8 (pure, plan-level). With a partition
    column + bounds, Spark issues ``num_partitions`` range queries in
    parallel instead of one giant SELECT *."""
    opts = {"url": url, "dbtable": table}
    if partition_column:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned jdbc read needs lower/upper bounds")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    opts.update(options or {})
    return opts


def jdbc_write(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    batch_size: int = 10_000,
    options: dict[str, str] | None = None,
) -> None:
    """S7: RDBMS staging sink (etl/mysql_staging.py:46-186).

    Spark's JDBC writer batches inserts (``batchsize``) and parallelizes
    by input partition — replacing the reference's 200-line DDL +
    per-row INSERT loop. Requires the JDBC driver jar on the classpath;
    callers without one get the standard ClassNotFound analysis error.
    """
    df.write.format("jdbc").options(
        **jdbc_write_options(url, table, batch_size, options)
    ).mode(mode).save()


def _dialect_quote(url: str) -> str:
    """Identifier quote for the probe query, by JDBC URL scheme.
    MySQL/MariaDB use backticks (unless ANSI_QUOTES); everything else
    here (Derby, Postgres, Oracle, MSSQL-with-quoted-ids) is ANSI."""
    return "`" if url.startswith(("jdbc:mysql:", "jdbc:mariadb:")) else '"'


def jdbc_read(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    options: dict[str, str] | None = None,
    quote: str | None = None,
) -> DataFrame:
    """S8: RDBMS staging scan (etl/mysql_staging.py:189-200).

    With ``partition_column`` the scan first probes MIN/MAX bounds with
    a one-row query, then issues ``num_partitions`` range queries in
    parallel instead of one giant SELECT *. The probe quotes the
    column with the URL's dialect quote (override with ``quote``).
    """
    lo = hi = None
    if partition_column:
        # the probe needs the SAME connection options as the real read
        # (credentials, driver class, ...) or it fails before the read
        probe_opts = jdbc_read_options(
            url,
            jdbc_bounds_query(
                table, partition_column, quote or _dialect_quote(url)
            ),
            options=options,
        )
        bounds = spark.read.format("jdbc").options(**probe_opts).load().first()
        # positional: case-folding databases may return LO/HI
        lo, hi = bounds[0], bounds[1]
        if lo is None or hi is None:
            # empty table: no split points exist — fall back to an
            # unpartitioned read of the (empty) table
            partition_column = None
    return (
        spark.read.format("jdbc")
        .options(
            **jdbc_read_options(
                url, table, partition_column, lo, hi, num_partitions, options
            )
        )
        .load()
    )


RUN_LOG_SCHEMA = (
    "run_id string, status string, rows_extracted long, rows_loaded long, "
    "duration_seconds double, completed_at timestamp"
)


def append_run_log(
    spark: SparkSession,
    run_id: str,
    status: str,
    rows_extracted: int,
    rows_loaded: int,
    duration_seconds: float,
    database: str = "retail_dw",
    table: str = "etl_run_log",
) -> None:
    """S10: audit-log append (etl/mysql_staging.py:98-109 +
    dags/retail_etl_dag.py:480-485's JSON run report)."""
    row = spark.createDataFrame(
        [(run_id, status, rows_extracted, rows_loaded, float(duration_seconds), None)],
        RUN_LOG_SCHEMA,
    ).withColumn("completed_at", F.current_timestamp())
    row.write.mode("append").saveAsTable(f"{database}.{table}")


def current_run_id() -> str:
    return f"run_{int(time.time() * 1000)}"


def observed_write(
    df: DataFrame,
    path: str,
    metrics: dict[str, "F.Column"] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> dict:
    """Write ``df`` and collect audit metrics from the SAME job via the
    Observation API — zero extra passes over the data.

    The reference's ETL pays separate COUNT actions for its run-log
    numbers (etl/mysql_staging.py:98-109 logs rows_extracted /
    rows_loaded after the load); at 100 TB a second pass over the fact
    table just to count it doubles the scan bill. ``df.observe``
    attaches aggregate expressions to the write's own execution — the
    metrics are computed by the tasks that are already streaming the
    rows to the sink and arrive on the driver with job completion.

    ``metrics`` maps metric name -> aggregate Column (default: row
    count). Returns the observed values; feed them straight to
    ``append_run_log``.
    """
    from pyspark.sql import Observation

    if metrics is None:
        metrics = {"n_rows": F.count(F.lit(1))}
    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    write_files(observed, path, fmt, mode, partition_by)
    return obs.get
