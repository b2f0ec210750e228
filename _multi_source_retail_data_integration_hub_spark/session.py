"""SparkSession factory.

Local runs use one JVM sized to the host: ``local[N]`` over the cores
this process may run on, and a driver heap of the smaller of 16g and
three quarters of physical RAM. ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEMORY`` override either for a deployment. The
configuration below is chosen so the *same* logical plans scale to a
multi-executor cluster: AQE on (runtime join selection, partition
coalescing, skew-join splitting), UTC session timezone (the reference
strips timezones before load — /root/reference/etl/load.py:223-225),
Arrow enabled for the few Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "retail_hub_spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY") or f"{min(16 << 30, phys * 3 // 4) >> 20}m"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # a join whose keys are a SUPERSET of a bucketed scan's keys
        # (the subsplit candidate join adds a salt derived per row) is
        # already co-located — don't force a re-shuffle on all keys.
        # Semantics-preserving: Spark only skips the Exchange when the
        # existing hash partitioning is a subset of the join keys.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 8,
    executor_memory_gb: int = 64,
    shuffle_partition_factor: float = 2.5,
) -> dict[str, str]:
    """The SCALE.md "100 TB deployment recipe" as an executable config
    profile: the exact cluster-level switches a production rollout
    applies on top of the engine's session defaults (``get_spark``).

    Everything here is exercised in this repo at bench scale; nothing
    is speculative. Split by when each key binds:

    - SQL confs (``spark.sql.*``) are runtime-settable — apply them to
      a live session with ``apply_cluster_conf`` or pass the whole
      dict as ``get_spark(extra_conf=...)``.
    - Resource confs (executor count/cores/memory, shuffle service)
      bind at submit time — feed them to ``spark-submit --conf`` /
      the cluster manager; they are inert but harmless on local[*].
    """
    total_cores = executors * cores_per_executor
    # SCALE.md "Shuffle sizing": ~2-3x total cores, AQE coalesces the
    # small ones and splits the skewed ones at runtime
    shuffle_partitions = int(total_cores * shuffle_partition_factor)
    return {
        # resources (submit-time)
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_memory_gb}g",
        "spark.executor.memoryOverheadFactor": "0.1",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(executors),
        "spark.shuffle.service.enabled": "true",
        # shuffle sizing + adaptive re-planning (SCALE.md)
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scans: keep file splits executor-memory-friendly and let
        # row-group stats + DPP prune (tests/test_pushdown.py)
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # joins: broadcast every dim that fits (explicit F.broadcast
        # in the star joins is a hint; this is the planner ceiling)
        "spark.sql.autoBroadcastJoinThreshold": "64MB",
        "spark.sql.cbo.enabled": "true",  # ANALYZE TABLE feeds it (tests/test_stats.py)
        # bucketed-table readers (SCALE.md persisted-state recipe):
        # superset-keyed joins/aggs reuse the scan partitioning instead
        # of re-shuffling on all keys (same key as get_spark)
        "spark.sql.requireAllClusterKeysForCoPartition": "false",
        # Python boundary: Arrow-batched everywhere
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # streaming: RocksDB state store for large keyed state
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider"
        ),
        "spark.sql.session.timeZone": "UTC",
    }


def apply_cluster_conf(spark: SparkSession, conf: dict[str, str] | None = None) -> list[str]:
    """Apply the runtime-settable subset of ``cluster_conf`` to a live
    session; returns the keys that had to be SKIPPED because they bind
    at submit time (resource confs on an already-running cluster).
    """
    skipped: list[str] = []
    for k, v in (conf or cluster_conf()).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            skipped.append(k)
    return skipped
