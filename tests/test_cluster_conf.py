"""The 100 TB deployment recipe (SCALE.md) as an executable profile:
session.cluster_conf() must apply cleanly to a live session and its
formulas must match the documented recipe."""

from _multi_source_retail_data_integration_hub_spark.session import (
    apply_cluster_conf,
    cluster_conf,
)


def test_profile_formulas():
    conf = cluster_conf(executors=1000, cores_per_executor=8)
    # shuffle partitions ~2-3x total cores (SCALE.md "Shuffle sizing")
    total_cores = 1000 * 8
    assert 2 * total_cores <= int(conf["spark.sql.shuffle.partitions"]) <= 3 * total_cores
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert conf["spark.sql.autoBroadcastJoinThreshold"] == "64MB"
    assert "RocksDBStateStoreProvider" in conf["spark.sql.streaming.stateStore.providerClass"]
    # scales with the cluster shape, not hardcoded to one size
    small = cluster_conf(executors=10, cores_per_executor=4)
    assert int(small["spark.sql.shuffle.partitions"]) == int(10 * 4 * 2.5)
    assert small["spark.executor.instances"] == "10"


def test_profile_applies_to_live_session(spark):
    """Every runtime-settable key applies without error; only
    submit-time resource keys may be skipped, and the session ends up
    actually running with the profile's SQL settings."""
    conf = cluster_conf(executors=4, cores_per_executor=8)
    # snapshot EVERY key the profile will touch: this fixture is
    # session-scoped, so anything left set here silently changes what
    # every later test exercises (e.g. RocksDB state store, CBO)
    before: dict[str, str | None] = {}
    for k in conf:
        try:
            before[k] = spark.conf.get(k)
        except Exception:
            before[k] = None
    try:
        skipped = apply_cluster_conf(spark, conf)
        # anything skipped must be a submit-time resource key, never a
        # spark.sql.* runtime conf
        assert all(not k.startswith("spark.sql.") for k in skipped), skipped
        assert spark.conf.get("spark.sql.shuffle.partitions") == conf[
            "spark.sql.shuffle.partitions"
        ]
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert (
            spark.conf.get("spark.sql.files.maxPartitionBytes")
            == conf["spark.sql.files.maxPartitionBytes"]
        )
    finally:
        for k, v in before.items():
            try:
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            except Exception:
                pass  # submit-time keys that never applied


def test_driver_memory_fits_the_host(spark):
    """The session's driver heap must not exceed physical RAM: a heap
    the host cannot back swaps or gets the JVM killed under load."""
    import os

    setting = spark.sparkContext.getConf().get("spark.driver.memory")
    heap = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(setting)
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 0 < heap <= phys, f"spark.driver.memory={setting} vs {phys} bytes of RAM"
