"""Benchmark harness: run the registered query suite once at a given
scale factor and print ONE JSON line the driver records as BENCH_r{N}.json.

Usage:
    python bench.py                       # $SPARK_GRAFT_SF_DIR or sf0.1
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py

One first-run pass over ``__spark_entry__.queries()`` in the order it
returns them (query number: q000, q01, ..., q997). Per query we force
FULL execution with a ``noop``-format write: unlike ``count()`` (which
lets Catalyst prune projection columns, so a map-only query's computed
columns would never run), the noop sink materializes every output
column and discards it. A warmup pays JVM/codegen/parquet/Arrow and
Structured Streaming first-use costs before the timed pass.

The stdout line holds ``metric``, ``value`` (summed seconds),
``unit``, ``queries`` (per-query seconds, in run order), ``sf`` and
``n_queries``, plus ``streaming_startup_s`` and ``failures`` when
present. ``bench_latest.json`` (``$SPARK_GRAFT_BENCH_OUT`` overrides)
holds the same fields plus ``run_config``.

Caveats:
- A single first-run pass carries host noise; warm and cold runs with
  a noise bound are measured by ``perfbench/``.
- Many queries share session tables (every caller of
  plans/training_data.py ``session_table``, e.g. ``_doc_tokens`` for
  q47/q109/q114/q122/q137/q141): whichever query of a group runs first
  pays the one-time materialization; the others measure marginal
  cost. Per-query deltas within a group are only comparable
  suite-to-suite, not in isolation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from _multi_source_retail_data_integration_hub_spark.session import get_spark  # noqa: E402
from _multi_source_retail_data_integration_hub_spark.streaming import jobs  # noqa: E402


def _loadavg() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except (AttributeError, OSError):  # non-POSIX / restricted env
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        pass

    spark = get_spark("bench")
    # Warmup: trigger JVM/codegen/parquet-reader/noop-sink init, the
    # shuffle + AQE machinery, string hashing, and the Python/Arrow
    # worker pool OUTSIDE the timings, so no first-use cost lands on
    # whichever query touches a subsystem first.
    from pyspark.sql import functions as F  # noqa: PLC0415

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(20_000)
    # shuffle + join + window + codegen framework
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    agg.join(li.limit(100), "l_returnflag").write.format("noop").mode("overwrite").save()
    # string split/md5/explode path (text operators)
    docs_path = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(docs_path):
        d = spark.read.parquet(docs_path).limit(200)
        (
            d.select(F.explode(F.split("text", r"\s+")).alias("t"))
            .select(F.md5("t").alias("h"))
            .groupBy("h").count()
            .write.format("noop").mode("overwrite").save()
        )
    # Python/Arrow worker pool (pandas-UDF stages)
    spark.range(64).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()

    # Structured Streaming machinery (state-store provider, availableNow
    # planner, memory sink): one-time init that would otherwise land
    # entirely in the first streaming query's number. A 100-row file
    # stream drains it; the measured cost is reported separately as
    # streaming_startup_s so per-query figures are marginal stream cost.
    streaming_startup_s = None
    warm_dir = tempfile.mkdtemp(prefix="bench_stream_warm_")
    try:
        tiny = os.path.join(warm_dir, "t")
        spark.range(100).select(
            F.col("id"), F.current_timestamp().alias("ts")
        ).write.parquet(tiny)
        t0 = time.perf_counter()
        jobs.run_available_now(
            spark.readStream.schema("id long, ts timestamp")
            .parquet(tiny)
            .withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day"))
            .count(),
            "bench_stream_warm",
        )
        spark.catalog.dropTempView("bench_stream_warm")
        streaming_startup_s = round(time.perf_counter() - t0, 3)
    except Exception:  # noqa: BLE001
        pass  # warmup is best-effort; queries still run without it
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)

    queries = entrymod.queries()
    # Exact-demo twins demoted from the suite loop: q16/q54 are
    # deliberately SinglePartition exact demos whose scale paths (q146
    # Pareto curve, q142 histogram decile cutpoints) stay benched. Both
    # remain registered, driver-scored, and oracle-checked.
    demoted_demos = ["q16_pareto", "q54_spend_deciles"]
    per_query: dict[str, float] = {}
    failures: dict[str, str] = {}
    # Host-noise provenance: the artifact carries the 1-minute load
    # average at suite start and end, so a reader can tell a loud-host
    # capture from a regression.
    load_start = _loadavg()
    for name, fn in queries.items():
        if name in demoted_demos:
            continue
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        per_query[name] = round(time.perf_counter() - t0, 3)

    out = {
        "metric": "suite_seconds",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "n_queries": len(per_query),
    }
    if streaming_startup_s is not None:
        out["streaming_startup_s"] = streaming_startup_s
    if failures:
        out["failures"] = failures
    # Full machine-readable artifact on disk: the driver's capture can
    # truncate to the stdout tail, so bench_latest.json always holds
    # every per-query entry plus run provenance.
    artifact = dict(
        out,
        run_config={
            "sf_dir": sf_dir,
            "cpus": str(spark.sparkContext.defaultParallelism),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "demoted_demos": demoted_demos,
            "loadavg_1m_start": load_start,
            "loadavg_1m_end": _loadavg(),
        },
    )
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(REPO, "bench_latest.json")
    )
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
