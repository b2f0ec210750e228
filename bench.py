"""Benchmark harness: run the headline query surface at a given scale
factor and print ONE JSON line the driver records as BENCH_r{N}.json.

Usage:
    python bench.py                       # $SPARK_GRAFT_SF_DIR or sf0.1
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py

Per query we force FULL execution with a ``noop``-format write: unlike
``count()`` (which lets Catalyst prune projection columns, so a
map-only query's computed columns would never run), the noop sink
materializes every output column and discards it — the honest
benchmark action. The first query pays parquet-footer/codegen warmup,
so we run a tiny warmup scan first and report per-query seconds plus
the summed total.

Methodology caveats (r7 advice):
- Single-run totals carry ~±6% noise plus ~45 s of suite-wide
  first-touch cost; ``SPARK_GRAFT_BENCH_RUNS=2`` additionally reports
  a ``steady`` block (best-of-N) tracked round-over-round, while
  ``value``/``queries`` stay FIRST-run (the driver convention).
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
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from _multi_source_retail_data_integration_hub_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None

    spark = get_spark("bench")
    # Warmup: trigger JVM/codegen/parquet-reader/noop-sink init, the
    # shuffle + AQE machinery, string hashing, and the Python/Arrow
    # worker pool OUTSIDE the timings. Round 2 showed ~0.3-1 s of
    # first-use cost per subsystem getting misattributed to whichever
    # query touches it first — with the heavy text/ANN queries now
    # registered first, a scan-only warmup left them paying all of it.
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
    # entirely in q126's number and dominate its round-over-round delta
    # (r5 ask). A 100-row file stream drains it; the measured cost is
    # reported separately as streaming_startup_s so the per-query
    # figure reflects marginal stream cost.
    streaming_startup_s = None
    try:
        import tempfile  # noqa: PLC0415

        tiny = os.path.join(tempfile.mkdtemp(prefix="bench_stream_warm_"), "t")
        spark.range(100).select(
            F.col("id"), F.current_timestamp().alias("ts")
        ).write.parquet(tiny)
        t0 = time.perf_counter()
        warm = (
            spark.readStream.schema("id long, ts timestamp")
            .parquet(tiny)
            .withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day"))
            .count()
            .writeStream.format("memory")
            .queryName("bench_stream_warm")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        try:
            warm.awaitTermination(120)
        finally:
            if warm.isActive:
                warm.stop()
        spark.catalog.dropTempView("bench_stream_warm")
        streaming_startup_s = round(time.perf_counter() - t0, 3)
    except Exception:  # noqa: BLE001
        pass  # warmup is best-effort; queries still run without it

    queries = entrymod.queries()
    # Exact-demo twins demoted from the suite loop (r9 verdict ask #6):
    # q16/q54 are deliberately SinglePartition exact demos whose scale
    # paths (q146 Pareto curve, q142 histogram decile cutpoints) stay
    # benched — ~0.7 s/run of by-design-unrepresentative spend. Both
    # remain registered, driver-scored, and judge-sweepable.
    demoted_demos = ["q16_pareto", "q54_spend_deciles"]
    for g in demoted_demos:
        queries.pop(g, None)
    per_query: dict[str, float] = {}
    failures: dict[str, str] = {}
    # Numeric order (q01, q02, ...) — the same measurement convention as
    # rounds 1-2: cheap JVM-only queries run first and absorb residual
    # per-subsystem first-use costs the warmup can't reach (per-plan
    # janino compiles, AQE machinery), so heavy-query timings reflect
    # steady-state plan cost.
    # SPARK_GRAFT_BENCH_RUNS > 1 keeps value/queries at the FIRST run
    # (the driver's single-run convention, comparable with prior
    # rounds) and adds a best-of-N "steady" block — the number to
    # track round-over-round now that single-run noise exceeds typical
    # per-round deltas (r7 verdict ask #5).
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1")))
    steady_query: dict[str, float] = {}
    # queries whose run 0 errored but a retry succeeded: their recorded
    # "first" time is actually a WARM run (caches primed by the failed
    # attempt), so cold-run totals are skewed — flag instead of hiding
    # (r8 advice).
    # Host-noise provenance: captures of identical code scatter
    # 0.7x-2.1x with background load (SCALE.md r10-r11 records), so
    # the artifact carries the 1-minute load average at suite start
    # and end — a reader can tell a loud-host capture from a
    # regression WITHOUT cross-referencing capture notes. Deliberately
    # NOT part of _update_floor's run_config identity: load varies
    # per capture and must never reset the floor.
    try:
        load_start = round(os.getloadavg()[0], 2)
    except (AttributeError, OSError):  # non-POSIX / restricted env
        load_start = None
    warm_first: list[str] = []
    for name, fn in sorted(queries.items()):
        first = best = None
        err = None
        for run_idx in range(runs):
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                # keep any earlier successful timing: a flaky later run
                # must not discard a valid measurement
                err = f"{type(exc).__name__}: {exc}"[:200]
                continue
            dt = time.perf_counter() - t0
            if first is None:
                first = dt
                if run_idx > 0:
                    warm_first.append(name)
            best = dt if best is None else min(best, dt)
        if best is not None:
            per_query[name] = round(first, 3)
            steady_query[name] = round(best, 3)
        elif err is not None:
            failures[name] = err

    total = round(sum(per_query.values()), 3)
    out = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf_num if sf_num is not None else sf,
        "n_queries": len(per_query),
    }
    if runs > 1:
        out["steady"] = {
            "value": round(sum(steady_query.values()), 3),
            "runs": runs,
            "queries": steady_query,
        }
    if streaming_startup_s is not None:
        # one-time Structured Streaming init, paid in warmup (not in any
        # per-query figure); q126's number is marginal stream cost
        out["streaming_startup_s"] = streaming_startup_s
    if warm_first:
        out["warm_first"] = warm_first
    if failures:
        out["failures"] = failures
    # Full machine-readable artifact on disk (the driver's BENCH_r{N}
    # capture can truncate to the stdout tail — r4 recorded
    # parsed:null that way). bench_latest.json always holds ALL
    # per-query entries + run provenance; a per-round copy is
    # committed as bench_r{N}.json.
    artifact = dict(
        out,
        run_config={
            "sf_dir": sf_dir,
            "runs": runs,
            "cpus": str(spark.sparkContext.defaultParallelism),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "suite_order": "sorted(name)",
            "demoted_demos": demoted_demos,
            "loadavg_1m_start": load_start,
            "loadavg_1m_end": (
                round(os.getloadavg()[0], 2) if load_start is not None else None
            ),
        },
    )
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(REPO, "bench_latest.json")
    )
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    if runs > 1 and not failures:
        try:
            _update_floor(steady_query, sf_num if sf_num is not None else sf, spark)
        except Exception as exc:  # noqa: BLE001
            # the floor is a side artifact: a corrupt/unwritable floor
            # file must never eat the stdout JSON line the driver
            # records after a full ~200 s capture
            print(f"bench_floor.json update failed: {exc!r}", file=sys.stderr)
    print(json.dumps(out))


def _update_floor(steady_query: dict[str, float], sf, spark) -> None:
    """Noise-robust per-query reference (r9 verdict ask #4): host noise
    between solo captures scatters untouched queries 0.7x-1.9x, wider
    than a typical round's genuine delta, so regression claims compare
    FLOORS (per-query min steady time across every capture of the
    current code) instead of single captures. bench_floor.json merges
    each steady capture via min(); when a query's implementation
    changes, delete its entry (or the file) so the floor re-seeds from
    post-change captures — a stale floor under-reports a real
    regression, never over-reports one. A capture at a different SF
    *or run configuration* (cpus / shuffle partitions) resets the
    whole file: minima must never mix configurations, or the floor
    becomes unreachable under the canonical setup."""
    floor_path = os.path.join(REPO, "bench_floor.json")
    run_cfg = {
        "cpus": str(spark.sparkContext.defaultParallelism),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    prior = {}
    if os.path.exists(floor_path):
        try:
            with open(floor_path) as fh:
                prior = json.load(fh)
        except (OSError, ValueError):
            prior = {}
    if (
        not isinstance(prior, dict)
        or prior.get("sf") != sf
        or prior.get("run_config") != run_cfg
        or not isinstance(prior.get("queries", {}), dict)
    ):
        prior = {}
    old_q = prior.get("queries", {})
    merged = {
        name: round(min(t, old_q[name]), 3) if name in old_q else t
        for name, t in steady_query.items()
    }
    # Provenance when the suite itself changes (r10 advice): dropping a
    # prior floor entry (renamed/demoted query, or the protocol's own
    # delete-to-re-seed step) or seeding a new one rebases the floor
    # TOTAL without any capture being faster/slower. queries_changed is
    # an APPEND-ONLY list of change records — a single overwritten slot
    # would hide every change but the latest from a floor-to-floor
    # comparison spanning multiple suite edits. Manual re-seed deletes
    # happen outside this function; whoever deletes appends the record
    # (with the dropped seconds) by hand — see the r11 entry.
    out = {
        "metric": "suite_seconds_floor",
        "sf": sf,
        "run_config": run_cfg,
        "value": round(sum(merged.values()), 3),
        "n_queries": len(merged),
        "n_captures": int(prior.get("n_captures", 0)) + 1,
        "updated_unix": int(time.time()),
        "queries": merged,
    }
    history = prior.get("queries_changed", [])
    if isinstance(history, dict):  # migrate the pre-r11 single-slot shape
        history = [history]
    if old_q and set(old_q) != set(merged):
        history = history + [
            {
                "at_capture": out["n_captures"],
                "added": sorted(set(merged) - set(old_q)),
                "removed": sorted(set(old_q) - set(merged)),
                "removed_floor_seconds": round(
                    sum(t for n, t in old_q.items() if n not in merged), 3
                ),
            }
        ]
    if history:
        out["queries_changed"] = history
    with open(floor_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
