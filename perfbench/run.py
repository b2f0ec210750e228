"""Benchmark runner.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 40 --trace 0

Run from the repository root. Inputs are derived from the seed under
``.bench_work/<workload>/`` (cleared per run), the program runs in one
process on ``local[<cores>]``, every output is checked, and the last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are its per-layer ones, from a run that wraps the
program's public functions in spans, gives each span its own Spark job
group, writes the Spark event log and listens to streaming progress.
The line before the result records the run's configuration.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3  # session starts per run, each in a new JVM; setup_s is their median CPU seconds
DRIVER_MEMORY = "2g"
MODULE_LAYERS = {
    # module whose public functions are wrapped -> layer
    "sources.retail": "sources.read",
    "sources.testdata": "sources.testdata",
    "operators.scd2": "operators.scd2",
    "operators.text": "operators.text",
    "operators.similarity": "operators.similarity",
    "streaming.jobs": "streaming",
    "sources.sinks": "sinks.other",
}
PIPELINE_SPANS = {
    # plans.pipeline function -> layer
    "validate_extract": "sources.extract",
    "validate_transform": "plans.transform_gate",
    "validate_load": "plans.load_gate",
    "run_pipeline": "plans.pipeline",
}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Ctx:
    """What a step sees: the tracer, its lane (traced runs keep a
    traced and an untraced copy of per-load state) and a dict for
    per-op attributes."""

    def __init__(self, tracer, lane: int):
        self.tracer = tracer
        self.lane = lane
        self.attrs: dict = {}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [root, HERE, os.path.join(root, "tools")]
    try:
        import _multi_source_retail_data_integration_hub_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {root}: {exc}", file=sys.stderr)
        return 2

    from workloads import WORKLOADS, Checks

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    # every JVM keeps its temp files in the work dir: no /tmp/hsperfdata
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS=jvm_opts,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
    )
    load_start = os.getloadavg()
    steal_start = cpu_steal()

    wl = WORKLOADS[args.workload](work, args.seed)
    wl.prepare()
    log("inputs generated")

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })

    # each set-up (wall s, CPU s) starts a session in a new JVM; the
    # last one's session runs the workload. setup_s is an end-to-end
    # metric, so the traced run starts only the one it needs.
    setups = []
    for i in range(1 if args.trace else SETUPS):
        if i:
            shutdown(spark)
        spark, wall, cpu = launch(conf)
        setups.append((wall, cpu))
    log(f"set-ups (wall s, CPU s) {[(round(w, 3), round(c, 2)) for w, c in setups]}")

    import tracing as tr

    tracer = tr.Tracer(spark.sparkContext)
    listener = tr.stream_listener(tracer)
    spark.streams.addListener(listener)
    if args.trace:
        install_tracing(tracer, spark)
    wl.spark = spark

    checks = Checks()
    ops: list[dict] = []
    op_id = 0

    def run_cycle(cycle: int, measured: bool) -> None:
        nonlocal op_id
        pairs = measured and args.trace
        for i, step in enumerate(wl.cycle(cycle)):
            # traced run: a pairable step runs traced and untraced,
            # in alternating order, each on its own lane
            plan = [(0, True), (1, False)] if pairs and step.pairable else [(0, pairs)]
            if i % 2 == 1:
                plan.reverse()
            for lane, traced in plan:
                op_id += 1
                op = run_step(step, tracer, Ctx(tracer, lane), op_id, cycle, traced, checks, jvm)
                if measured:
                    ops.append(op)
        wl.after_cycle(cycle, [0, 1] if pairs else [0], checks)

    jvm = jvm_pid(spark)
    # the traced run first warms the JVM with one untimed, untraced
    # cycle: in a JIT-cold JVM the first of each kind of op is the
    # slowest, whichever side of a pair it lands on
    warm = 1 if args.trace else 0
    for cycle in range(warm):
        run_cycle(cycle, measured=False)
    t0 = time.perf_counter()
    cycle = warm
    last = 0.0
    # start another cycle only if one more fits in the measured time
    while cycle == warm or time.perf_counter() - t0 + last <= args.seconds:
        tc = time.perf_counter()
        run_cycle(cycle, measured=True)
        last = time.perf_counter() - tc
        cycle += 1
    cycles = cycle - warm
    measured_s = time.perf_counter() - t0
    log(f"measured {cycles} cycle(s) in {measured_s:.1f}s")

    wl.finish(checks)
    streams = stream_checks(listener, ops, checks)
    rss_mb = peak_rss_mb(spark)
    config = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "master": spark.sparkContext.master, "cores": cores, "driver_memory": DRIVER_MEMORY,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version, "warehouse": conf["spark.sql.warehouse.dir"],
        "cycles": cycles, "warmup_cycles": warm, "ops": len(ops), "measured_s": round(measured_s, 3),
        "loadavg_start": load_start,
    }
    app_id = spark.sparkContext.applicationId
    if args.trace:
        tracer.enabled = False
        tracer.unwrap_all()
    shutdown(spark)
    config["loadavg_end"] = os.getloadavg()
    config["steal_share"] = cpu_steal(steal_start)
    log("checked and stopped")

    if args.trace:
        jobs = tr.read_event_log(os.path.join(work, "eventlog"), app_id)
        metrics = layer_metrics(wl, tracer, ops, jobs, listener.run_op, streams, cycles, setups)
        per_op_spark(ops, jobs, listener.run_op)
        tracer.dump(os.path.join(work, "spans.json"))
    else:
        metrics = end_to_end_metrics(ops, cycles, setups, rss_mb)
    with open(os.path.join(work, "ops.json"), "w", encoding="utf-8") as f:
        json.dump({"config": config, "ops": ops, "failures": checks.failures}, f, default=str)
    shutil.rmtree(os.path.join(work, "warehouse"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "local"), ignore_errors=True)

    failed = sum(not o["ok"] for o in ops) + len(checks.failures)
    print("# perfbench config " + json.dumps(config))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops) + checks.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def launch(conf):
    """Start a session in a new JVM and run one small job. Returns the
    session, the wall seconds and the CPU seconds this took: this
    process's share plus everything the JVM has used."""
    from _multi_source_retail_data_integration_hub_spark.session import get_spark

    own = os.times()
    t = time.perf_counter()
    spark = get_spark("perfbench", conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    wall = time.perf_counter() - t
    return spark, wall, process_tree_cpu_s(jvm_pid(spark)) - own.user - own.system


def shutdown(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_step(step, tracer, ctx, op_id, cycle, traced, checks, jvm) -> dict:
    """Run one step as one timed op; check its output untimed."""
    from _multi_source_retail_data_integration_hub_spark.plans import training_data

    if step.clear_before:
        training_data.clear_session_caches()
    entries_before = len(training_data._SIG_CACHE)
    tracer.enabled = traced
    tracer.begin_op(op_id)
    ok = True
    result = None
    cpu = process_tree_cpu_s(jvm)
    t = time.perf_counter()
    try:
        with tracer.span(step.name, "op"):
            result = step.run(ctx)
    except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
        traceback.print_exc()
        ok = False
    seconds = time.perf_counter() - t
    cpu = process_tree_cpu_s(jvm) - cpu
    tracer.end_op()
    tracer.enabled = False
    if ok:
        try:
            step.check(result, checks)
        except Exception:  # noqa: BLE001 - a check that raises has failed
            traceback.print_exc()
            checks.expect(False, f"{step.name}: check raised")
    log(f"op {op_id} cycle {cycle} {step.kind} {step.name} traced={int(traced)} {seconds:.3f}s ok={ok}")
    return {
        "op": op_id, "cycle": cycle, "kind": step.kind, "name": step.name, "lane": ctx.lane,
        "traced": traced, "pairable": step.pairable, "seconds": seconds, "cpu_s": cpu, "ok": ok,
        "cache_entries_built": len(training_data._SIG_CACHE) - entries_before,
        **ctx.attrs,
    }


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------
def install_tracing(tracer, spark) -> None:
    """Wrap the program's public functions, from outside, in spans."""
    import importlib

    import __spark_entry__  # noqa: F401  (loads every query module first)

    def mod(name: str):
        return importlib.import_module(f"_multi_source_retail_data_integration_hub_spark.{name}")

    pipeline = mod("plans.pipeline")
    for fn, layer in PIPELINE_SPANS.items():
        tracer.wrap(pipeline, fn, layer)
    tracer.wrap(mod("plans.retail"), "build_warehouse", "plans.build_warehouse")
    sinks = mod("sources.sinks")
    write = sinks.write_warehouse_table
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def table_files(table: str, database: str) -> dict[str, int]:
        out = {}
        for d, _, files in os.walk(os.path.join(warehouse, f"{database}.db", table)):
            for f in files:
                if not f.startswith((".", "_")):
                    out[os.path.join(d, f)] = os.path.getsize(os.path.join(d, f))
        return out

    def counted_write(df, name, database="retail_dw", *args, **kwargs):
        """``write_warehouse_table``, recording on its span the table and
        the data files and bytes it added."""
        if not tracer.enabled:
            return write(df, name, database, *args, **kwargs)
        before = table_files(name, database)
        out = write(df, name, database, *args, **kwargs)
        new = {p: size for p, size in table_files(name, database).items() if p not in before}
        tracer.current().attrs.update(table=name, files=len(new), bytes=sum(new.values()))
        return out

    tracer.wrap(sinks, "write_warehouse_table", "sinks.write", impl=counted_write)
    for m, layer in MODULE_LAYERS.items():
        tracer.wrap_module(mod(m), layer)

    # checkpoint time is a counter, not a span: it stays in its
    # caller's self time
    df_cls = type(spark.range(1))
    for meth in ("localCheckpoint", "checkpoint"):
        orig = getattr(df_cls, meth)

        def timed(self, *a, _orig=orig, **kw):
            t = time.perf_counter()
            try:
                return _orig(self, *a, **kw)
            finally:
                if tracer.enabled:
                    tracer.checkpoint_s[tracer.op] = tracer.checkpoint_s.get(tracer.op, 0.0) + time.perf_counter() - t

        tracer._patched.append((df_cls, meth, orig))
        setattr(df_cls, meth, timed)


def stream_checks(listener, ops, checks) -> dict[int, list[dict]]:
    """Batches per op; a streaming op that read no rows has failed."""
    deadline = time.time() + 5
    by_op: dict[int, list[dict]] = {}
    while True:
        by_op.clear()
        for b in listener.batches:
            op = listener.run_op.get(b["run_id"])
            by_op.setdefault(op, []).append(b)
        started = set(listener.run_op.values())
        if all(op in by_op for op in started) or time.time() > deadline:
            break
        time.sleep(0.2)
    for op in sorted(set(listener.run_op.values())):
        rows = sum(b["input_rows"] for b in by_op.get(op, []))
        checks.expect(rows > 0, f"op {op}: streaming query read 0 input rows")
    for o in ops:
        o["stream_batches"] = len(by_op.get(o["op"], []))
    return by_op


def process_tree_cpu_s(root_pid: int | None) -> float:
    """CPU seconds (user + system) used so far by this process, the JVM
    ``root_pid`` and every live descendant of it (the Python UDF
    workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    times: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is ppid; utime, stime, cutime, cstime follow at 11..14
        parent[int(d)] = int(fields[1])
        times[int(d)] = sum(int(x) for x in fields[11:15]) / tick
    tree = {root_pid} if root_pid is not None else set()
    changed = bool(tree)
    while changed:
        changed = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                changed = True
    own = os.times()
    return own.user + own.system + sum(times.get(p, 0.0) for p in tree)


def cpu_steal(since: tuple[int, int] | None = None):
    """This machine's (steal, total) CPU ticks from /proc/stat; given an
    earlier reading, the share of CPU time stolen by the hypervisor
    since then (other guests running on the same cores)."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    now = (ticks[7] if len(ticks) > 7 else 0, sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> float:
    """JVM VmHWM plus this process's max RSS, in MB."""
    pid = jvm_pid(spark)
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------
def pass_seconds(ops, kind=None) -> float:
    """Median over cycles of the wall seconds a cycle's ops (of
    ``kind``, if given) took."""
    per_cycle: dict[int, float] = {}
    for o in ops:
        if kind is None or o["kind"] == kind:
            per_cycle[o["cycle"]] = per_cycle.get(o["cycle"], 0.0) + o["seconds"]
    return median(list(per_cycle.values()))


def end_to_end_metrics(ops, cycles, setups, rss_mb) -> dict:
    m = {
        "setup_s": (median([c for _, c in setups]), "s"),
        "cpu_s": (sum(o["cpu_s"] for o in ops) / cycles, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def job_op(js, stream_op) -> int | None:
    """The op a Spark job ran for: from its job group, or from the
    streaming query (run id = job group) the op started."""
    g = js.group
    return int(g.split(":")[1]) if g.startswith("bench:") else stream_op.get(g)


def per_op_spark(ops, jobs, stream_op) -> None:
    """Attach each op's Spark job totals to its record (side file)."""
    by_op: dict[int, list] = {}
    for js in jobs.values():
        by_op.setdefault(job_op(js, stream_op), []).append(js)
    for o in ops:
        mine = by_op.get(o["op"], [])
        o["spark"] = {k: sum(getattr(j, k) for j in mine) for k in vars(mine[0])
                      if k != "group"} if mine else {}
        o["spark"]["jobs"] = len(mine)


def layer_metrics(wl, tracer, ops, jobs, stream_op, streams, cycles, setups) -> dict:
    """Per-layer figures from the traced ops, per cycle. ``stream_op``
    maps a streaming query's run id (its jobs' group) to the op that
    started it."""
    traced = {o["op"]: o for o in ops if o["traced"]}
    spans = [s for s in tracer.spans if s.op in traced]
    per_cycle = 1.0 / max(1, cycles)

    def total(layer):
        return sum(s.end - s.start for s in spans if s.layer == layer)

    m: dict[str, tuple[float, str]] = {
        "session.setup_s": (median([c for _, c in setups]), "s"),
        "session.setup_wall_s": (median([w for w, _ in setups]), "s"),
    }
    # sources
    rows_in = sum(s.attrs.get("ret", 0) for s in spans if s.layer == "sources.extract")
    kept = sum(s.attrs["ret"]["stg_retail_sales"] for s in spans if s.layer == "plans.transform_gate" and "ret" in s.attrs)
    m["sources.extract_s"] = ((total("sources.extract") + total("sources.read")) * per_cycle, "s")
    m["sources.testdata_s"] = (total("sources.testdata") * per_cycle, "s")
    m["sources.rows_in"] = (rows_in * per_cycle, "rows")
    m["sources.kept_ratio"] = (kept / rows_in if rows_in else 0.0, "ratio")
    # plans
    m["plans.build_warehouse_s"] = (total("plans.build_warehouse") * per_cycle, "s")
    m["plans.transform_gate_s"] = (total("plans.transform_gate") * per_cycle, "s")
    m["plans.load_gate_s"] = (total("plans.load_gate") * per_cycle, "s")
    m["plans.pipeline.self_s"] = (
        sum(tracer.self_seconds(s) for s in spans if s.layer == "plans.pipeline") * per_cycle, "s")
    # sinks
    writes = [s for s in spans if s.layer == "sinks.write"]
    written = sum(s.attrs.get("bytes", 0) for s in writes)
    in_bytes = sum(o.get("input_bytes", 0) for o in traced.values())
    m["sinks.write_s"] = (total("sinks.write") * per_cycle, "s")
    m["sinks.write_s.fact_sales"] = (
        sum(s.end - s.start for s in writes if s.attrs.get("table") == "fact_sales") * per_cycle, "s")
    m["sinks.files_written"] = (sum(s.attrs.get("files", 0) for s in writes) * per_cycle, "count")
    m["sinks.bytes_written"] = (written * per_cycle, "bytes")
    m["sinks.bytes_per_input_byte"] = (written / in_bytes if in_bytes else 0.0, "ratio")
    # operators
    expired = sum(v[0] for v in getattr(wl, "scd2_counts", {}).values())
    inserted = sum(v[1] for v in getattr(wl, "scd2_counts", {}).values())
    m["operators.scd2_s"] = (total("operators.scd2") * per_cycle, "s")
    m["operators.scd2.rows_expired"] = (expired, "rows")
    m["operators.scd2.rows_inserted"] = (inserted, "rows")
    m["operators.text_s"] = (total("operators.text") * per_cycle, "s")
    m["operators.similarity_s"] = (total("operators.similarity") * per_cycle, "s")
    # queries
    q_ops = [o for o in traced.values() if "plan_s" in o]
    m["query.build_s"] = (total("query.build") * per_cycle, "s")
    m["query.exec_s"] = (total("query.exec") * per_cycle, "s")
    m["catalyst.plan_s"] = (sum(o["plan_s"] for o in q_ops) * per_cycle, "s")
    m["plan.exchanges"] = (sum(o["exchanges"] for o in q_ops) * per_cycle, "count")
    m["plan.python_eval_nodes"] = (sum(o["python_eval_nodes"] for o in q_ops) * per_cycle, "count")
    # session caches
    m["cache.entries_built"] = (sum(o["cache_entries_built"] for o in traced.values()) * per_cycle, "count")
    m["cache.checkpoint_s"] = (sum(tracer.checkpoint_s.get(op, 0.0) for op in traced) * per_cycle, "s")
    # streaming
    batches = [b for op in traced for b in streams.get(op, [])]
    durations = [b["duration_s"] for b in batches]
    m["streaming.batches"] = (len(batches) * per_cycle, "count")
    m["streaming.input_rows"] = (sum(b["input_rows"] for b in batches) * per_cycle, "rows")
    m["streaming.batch_p50_s"] = (median(durations), "s")
    m["streaming.batch_max_s"] = (max(durations, default=0.0), "s")
    # Spark event log: jobs under a traced op's groups, or a stream it started
    mine = [js for js in jobs.values() if job_op(js, stream_op) in traced]
    tasks = sum(j.tasks for j in mine)
    m["spark.jobs"] = (len(mine) * per_cycle, "count")
    m["spark.stages"] = (sum(j.stages for j in mine) * per_cycle, "count")
    m["spark.tasks"] = (tasks * per_cycle, "count")
    m["spark.nonempty_task_ratio"] = (sum(j.nonempty_tasks for j in mine) / tasks if tasks else 0.0, "ratio")
    for key, unit in (("run_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("scheduler_delay_s", "s"),
                      ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
        name = {"run_s": "executor_run_s", "cpu_s": "executor_cpu_s"}.get(key, key)
        m[f"spark.{name}"] = (sum(getattr(j, key) for j in mine) * per_cycle, unit)
    # whole ops and the tracing overhead (paired traced/untraced ops)
    paired = [o for o in ops if o["pairable"]]
    pairs_t = sum(o["seconds"] for o in paired if o["traced"])
    pairs_u = sum(o["seconds"] for o in paired if not o["traced"])
    m["trace.overhead_share"] = (pairs_t / pairs_u - 1.0 if pairs_u else 0.0, "ratio")
    full = [o for o in traced.values() if o["kind"] == "full"]
    m["etl.full_s"] = (median([o["seconds"] for o in full]), "s")
    m["etl.full_span_sum_s"] = (median([
        sum(s.end - s.start for s in spans if s.op == o["op"] and s.layer in
            ("sources.read", "sources.extract", "plans.build_warehouse", "plans.transform_gate",
             "sinks.write", "sinks.other", "plans.load_gate"))
        + sum(tracer.self_seconds(s) for s in spans if s.op == o["op"] and s.layer == "plans.pipeline")
        for o in full
    ]), "s")
    m["etl.incremental_s"] = (median([o["seconds"] for o in traced.values() if o["kind"] == "incremental"]), "s")
    traced_ops = list(traced.values())
    m["cycle_s"] = (pass_seconds(traced_ops), "s")
    m["curation.cold_s"] = (pass_seconds(traced_ops, "cold"), "s")
    m["curation.shared_s"] = (pass_seconds(traced_ops, "shared"), "s")
    from workloads import Curation

    for q in Curation.QUERIES:
        m[f"query.{q}_s"] = (median([o["seconds"] for o in traced.values() if o["kind"] == "cold" and o["name"] == q]), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.exit(main())
