"""Tracing for the benchmark's traced run.

Everything is observed from outside the program:

* ``Tracer`` keeps spans in memory (name, layer, start, end, parent,
  op id) and writes them out at the end. Spans come from wrappers the
  benchmark installs around the program's public functions
  (``Tracer.wrap_module``); each span runs under its own Spark job
  group, so jobs in the event log can be charged to the innermost span
  that started them.
* ``parse_event_log`` reads Spark's uncompressed JSON event log and
  returns per-job task metrics keyed by job group.
* ``StreamProgress`` is a ``StreamingQueryListener`` that records each
  micro-batch's input rows and duration.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class _Wrapped:
    """A traced stand-in for a module-level function.

    Pickles back to the original function by reference, so a wrapped
    function captured into a UDF closure reaches the Python workers
    untraced (they import the program fresh)."""

    def __init__(self, tracer: Tracer, fn, layer: str, module_name: str, attr: str):
        functools.update_wrapper(self, getattr(sys.modules[module_name], attr))
        self._tracer = tracer
        self._fn = fn
        self._layer = layer
        self._ref = (module_name, attr)

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._ref[1], self._layer) as sp:
            out = self._fn(*args, **kwargs)
            if sp is not None and (
                isinstance(out, int) or isinstance(out, dict) and all(isinstance(v, int) for v in out.values())
            ):
                sp.attrs["ret"] = out
            return out

    def __reduce__(self):
        return getattr, (sys.modules[self._ref[0]], self._ref[1])


class Tracer:
    """In-memory span recorder. Disabled tracers add one attribute check
    per wrapped call and record nothing."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.enabled = False
        self.spans: list[Span] = []
        self.op = 0
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        # op id -> seconds spent in DataFrame checkpoint calls
        self.checkpoint_s: dict[int, float] = {}

    # -- spans ---------------------------------------------------------
    def group_of(self, span: Span | None) -> str:
        return f"bench:{self.op}:{span.sid if span else 'op'}"

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def current(self) -> Span | None:
        """The innermost open span."""
        return self._stack[-1] if self._stack else None

    def begin_op(self, op: int) -> None:
        """Start op ``op``; stream listeners read ``self.op`` even when
        tracing is disabled."""
        self.op = op
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(self.group_of(None), f"op {op}")

    def end_op(self) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    # -- wrapping ------------------------------------------------------
    def wrap(self, module, attr: str, layer: str, impl=None) -> None:
        """Replace ``module.attr`` and every alias of it bound by name in
        the program's other loaded modules. The span calls ``impl``
        (default: the original function)."""
        fn = getattr(module, attr)
        if isinstance(fn, _Wrapped):
            return
        wrapped = _Wrapped(self, impl or fn, layer, module.__name__, attr)
        root = module.__name__.split(".")[0]
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not name.startswith(root):
                continue
            for a, v in list(vars(mod).items()):
                if v is fn:
                    self._patched.append((mod, a, fn))
                    setattr(mod, a, wrapped)

    def wrap_module(self, module, layer: str) -> None:
        """Wrap every public function defined in ``module``."""
        for attr, v in list(vars(module).items()):
            if (
                not attr.startswith("_")
                and callable(v)
                and getattr(v, "__module__", None) == module.__name__
                and not isinstance(v, type)
            ):
                self.wrap(module, attr, layer)

    def unwrap_all(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # -- results -------------------------------------------------------
    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its direct children cover."""
        children = [s for s in self.spans if s.parent == span.sid]
        covered = sum(c.end - c.start for c in children)
        return (span.end - span.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([vars(s) for s in self.spans], f, default=str)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t = tracer
        self.name = name
        self.layer = layer
        self.span: Span | None = None

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return None
        parent = t._stack[-1] if t._stack else None
        with t._lock:
            sid = len(t.spans)
            self.span = Span(sid, self.name, self.layer, t.op, parent.sid if parent else None, time.perf_counter())
            t.spans.append(self.span)
        t._stack.append(self.span)
        if t.sc is not None:
            t.sc.setJobGroup(t.group_of(self.span), self.name)
        return self.span

    def __exit__(self, *exc):
        t = self.t
        if self.span is None:
            return False
        self.span.end = time.perf_counter()
        t._stack.pop()
        if t.sc is not None:
            parent = t._stack[-1] if t._stack else None
            t.sc.setJobGroup(t.group_of(parent), parent.name if parent else f"op {t.op}")
        return False


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
@dataclass
class JobStats:
    group: str = ""
    stages: int = 0
    tasks: int = 0
    nonempty_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


def parse_event_log(lines) -> dict[int, JobStats]:
    """Per-job task metrics from a Spark JSON event log.

    Jobs are keyed by id and carry their ``spark.jobGroup.id``; tasks
    reach their job through the stage ids each job lists. A task is
    non-empty when it read any input or shuffle record. Scheduler delay
    follows the Spark UI's definition: task duration minus executor
    run, deserialize, result serialization and result fetch time."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            js = JobStats(group=props.get("spark.jobGroup.id") or "")
            jobs[jid] = js
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid].stages += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            js = jobs[jid]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            out = m.get("Output Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            js.tasks += 1
            if inp.get("Records Read", 0) > 0 or sr.get("Total Records Read", 0) > 0:
                js.nonempty_tasks += 1
            js.run_s += run_ms / 1e3
            js.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            js.gc_s += m.get("JVM GC Time", 0) / 1e3
            duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            other = (
                run_ms
                + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + (info.get("Getting Result Time", 0) or 0)
            )
            js.scheduler_delay_s += max(0, duration - other) / 1e3
            js.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            js.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            js.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            js.output_bytes += out.get("Bytes Written", 0)
    return jobs


def read_event_log(log_dir: str, app_id: str) -> dict[int, JobStats]:
    """Parse application ``app_id``'s rolling event log under
    ``log_dir``: ``eventlog_v2_<app_id>/events_<n>_<app_id>``, in order
    of ``n``."""
    import glob
    import os

    paths = sorted(
        glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )

    def lines():
        for p in paths:
            with open(p, encoding="utf-8") as f:
                yield from f

    return parse_event_log(lines())


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------
def stream_listener(tracer: Tracer):
    """A StreamingQueryListener recording, per micro-batch, the op that
    was running when its query started, input rows and duration."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.run_op: dict[str, int] = {}
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            self.run_op[str(event.runId)] = tracer.op

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append({
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "input_rows": p.numInputRows,
                "duration_s": (p.batchDuration or 0) / 1e3,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProgress()
