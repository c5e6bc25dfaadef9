"""Outside-in tracing: spans around calls into the engine's layers.

Spans are kept in memory and written out when the run ends. Each span
has a name, a layer, start and end (epoch seconds, the clock Spark's
status store uses), a parent and the op it belongs to. Three kinds are
recorded:

* one per op and one per op phase (``build``, ``action``), opened by
  the benchmark around its own calls;
* one per call into a wrapped public function of ``pipeline``,
  ``operators``, or the ``sources`` table loader and writers;
* one per Spark job, read from the status store after the op. Every
  open span runs under its own job group, so a job's group names its
  parent span; a job without one (issued from a thread the engine
  started, such as a backfill's shard writes) is parented to the
  deepest span of the op that was open when it was submitted.

Nothing here changes the engine: wrapping rebinds module attributes and
``uninstall`` puts the originals back.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "accident_prediction_montreal_spark"
GROUP_PREFIX = "perfbench:"

# The reference's geo chain, by module.
PIPELINE_FNS = {
    "pipeline.matching": ("match_accidents_with_roads",),
    "pipeline.road_features": ("road_features",),
    "pipeline.weather": ("smooth_risky_weather", "weather_for_samples"),
    "pipeline.dataset": ("build_dataset",),
    "pipeline.backfill": ("backfill_month_shards",),
}
# The table loader and the writers, by module.
SOURCES_FNS = {
    "sources.registry": ("load_table",),
    "sources.files": ("compact_partitions",),
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Collects spans. ``set_group(span_id | None)`` is called whenever the
    current thread's innermost span changes, so jobs can name their span."""

    def __init__(self, set_group=lambda span_id: None):
        self.spans: list[Span] = []
        self.set_group = set_group
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        # The client thread's current op phase: the parent of spans
        # opened by threads that have none of their own.
        self._phase: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, layer: str) -> Span:
        t = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._phase
        with self._lock:
            span = Span(
                id=len(self.spans),
                name=name,
                layer=layer,
                start=time.time(),
                end=None,
                parent=parent.id if parent else None,
                op=parent.op if parent else None,
            )
            if span.op is None:
                span.op = span.id
            self.spans.append(span)
        stack.append(span)
        self.set_group(span.id)
        self._add_overhead(time.perf_counter() - t)
        return span

    def _close(self, span: Span) -> None:
        t = time.perf_counter()
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        outer = stack[-1] if stack else self._phase
        self.set_group(outer.id if outer else None)
        self._add_overhead(time.perf_counter() - t)

    def _add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    @contextmanager
    def span(self, name: str, layer: str):
        """A span under the current thread's innermost one; a span with no
        parent starts a new op."""
        span = self._open(name, layer)
        try:
            yield span
        finally:
            self._close(span)

    @contextmanager
    def phase(self, name: str, layer: str):
        """An op phase on the client thread; threads started inside it
        parent their spans to it."""
        with self.span(name, layer) as span:
            self._phase = span
            try:
                yield span
            finally:
                self._phase = None

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(fn.__name__, layer):
                return fn(*args, **kwargs)

        return traced

    def add_jobs(self, jobs: list[dict], op: Span) -> None:
        """Record finished Spark jobs (dicts from ``read_jobs``) of one op:
        each under the span its job group names, else (a job submitted
        from a thread the engine started) under the deepest span of the
        op that was open when the job was submitted."""
        by_id = {s.id: s for s in self.spans if s.op == op.id}
        depth = {}
        for s in by_id.values():  # spans are appended parents first
            depth[s.id] = depth[s.parent] + 1 if s.parent in depth else 0
        for job in jobs:
            parent = by_id.get(job["group_span"])
            if parent is None:
                parent = max(
                    (
                        s
                        for s in by_id.values()
                        if s.start <= job["start"] <= (s.end or s.start)
                    ),
                    key=lambda s: (depth[s.id], s.start),
                    default=op,
                )
            self.spans.append(
                Span(
                    id=len(self.spans),
                    name=f"job {job['job_id']}",
                    layer="job",
                    start=job["start"],
                    end=job["end"],
                    parent=parent.id,
                    op=op.id,
                    attrs={k: v for k, v in job.items() if k not in ("start", "end")},
                )
            )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered, cursor = 0.0, s.start
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end if c.end is not None else c.start, end))
            for c in children.get(s.id, [])
        ):
            lo = max(lo, cursor)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = max(0.0, (end - s.start) - covered)
    return out


def phase_of(span: Span, by_id: dict[int, Span]) -> str | None:
    """``build`` or ``action``: the op phase a span sits under."""
    while span is not None:
        if span.layer in ("plans", "exec") and span.name in ("build", "action"):
            return span.name
        span = by_id.get(span.parent)
    return None


# --- wrapping -------------------------------------------------------------


def wrap_targets() -> list[tuple[object, str]]:
    """(function, layer) for every public function the trace wraps."""
    targets = []
    for mod_name, names in PIPELINE_FNS.items():
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        for name in names:
            targets.append((getattr(mod, name), f"pipeline.{name}"))
    operators = importlib.import_module(f"{PKG}.operators")
    for module in sorted(m.name for m in pkgutil.iter_modules(operators.__path__)):
        mod = importlib.import_module(f"{PKG}.operators.{module}")
        for name, fn in vars(mod).items():
            if (
                not name.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
            ):
                targets.append((fn, f"operators.{module}"))
    for mod_name, names in SOURCES_FNS.items():
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        for name in names:
            targets.append((getattr(mod, name), f"sources.{name}"))
    return targets


def install(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Rebind every engine module attribute that *is* a target function
    (plan modules bind operators at import time with ``from ... import``)
    to a traced wrapper. Returns the undo list for ``uninstall``."""
    wrappers = {id(fn): (fn, tracer.wrap(fn, layer)) for fn, layer in wrap_targets()}
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            hit = wrappers.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(mod, attr, hit[1])
                undo.append((mod, attr, value))
    return undo


def uninstall(undo) -> None:
    for mod, attr, original in undo:
        setattr(mod, attr, original)


# --- Spark status store ---------------------------------------------------


def _opt(value):
    return value.get() if value.isDefined() else None


def read_jobs(sc, first_job_id: int) -> list[dict]:
    """Every job from ``first_job_id`` on, with its stages' metrics summed.

    Job ids are dense, so the scan stops at the first id the store does
    not have. Call after draining the listener bus.
    """
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    jobs = []
    job_id = first_job_id
    while True:
        try:
            j = store.job(job_id)
        except Py4JJavaError:
            return jobs
        group = _opt(j.jobGroup())
        submitted, completed = _opt(j.submissionTime()), _opt(j.completionTime())
        rec = {
            "job_id": job_id,
            "group_span": (
                int(group[len(GROUP_PREFIX):])
                if group and group.startswith(GROUP_PREFIX)
                else None
            ),
            "start": submitted.getTime() / 1000 if submitted else 0.0,
            "end": (completed or submitted).getTime() / 1000 if submitted else 0.0,
            "status": j.status().toString(),
            "stages": 0,
            "skipped_stages": 0,
            "tasks": 0,
            "failed_tasks": 0,
            "run_s": 0.0,
            "cpu_s": 0.0,
            "gc_s": 0.0,
            "input_mb": 0.0,
            "output_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        ids = j.stageIds()
        for i in range(ids.size()):
            st = store.lastStageAttempt(ids.apply(i))
            if st.status().toString() == "SKIPPED":
                rec["skipped_stages"] += 1
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numTasks()
            rec["failed_tasks"] += st.numFailedTasks()
            rec["run_s"] += st.executorRunTime() / 1e3
            rec["cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["input_mb"] += st.inputBytes() / 2**20
            rec["output_mb"] += st.outputBytes() / 2**20
            rec["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            rec["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            rec["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        jobs.append(rec)
        job_id += 1


def drain_listener_bus(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def next_job_id(sc, hint: int) -> int:
    """The first job id not in the status store, scanning up from ``hint``."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    while True:
        try:
            store.job(hint)
        except Py4JJavaError:
            return hint
        hint += 1


def make_streaming_listener(totals: dict):
    """A StreamingQueryListener adding micro-batch counts and durations
    into ``totals`` (keys ``batches``, ``trigger_s``, ``commit_s``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            ms = event.progress.durationMs
            totals["batches"] += 1
            totals["trigger_s"] += ms.get("triggerExecution", 0) / 1e3
            totals["commit_s"] += (ms.get("commitOffsets", 0) + ms.get("walCommit", 0)) / 1e3

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# --- /proc readers ---------------------------------------------------------


def _stat_fields(pid: int) -> list[str]:
    """The fields of /proc/<pid>/stat after the command name."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU time of the PySpark daemon and its workers: every live
    descendant of the JVM whose command line runs a ``pyspark`` module,
    with the children it reaped, plus the children the JVM itself reaped
    (workers it started directly that have exited, and the few other
    commands it ran). Counting the reaped ones keeps the total from
    falling when a worker exits; callers take differences."""
    import os

    tick = os.sysconf("SC_CLK_TCK")
    parents: dict[int, int] = {}
    cmd: dict[int, bytes] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            parents[int(entry)] = int(_stat_fields(int(entry))[1])
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd[int(entry)] = f.read()
        except OSError:
            continue
    # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
    total = sum(int(x) for x in _stat_fields(jvm_pid)[13:15]) / tick
    for pid in parents:
        p = parents[pid]
        while p in parents and p != jvm_pid and p > 1:
            p = parents[p]
        if p == jvm_pid and b"pyspark" in cmd.get(pid, b""):
            try:
                total += sum(int(x) for x in _stat_fields(pid)[11:15]) / tick
            except OSError:
                continue
    return total


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# --- per-layer totals -------------------------------------------------------

_JOB_COUNTS = ("stages", "skipped_stages", "tasks", "failed_tasks")
_JOB_SUMS = (
    "run_s",
    "cpu_s",
    "gc_s",
    "input_mb",
    "output_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)


def summarize(spans: list[Span], cores: int) -> dict[str, float]:
    """Per-layer totals over ``spans`` (whole ops with their jobs).

    Self time goes to the span's layer: the build phase's to
    ``plans.build_self_s`` (Python plan construction outside any wrapped
    call or job), a wrapped call's to ``<layer>.self_s``. In the action
    phase, the time before its first job is ``exec.first_job_delay_s``
    (Catalyst analysis, optimization and planning). ``unattributed_s`` is
    what no layer explains: op time outside both phases, plus action time
    after the first job that no job covers.
    """
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    first_job: dict[int, float] = {}
    for s in spans:
        if s.layer == "job":
            first_job[s.parent] = min(first_job.get(s.parent, s.start), s.start)
    m: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        m[key] = m.get(key, 0.0) + value

    for s in spans:
        if s.layer == "op":
            add("op_s", s.duration)
            add("unattributed_s", selfs[s.id])
            for key, value in s.attrs.items():
                add(key, value)
        elif s.layer == "plans":
            add("plans.build_s", s.duration)
            add("plans.build_self_s", selfs[s.id])
            add("plans.build_py_cpu_s", s.attrs.get("py_cpu_s", 0.0))
        elif s.layer == "exec":
            delay = 0.0
            if s.id in first_job:
                delay = min(max(first_job[s.id] - s.start, 0.0), s.duration)
            add("exec.first_job_delay_s", delay)
            add("unattributed_s", max(selfs[s.id] - delay, 0.0))
        elif s.layer == "job":
            phase = phase_of(s, by_id) or "action"
            add(f"exec.jobs.{phase}", 1)
            for key in _JOB_COUNTS:
                add(f"exec.{key}.{phase}", s.attrs[key])
            for key in _JOB_SUMS:
                add(f"exec.{key}", s.attrs[key])
            add("exec.job_s", s.duration)
            parent = by_id.get(s.parent)
            if parent is not None and parent.layer not in ("op", "plans", "exec"):
                add(f"{parent.layer}.jobs", 1)
        else:
            add(f"{s.layer}.self_s", selfs[s.id])
            add(f"{s.layer}.calls", 1)
    m["plans.build_jobs"] = m.get("exec.jobs.build", 0.0)
    if m.get("op_s"):
        m["exec.slot_utilization"] = m.get("exec.run_s", 0.0) / (m["op_s"] * cores)
    return m
