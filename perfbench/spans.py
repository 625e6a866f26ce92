"""Layer spans and Spark event-log attribution for the traced run.

Spans are recorded from the benchmark's side: :func:`install` wraps the
public functions of every library layer module (``operators``,
``functions``, ``sources``, ``streaming``, ``plans``) so each call opens a
span named after its layer and module. Nothing in the library is edited;
the wrappers exist only in a traced process.

Spark jobs are read back from the local event log written by the session
(``spark.eventLog.dir``) after the session stops, and each job is charged
to the innermost span open at its submission time.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "hds_functions_spark"
#: library sub-packages whose public functions are wrapped, by layer name
LAYERS = ("operators", "functions", "sources", "streaming", "plans")


@dataclass
class Span:
    """One timed call: ``layer`` (e.g. ``operators``), ``module`` (e.g.
    ``dedup``), wall-clock start/end in epoch nanoseconds."""

    layer: str
    module: str
    name: str
    start_ns: int
    end_ns: int = 0
    children_ns: int = 0

    @property
    def self_ns(self) -> int:
        return self.end_ns - self.start_ns - self.children_ns


@dataclass
class Recorder:
    """Keeps the spans of one process in memory; only the thread that
    created it records (streaming callbacks run on other threads)."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _thread: int = field(default_factory=threading.get_ident)

    def open(self, layer: str, module: str, name: str) -> Span | None:
        if not self.enabled or threading.get_ident() != self._thread:
            return None
        span = Span(layer, module, name, time.time_ns())
        self._stack.append(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end_ns = time.time_ns()
        self._stack.pop()
        if self._stack:
            self._stack[-1].children_ns += span.end_ns - span.start_ns
        self.spans.append(span)

    @contextlib.contextmanager
    def span(self, layer: str, module: str, name: str):
        span = self.open(layer, module, name)
        try:
            yield span
        finally:
            self.close(span)


def _wrap(fn, rec: Recorder, layer: str, module: str):
    # functools.wraps keeps __module__/__qualname__, so cloudpickle still
    # ships the function to Python workers by reference (workers import the
    # unwrapped library and never see the recorder).
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        span = rec.open(layer, module, fn.__name__)
        try:
            return fn(*args, **kwargs)
        finally:
            rec.close(span)

    return wrapper


def _public_functions(mod):
    names = getattr(mod, "__all__", None)
    if names is None:
        names = [n for n in vars(mod) if not n.startswith("_")]
    for name in names:
        obj = getattr(mod, name, None)
        if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
            yield name, obj


def install(rec: Recorder) -> int:
    """Wrap every public function of the layer modules; returns how many.

    Every loaded library module that bound one of them by ``from ..
    import`` is re-pointed at the wrapper too, so registry code goes
    through the spans."""
    wrappers: dict[int, object] = {}
    for layer in LAYERS:
        sub = importlib.import_module(f"{PACKAGE}.{layer}")
        for info in pkgutil.iter_modules(sub.__path__):
            mod = importlib.import_module(f"{sub.__name__}.{info.name}")
            for name, fn in _public_functions(mod):
                wrapped = _wrap(fn, rec, layer, info.name)
                setattr(mod, name, wrapped)
                wrappers[id(fn)] = wrapped
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PACKAGE or modname.startswith(PACKAGE + ".")):
            continue
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and id(obj) in wrappers:
                setattr(mod, name, wrappers[id(obj)])
    return len(wrappers)


# --- event log ------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageStats:
    tasks: int = 0
    task_ms: list[int] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)


#: task metric -> (event-log paths inside "Task Metrics", scale to the unit)
_TASK_METRICS = {
    "task_s": ([("Executor Run Time",)], 1e-3),
    "cpu_s": ([("Executor CPU Time",)], 1e-9),
    "gc_s": ([("JVM GC Time",)], 1e-3),
    "shuffle_read_bytes": ([("Shuffle Read Metrics", "Remote Bytes Read"),
                            ("Shuffle Read Metrics", "Local Bytes Read")], 1),
    "shuffle_write_bytes": ([("Shuffle Write Metrics", "Shuffle Bytes Written")], 1),
    "spill_bytes": ([("Disk Bytes Spilled",)], 1),
    "input_bytes": ([("Input Metrics", "Bytes Read")], 1),
    "output_bytes": ([("Output Metrics", "Bytes Written")], 1),
}
#: SQL accumulators of the Python exec nodes (Spark's PythonSQLMetrics)
_PY_ACCUMS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for key in path:
        d = d.get(key, {}) if isinstance(d, dict) else {}
    return float(d) if isinstance(d, (int, float)) else 0.0


def parse_event_log(lines) -> tuple[dict[int, Job], dict[int, StageStats]]:
    """Jobs and per-stage task statistics from Spark event-log lines."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageStats] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"],
                                     stage_ids=list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], StageStats())
            tm = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.task_ms.append(int(_dig(tm, ("Executor Run Time",))))
            for name, (paths, scale) in _TASK_METRICS.items():
                value = sum(_dig(tm, path) for path in paths) * scale
                st.metrics[name] = st.metrics.get(name, 0.0) + value
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = _PY_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    st.metrics[key] = st.metrics.get(key, 0.0) + float(acc.get("Update", 0))
    return jobs, stages


def attribute(spans: list[Span], times_ms: list[int]) -> list[Span | None]:
    """Innermost span open at each time (``None`` outside every span).

    Spans of one thread nest, so the innermost open span at ``t`` is the
    latest-starting span whose interval contains ``t``."""
    order = sorted(spans, key=lambda s: (s.start_ns, -s.end_ns))
    starts = [s.start_ns for s in order]
    out: list[Span | None] = []
    for t_ms in times_ms:
        t = t_ms * 1_000_000
        i = bisect.bisect_right(starts, t) - 1
        hit = None
        while i >= 0:
            s = order[i]
            if s.end_ns >= t:
                hit = s
                break
            i -= 1
        out.append(hit)
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self seconds per ``layer`` and per ``layer.module``."""
    out: dict[str, float] = {}
    for s in spans:
        for key in (s.layer, f"{s.layer}.{s.module}"):
            out[key] = out.get(key, 0.0) + s.self_ns / 1e9
    return out


def heaviest_stage_skew(stages: dict[int, StageStats], stage_ids) -> float:
    """max/median task time of the stage with the most task time (1.0 when
    no stage has two tasks); the median is floored at 1 ms."""
    cands = [stages[i] for i in stage_ids if i in stages and stages[i].tasks >= 2]
    if not cands:
        return 1.0
    st = max(cands, key=lambda s: sum(s.task_ms))
    return max(st.task_ms) / max(statistics.median(st.task_ms), 1.0)
