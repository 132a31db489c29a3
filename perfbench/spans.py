"""Spans around the program's public layer calls, and the Spark event
log parsed per span.

A span is (id, name, start, end, parent, run id). Spans are kept in
memory and written out when the run ends. With tracing on, the tracer
also wraps a fixed list of module attributes of the program (the
wrapper lives here; the program's files are never edited) and tags the
Spark jobs each span launches with a job group named after the span,
so the event log can be folded back onto spans.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import time
from dataclasses import dataclass, field

# (module, attribute) pairs wrapped in traced runs, as "layer.name" spans.
# Functions imported by name into other package modules are rebound
# there too (see Tracer.patch).
LAYER_CALLS = [
    ("hudi_utility_spark.io", "read_source"),
    ("hudi_utility_spark.validate", "reconcile"),
    ("hudi_utility_spark.write", "full_bootstrap"),
    ("hudi_utility_spark.write", "upsert"),
    ("hudi_utility_spark.write", "upsert_partial"),
    ("hudi_utility_spark.write", "delete_keys"),
    ("hudi_utility_spark.write", "merge_into"),
    ("hudi_utility_spark.repair", "resume_bootstrap"),
    ("hudi_utility_spark.repair", "partitions_to_repair"),
    ("hudi_utility_spark.timeline", "incremental_cdc"),
    ("hudi_utility_spark.index", "refresh_indexes"),
    ("hudi_utility_spark.index", "point_lookup"),
]
# (module, class, method) wrapped the same way, named "layer.method"
LAYER_METHODS = [
    ("hudi_utility_spark.ledger", "Ledger", "begin"),
    ("hudi_utility_spark.ledger", "Ledger", "finish"),
    ("hudi_utility_spark.table", "KeyedTable", "read"),
    ("hudi_utility_spark.table", "KeyedTable", "compact"),
]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans. With ``enabled`` False only the benchmark's own
    top-level spans are kept (they are the timings) and no job groups
    are set, so an untraced run pays one perf_counter pair per op."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0
        self._paused = False

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _tag(self, span: Span | None) -> None:
        if self._sc is None or not self.enabled:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"span-{span.id}", span.name, False)

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside (for untimed, multi-threaded phases: the
        span stack belongs to the timing thread)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if self._paused:
            yield Span(-1, name, 0.0)
            return
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, 0.0, parent=parent, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)
            self.bookkeeping_s += time.perf_counter() - s.end

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    # -- wrapping the program's layer calls ---------------------------------

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        wrapper.__perfbench_wrapped__ = fn
        return wrapper

    def _wrap_lock(self, fn):
        tracer = self

        @contextlib.contextmanager
        def wrapper(*a, **kw):
            cm = fn(*a, **kw)
            with tracer.span("concurrency.lock_acquire"):
                cm.__enter__()
            try:
                yield
            except BaseException:
                if not cm.__exit__(*sys.exc_info()):
                    raise
            else:
                cm.__exit__(None, None, None)

        return wrapper

    def _set(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def patch(self) -> None:
        """Wrap LAYER_CALLS / LAYER_METHODS and ``concurrency.table_lock``
        in every loaded package module that holds them."""
        if not self.enabled:
            return
        names = {m for m, _ in LAYER_CALLS} | {m for m, _, _ in LAYER_METHODS}
        for name in sorted(names | {"hudi_utility_spark.api", "hudi_utility_spark.concurrency"}):
            importlib.import_module(name)
        pkg = [m for n, m in sorted(sys.modules.items())
               if n.startswith("hudi_utility_spark") and m is not None]
        targets = [(m, a, f"{m.split('.')[-1]}.{a}") for m, a in LAYER_CALLS]
        conc = sys.modules["hudi_utility_spark.concurrency"]
        for mod_name, attr, span_name in targets:
            orig = getattr(importlib.import_module(mod_name), attr)
            new = self._wrap(span_name, orig)
            for m in pkg:
                if getattr(m, attr, None) is orig:
                    self._set(m, attr, new)
        lock = conc.table_lock
        new_lock = self._wrap_lock(lock)
        for m in pkg:
            if getattr(m, "table_lock", None) is lock:
                self._set(m, "table_lock", new_lock)
        for mod_name, cls, meth in LAYER_METHODS:
            klass = getattr(importlib.import_module(mod_name), cls)
            layer = mod_name.split(".")[-1]
            self._set(klass, meth, self._wrap(f"{layer}.{meth}", getattr(klass, meth)))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- derived numbers ------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id → its duration minus its direct children's."""
        out = {s.id: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def self_time_by_name(self, root: int) -> dict[str, float]:
        """Span name → summed self time over *root*'s subtree. The values
        add up to *root*'s duration."""
        own = self.self_times()
        inside = {root}
        out: dict[str, float] = {}
        for s in self.spans:  # parents precede children
            if s.id == root or s.parent in inside:
                inside.add(s.id)
                out[s.name] = out.get(s.name, 0.0) + own[s.id]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.id, "name": s.name,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    **({"attrs": s.attrs} if s.attrs else {}),
                }) + "\n")


# -- Spark event log --------------------------------------------------------

SPARK_COUNTERS = ("jobs", "tasks", "executor_run_ms", "gc_ms", "shuffle_bytes", "spill_bytes",
                  "input_bytes", "files_read")
_SQL = "org.apache.spark.sql.execution.ui."


def event_log_files(log_dir: str) -> list[str]:
    out = []
    for root, _, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files
                if not f.startswith(".") and not f.endswith(".inprogress")]
    return sorted(out)


def _plan_metric_ids(node: dict, name: str, out: set[int]) -> None:
    for m in node.get("metrics", ()):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in node.get("children", ()):
        _plan_metric_ids(child, name, out)


def spark_counters_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group → summed counters over its jobs and their tasks. Files
    read come from the scans' "number of files read" SQL metric, posted
    once per SQL execution."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    files_ids: set[int] = set()
    accum_updates: list[tuple[int, int, float]] = []  # (execution, accumulator, value)
    out: dict[str, dict[str, float]] = {}

    def bucket(g: str) -> dict[str, float]:
        return out.setdefault(g, dict.fromkeys(SPARK_COUNTERS, 0.0))

    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "-"
                    bucket(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    b = bucket(stage_group.get(ev.get("Stage ID"), "-"))
                    b["tasks"] += 1
                    b["executor_run_ms"] += m.get("Executor Run Time", 0)
                    b["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    b["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
                    b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                elif f'"{_SQL}SparkListenerSQLExecutionStart"' in line or \
                        f'"{_SQL}SparkListenerSQLAdaptiveExecutionUpdate"' in line:
                    _plan_metric_ids(json.loads(line).get("sparkPlanInfo") or {},
                                     "number of files read", files_ids)
                elif f'"{_SQL}SparkListenerDriverAccumUpdates"' in line:
                    ev = json.loads(line)
                    accum_updates += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
    for ex, acc, v in accum_updates:
        if acc in files_ids:
            bucket(exec_group.get(ex, "-"))["files_read"] += v
    return out


def counters_by_span(by_group: dict[str, dict[str, float]]) -> dict[int, dict[str, float]]:
    """Span id → counters of the jobs it launched itself (its job group)."""
    return {int(g[5:]): c for g, c in by_group.items() if g.startswith("span-")}


def inclusive(tracer: Tracer, own: dict[int, dict[str, float]]) -> dict[int, dict[str, float]]:
    """Span id → counters of the span and all its descendants."""
    tot = {s.id: dict(own.get(s.id, dict.fromkeys(SPARK_COUNTERS, 0.0))) for s in tracer.spans}
    # children always have larger ids than their parents
    for s in reversed(tracer.spans):
        if s.parent is not None:
            for k, v in tot[s.id].items():
                tot[s.parent][k] = tot[s.parent].get(k, 0.0) + v
    return tot
