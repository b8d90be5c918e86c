"""Per-layer tracing for the traced benchmark run.

Everything here observes the package from outside: spans are recorded
around the calls the benchmark makes, around package functions it
wraps for the duration of the traced run, and from Spark's own public
surfaces (``QueryExecution.tracker()``, ``StatusTracker``, the SQL
metrics of the executed plan, ``StreamingQueryListener`` progress and
the PySpark 4 UDF profiler).  No package code is changed.

A span is ``(id, parent, op, name, start, end)`` on the
``time.perf_counter`` clock; ``op`` is the operation it belongs to and
``name`` the layer call (``sources.load``, ``catalyst.planning``, ...).
A span's self time is its duration minus the part of
it that its children cover; a layer's time is the sum of its spans'
self times.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import pstats
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

# Span names booked as each per-layer time metric; "op" is the root of
# one operation and keeps only the time no layer span covers.
SPAN_METRICS = {
    "session.confs": "session.confs_s",
    "sources.load": "sources.load_s",
    "operators.build": "operators.build_s",
    "catalyst.analysis": "catalyst.analysis_s",
    "catalyst.optimization": "catalyst.optimization_s",
    "catalyst.planning": "catalyst.planning_s",
    "exec": "exec.s",
    "collect": "collect.s",
    "streaming.trigger": "streaming.trigger_s",
    "streaming.add_batch": "streaming.add_batch_s",
    "streaming.query_planning": "streaming.query_planning_s",
    "streaming.wal_commit": "streaming.wal_commit_s",
    "streaming.latest_offset": "streaming.latest_offset_s",
    "streaming.harness": "streaming.harness_s",
}

# Counters summed over the traced operations (then divided by their
# number), next to the span times above.
COUNT_METRICS = (
    "session.confs_calls", "sources.load_calls", "operators.build_jobs",
    "exec.tasks", "exec.stages",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.failed_tasks",
    "collect.rows", "python.udf_s", "python.udf_calls",
    "streaming.state_rows", "streaming.state_mem_mb",
    "streaming.state_commit_s", "streaming.late_dropped_rows",
    "streaming.tasks_per_batch",
)

# StreamingQueryProgress.durationMs keys booked as children of a trigger.
_TRIGGER_PARTS = {
    "addBatch": "streaming.add_batch",
    "queryPlanning": "streaming.query_planning",
    "walCommit": "streaming.wal_commit",
    "latestOffset": "streaming.latest_offset",
}


@dataclass
class Span:
    id: int
    parent: int | None
    op: str
    name: str
    start: float
    end: float


@dataclass
class Tracer:
    """Spans and counters of one traced run, kept in memory until
    :meth:`write` at the end of the run."""

    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _ids: itertools.count = field(default_factory=itertools.count)
    _stack: list[int] = field(default_factory=list)
    op: str = ""

    def span(self, name: str, start: float, end: float,
             parent: int | None = None) -> Span:
        if parent is None and self._stack:
            parent = self._stack[-1]
        s = Span(next(self._ids), parent, self.op, name, start, end)
        self.spans.append(s)
        return s

    def open(self, name: str) -> Span:
        s = self.span(name, time.perf_counter(), float("nan"))
        self._stack.append(s.id)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        popped = self._stack.pop()
        if popped != s.id:
            raise RuntimeError(f"span {s.name} closed out of order")

    def reset(self) -> None:
        """Drop the open-span stack after an operation raised."""
        self._stack.clear()

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    def wrap(self, fn, name: str, counter: str):
        """``fn`` with a span and a call counter around every call."""

        def traced(*args, **kwargs):
            self.add(counter, 1)
            s = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(s)

        return traced

    def place(self, name: str, start: float, end: float) -> None:
        """Book a span measured elsewhere (a Catalyst phase) under the
        innermost span of the current op that contains its midpoint."""
        mid = (start + end) / 2
        best = None
        for s in self.spans:
            if s.op == self.op and s.start <= mid <= s.end:
                if best is None or s.start >= best.start:
                    best = s
        if best is not None:
            self.span(name, max(start, best.start), min(end, best.end), best.id)

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge, s.start), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        """Per-operation means of every per-layer metric, plus the
        largest share of one operation's wall time by which the sum of
        its layer self times misses that wall: time no layer span
        covers, or overlapping layer spans that book the same time
        twice."""
        per = {m: 0.0 for m in SPAN_METRICS.values()}
        per.update({m: self.counts.get(m, 0.0) for m in COUNT_METRICS})
        own = self.self_times()
        wall: dict[str, float] = {}
        booked: dict[str, float] = {}
        for s in self.spans:
            if s.name == "op":
                wall[s.op] = s.end - s.start
            elif s.name in SPAN_METRICS:
                per[SPAN_METRICS[s.name]] += own[s.id]
                booked[s.op] = booked.get(s.op, 0.0) + own[s.id]
        n = max(n_ops, 1)
        out = {k: v / n for k, v in per.items()}
        out["trace.unattributed_max_share"] = max(
            (abs(w - booked.get(op, 0.0)) / w for op, w in wall.items() if w > 0),
            default=0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class Patched:
    """Route every package-module reference to a function through a
    wrapper for the life of the ``with`` block.

    Modules bind ``load`` and ``ensure_session_confs`` by name, so the
    wrapper replaces the attribute in each ``powertrainstreaming_spark``
    module that holds the original object.
    """

    def __init__(self, pairs):
        self.pairs = pairs  # [(original, wrapper)]
        self.undo: list[tuple[object, str, object]] = []

    def __enter__(self):
        for original, wrapper in self.pairs:
            for name, mod in list(sys.modules.items()):
                if mod is None or not name.startswith("powertrainstreaming_spark"):
                    continue
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, attr, wrapper)
                        self.undo.append((mod, attr, original))
        return self

    def __exit__(self, *exc):
        for mod, attr, original in reversed(self.undo):
            setattr(mod, attr, original)
        self.undo.clear()


def package_wrappers(tracer: Tracer):
    from powertrainstreaming_spark.session import ensure_session_confs
    from powertrainstreaming_spark.sources.loaders import load

    return Patched([
        (ensure_session_confs,
         tracer.wrap(ensure_session_confs, "session.confs", "session.confs_calls")),
        (load, tracer.wrap(load, "sources.load", "sources.load_calls")),
    ])


def catalyst_phases(df, tracer: Tracer, epoch_offset: float) -> float:
    """Book the final QueryExecution's analysis/optimization/planning
    phases (``QueryPlanningTracker``) as spans; returns the seconds of
    optimization + planning, which a re-execution of the plan repeats."""
    phases = df._jdf.queryExecution().tracker().phases()
    replanned = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isEmpty():
            continue
        p = opt.get()
        start = p.startTimeMs() / 1000 - epoch_offset
        end = p.endTimeMs() / 1000 - epoch_offset
        tracer.place(f"catalyst.{phase}", start, end)
        if phase != "analysis":
            replanned += end - start
    return replanned


def plan_metrics(df) -> dict[str, float]:
    """Sum shuffle bytes written and spill bytes over the executed plan,
    descending through AQE query stages and reused exchanges."""
    totals = {"exec.shuffle_write_bytes": 0.0, "exec.spill_bytes": 0.0}
    keys = {"shuffleBytesWritten": "exec.shuffle_write_bytes",
            "spillSize": "exec.spill_bytes"}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = node.metrics()
        for key, metric in keys.items():
            opt = metrics.get(key)
            if opt.isDefined():
                totals[metric] += opt.get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return totals


def job_counts(sc, group: str) -> dict[str, float]:
    """Jobs, stages and tasks Spark ran under one job group
    (``StatusTracker``)."""
    tracker = sc.statusTracker()
    stages = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is not None:
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"exec.stages": len(stages), "exec.tasks": tasks,
            "exec.failed_tasks": failed}


def udf_profile(spark, dump_dir: str) -> dict[str, float]:
    """Worker-side Python time and calls from the UDF profiler since the
    last call, then clear it.  The calls counted are those of the
    profiled entry (one per Arrow batch handed to the UDF)."""
    for old in glob.glob(os.path.join(dump_dir, "*.pstats")):
        os.remove(old)
    spark.profile.dump(dump_dir, type="perf")
    spark.profile.clear(type="perf")
    seconds = calls = 0.0
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(path)
        seconds += st.total_tt
        if st.stats:
            top = max(st.stats.values(), key=lambda v: v[3])
            calls += top[1]
    return {"python.udf_s": seconds, "python.udf_calls": calls}


def book_trigger(tracer: Tracer, progress, parent: int, epoch_offset: float) -> None:
    """One micro-batch as a span with its durationMs parts laid end to
    end inside it, plus its state-store counters (``commitTimeMs`` is
    summed over the store's partitions, so it can exceed the trigger)."""
    dur = progress.durationMs
    start = _iso_epoch(progress.timestamp) - epoch_offset
    total = dur.get("triggerExecution", 0) / 1000
    trig = tracer.span("streaming.trigger", start, start + total, parent)
    edge = start
    for key, name in _TRIGGER_PARTS.items():
        d = dur.get(key, 0) / 1000
        tracer.span(name, edge, edge + d, trig.id)
        edge += d
    for op in progress.stateOperators:
        tracer.add("streaming.state_rows", op.numRowsTotal)
        tracer.add("streaming.state_mem_mb", op.memoryUsedBytes / 2**20)
        tracer.add("streaming.state_commit_s", op.commitTimeMs / 1000)
        tracer.add("streaming.late_dropped_rows", op.numRowsDroppedByWatermark)


def _iso_epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()
