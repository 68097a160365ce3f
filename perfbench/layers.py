"""Per-layer measurement for the traced run.

Two instruments, both applied from outside the program:

- Spans. :func:`install` replaces the engine's public functions with
  timing wrappers at every name a caller looks them up by (a module that
  did ``from ...scd2 import scd2_merge`` holds its own reference, so the
  sweep patches every module attribute that *is* the target function).
  Spans nest per thread; a span's self time is its duration minus the
  part of it covered by child spans.
- Spark's own records. The local event log gives jobs, stages, task
  metrics and the physical plan of every SQL execution; a
  ``StreamingQueryListener`` gives micro-batch progress. Spark work is
  attributed to a span by time window, not by job group: PySpark pins
  job groups per thread, so jobs started from writer pools, shard
  fan-out and micro-batch threads would escape a group.
"""

from __future__ import annotations

import bisect
import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "gcp_healthcare_data_pipeline_spark"

# (span key, module, function names); None means every public function
# the module defines
_FUNCTION_TARGETS = [
    ("sources.read", "sources.readers", None),
    ("sources.read", "session", ["load_tables"]),
    ("sources.write", "sources.writers", None),
    ("plans.construct", "plans.conform", None),
    ("plans.construct", "plans.gold", None),
    ("operators.scd2", "operators.scd2", None),
    ("operators.dedup", "operators.dedup", None),
    ("operators.similarity", "operators.similarity", None),
    ("operators.versioning", "operators.versioning", None),
]
# (span key, module, class, method)
_METHOD_TARGETS = [
    ("pipeline.run", "pipeline.runner", "Runner", "run"),
    ("pipeline.landing", "pipeline.runner", "Runner", "ingest_to_landing"),
    ("pipeline.bronze", "pipeline.runner", "Runner", "build_bronze"),
    ("pipeline.silver", "pipeline.runner", "Runner", "build_silver"),
    ("pipeline.gold", "pipeline.runner", "Runner", "build_gold"),
    ("pipeline.control", "pipeline.audit", "_BufferedAppender", "flush"),
    ("pipeline.control", "pipeline.audit", "_BufferedAppender", "read"),
    ("pipeline.control", "pipeline.audit", "AuditLedger", "record"),
    ("pipeline.control", "pipeline.audit", "AuditLedger", "last_watermark"),
    ("pipeline.control", "pipeline.audit", "PipelineLogger", "log"),
]


class Span:
    __slots__ = ("key", "start", "end", "children")

    def __init__(self, key: str, start: float):
        self.key = key
        self.start = start  # epoch seconds, comparable with the event log
        self.end = start
        self.children: list[Span] = []


class Tracer:
    """Collects spans while ``recording`` is set; thread-safe appends."""

    def __init__(self):
        self.recording = False
        self.roots: list[Span] = []
        self._local = threading.local()

    @contextmanager
    def span(self, key: str):
        if not self.recording:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(key, time.time())
        (stack[-1].children if stack else self.roots).append(s)
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            stack.pop()

    def spans(self):
        todo = list(self.roots)
        while todo:
            s = todo.pop()
            todo.extend(s.children)
            yield s


def _wrap(tracer: Tracer, key: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(key):
            return fn(*args, **kwargs)

    return traced


def install(tracer: Tracer):
    """Patch every target at every name it is bound to; returns an undo
    callable that restores the originals."""
    targets: dict[int, tuple[object, str]] = {}
    for key, mod_name, names in _FUNCTION_TARGETS:
        mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
        for name, obj in vars(mod).items():
            if (
                inspect.isfunction(obj)
                and obj.__module__ == mod.__name__
                and not name.startswith("_")
                and (names is None or name in names)
            ):
                targets[id(obj)] = (obj, key)
    undo: list[tuple[object, str, object]] = []
    wrapped = {i: _wrap(tracer, key, obj) for i, (obj, key) in targets.items()}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for name, obj in list(vars(mod).items()):
            if id(obj) in targets and targets[id(obj)][0] is obj:
                undo.append((mod, name, obj))
                setattr(mod, name, wrapped[id(obj)])
    for key, mod_name, cls_name, name in _METHOD_TARGETS:
        cls = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), cls_name)
        orig = cls.__dict__[name]
        undo.append((cls, name, orig))
        setattr(cls, name, _wrap(tracer, key, orig))

    def restore():
        for owner, name, orig in reversed(undo):
            setattr(owner, name, orig)

    return restore


# -- interval arithmetic ---------------------------------------------------


def _union(intervals):
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in _union(intervals))


def _covered(merged, t: float) -> bool:
    i = bisect.bisect_right(merged, [t, float("inf")]) - 1
    return i >= 0 and t <= merged[i][1]


def span_metrics(tracer: Tracer) -> dict[str, object]:
    """Per key: inclusive time (union of its spans, so nested and
    concurrent spans count once), merged windows, and per layer (the key's
    first dotted part) the self time of its spans."""
    windows: dict[str, list] = {}
    self_s: dict[str, float] = {}
    for s in tracer.spans():
        windows.setdefault(s.key, []).append((s.start, s.end))
        child = _length(
            (max(c.start, s.start), min(c.end, s.end)) for c in s.children
        )
        layer = s.key.split(".")[0]
        self_s[layer] = self_s.get(layer, 0.0) + (s.end - s.start) - child
    merged = {k: _union(v) for k, v in windows.items()}
    return {
        "inclusive_s": {k: _length(v) for k, v in merged.items()},
        "windows": merged,
        "self_s": self_s,
    }


# -- Spark event log -------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
_WRAPPERS = ("WholeStageCodegen", "InputAdapter", "AdaptiveSparkPlan")


def read_event_log(log_dir: str) -> dict[str, list]:
    """Parse the (closed) event log of the one application in ``log_dir``."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    jobs, stages, tasks, plans = [], [], [], {}
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageCompleted":
                stages.append(ev["Stage Info"]["Submission Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks.append(
                    (ev["Task Info"]["Launch Time"] / 1000.0, ev["Task Metrics"])
                )
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                plans[ev["executionId"]] = (ev["time"] / 1000.0, ev["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                # AQE re-plans: the last update is the plan that ran
                start = plans.get(ev["executionId"], (None,))[0]
                if start is not None:
                    plans[ev["executionId"]] = (start, ev["sparkPlanInfo"])
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "plans": list(plans.values())}


def _codegen_counts(plan) -> tuple[int, int]:
    """(operators inside WholeStageCodegen, all physical operators)."""
    inside = total = 0
    todo = [(plan, False)]
    while todo:
        node, in_wscg = todo.pop()
        name = node["nodeName"]
        if name.startswith("WholeStageCodegen"):
            in_wscg = True
        elif name == "InputAdapter":
            in_wscg = False
        elif not name.startswith(_WRAPPERS) and not name.endswith("QueryStage"):
            total += 1
            inside += in_wscg
        todo.extend((c, in_wscg) for c in node["children"])
    return inside, total


def spark_metrics(log: dict, windows) -> dict[str, float]:
    """Event-log totals over the work started inside ``windows``."""

    def within(t):
        return _covered(windows, t)

    tm = [m for t, m in log["tasks"] if within(t)]

    def total(get):
        return sum(get(m) for m in tm)

    inside = ops = 0
    for t, plan in log["plans"]:
        if within(t):
            a, b = _codegen_counts(plan)
            inside, ops = inside + a, ops + b
    return {
        "spark.jobs": sum(map(within, log["jobs"])),
        "spark.stages": sum(map(within, log["stages"])),
        "spark.tasks": len(tm),
        "spark.shuffle_read_bytes": total(
            lambda m: m["Shuffle Read Metrics"]["Remote Bytes Read"]
            + m["Shuffle Read Metrics"]["Local Bytes Read"]
        ),
        "spark.shuffle_write_bytes": total(
            lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        ),
        "spark.spill_bytes": total(lambda m: m["Disk Bytes Spilled"]),
        "spark.gc_s": total(lambda m: m["JVM GC Time"]) / 1000.0,
        "spark.executor_run_s": total(lambda m: m["Executor Run Time"]) / 1000.0,
        "spark.input_bytes": total(lambda m: m["Input Metrics"]["Bytes Read"]),
        "functions.codegen_share": inside / ops if ops else 0.0,
    }


def jobs_in(log: dict, *window_lists) -> int:
    """Jobs submitted inside any of the given windows."""
    windows = _union(w for ws in window_lists for w in ws)
    return sum(_covered(windows, t) for t in log["jobs"])


# -- Structured Streaming --------------------------------------------------


class StreamingProgress(StreamingQueryListener):
    """Keeps every micro-batch's progress: (query id, input rows,
    durations in ms, state rows)."""

    def __init__(self):
        self.batches: list = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append((
            str(p.id),
            p.numInputRows,
            dict(p.durationMs),
            sum(s.numRowsTotal for s in p.stateOperators),
        ))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def streaming_metrics(batches: list) -> dict[str, float]:
    state: dict[str, int] = {}
    for qid, _, _, rows in batches:
        state[qid] = max(state.get(qid, 0), rows)
    return {
        "streaming.batches": len(batches),
        "streaming.input_rows": sum(b[1] for b in batches),
        "streaming.batch_s": sum(b[2].get("triggerExecution", 0) for b in batches)
        / 1000.0,
        "streaming.commit_s": sum(
            b[2].get("walCommit", 0) + b[2].get("commitOffsets", 0)
            for b in batches
        )
        / 1000.0,
        "streaming.state_rows": sum(state.values()),
    }
