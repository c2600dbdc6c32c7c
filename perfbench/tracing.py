"""Spans recorded from the benchmark's side of each layer boundary, Spark
job groups that tie the engine's jobs to those spans, a fold of Spark's
event log into per-group stage metrics, and a switch that keeps untraced
work out of the log.

No engine file is touched: ``Tracer.patch`` replaces a method on the
engine's class for the duration of a ``with`` block and restores it on
exit. A method that no longer exists raises ``TraceError`` — a renamed
layer must fail the traced run, never silently lose its span.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"

#: a single-task stage counts as a serial barrier only when it did real
#: work; tiny one-task stages (a final collect, a count merge) are noise
SINGLE_TASK_MIN_RUN_MS = 100


class TraceError(RuntimeError):
    """A layer the trace expects is missing from the engine."""


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def merged_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        s.duration - merged_length(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional: with
    it, every span sets the Spark job group to its own name on entry and
    restores the enclosing span's group on exit, so each job the engine
    launches is attributed to the innermost open span."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _set_group(self, name: str | None) -> None:
        if self.sc is not None:
            # this PySpark has no clearJobGroup: None clears the property
            self.sc.setLocalProperty(JOB_GROUP, name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.clock(), parent=parent)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._set_group(name)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].name if self._stack else None)

    @contextmanager
    def patch(self, targets):
        """Wrap methods for the duration of the block. ``targets`` is a
        list of ``(cls, method_name, span_name, on_result)`` where
        ``span_name`` is a string or ``f(self, *args) -> str`` and
        ``on_result`` (or None) is ``f(span, self, args, result)``."""
        saved = []
        try:
            for cls, meth, span_name, on_result in targets:
                orig = cls.__dict__.get(meth)
                if orig is None or not callable(orig):
                    raise TraceError(f"{cls.__module__}.{cls.__name__}.{meth} is gone")
                saved.append((cls, meth, orig))
                setattr(cls, meth, self._wrapped(orig, span_name, on_result))
            yield self
        finally:
            for cls, meth, orig in reversed(saved):
                setattr(cls, meth, orig)

    def _wrapped(self, orig, span_name, on_result):
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            name = span_name(obj, *args) if callable(span_name) else span_name
            with tracer.span(name) as sp:
                result = orig(obj, *args, **kwargs)
            if on_result is not None:
                on_result(sp, obj, args, result)
            return result

        return wrapper

    # --- summaries --------------------------------------------------------

    def by_name(self) -> dict[str, list[tuple[Span, float]]]:
        """name -> [(span, self_time), ...] in start order."""
        out: dict[str, list[tuple[Span, float]]] = defaultdict(list)
        for sp, st in zip(self.spans, self_times(self.spans)):
            out[sp.name].append((sp, st))
        return out

    def self_total(self, name: str) -> float:
        return sum(st for _, st in self.by_name().get(name, []))


# --- Spark event log ------------------------------------------------------

def eventlog_conf(log_dir: str) -> list[str]:
    """``--conf`` arguments that turn the event log on, uncompressed, into
    ``log_dir`` (launch configuration only; the engine's session code is
    not involved)."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
        "--conf", "spark.eventLog.compress=false",
    ]


@contextmanager
def event_log_off(sc):
    """Detach Spark's event-log listener for the block: the jobs inside
    run without the log's cost and leave no trace in it. Raises
    ``TraceError`` when the log is not on."""
    jsc = sc._jsc.sc()
    logger = jsc.eventLogger()  # Option[EventLoggingListener]
    if not logger.isDefined():
        raise TraceError("the Spark event log is not enabled")
    jsc.removeSparkListener(logger.get())
    try:
        yield
    finally:
        jsc.addSparkListener(logger.get())


def _event_lines(log_dir: str):
    for root, _dirs, files in os.walk(log_dir):
        for fn in sorted(files):
            if fn.startswith("."):
                continue
            with open(os.path.join(root, fn), encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        yield json.loads(line)
                    except ValueError:
                        continue  # a torn last line of an in-progress log


_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
}

GROUP_FIELDS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ns", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "single_task_stages",
)


def fold_events(events) -> dict[str, dict[str, float]]:
    """Per job group totals from an iterable of event-log records. Jobs
    without a group are folded under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GROUP_FIELDS, 0))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(JOB_GROUP) or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            group = stage_group.get(info.get("Stage ID"), "")
            g = out[group]
            g["stages"] += 1
            g["tasks"] += info.get("Number of Tasks", 0)
            vals: dict[str, float] = defaultdict(float)
            for acc in info.get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key is not None:
                    try:
                        vals[key] += float(acc.get("Value", 0))
                    except (TypeError, ValueError):
                        pass
            for k, v in vals.items():
                g[k] += v
            if info.get("Number of Tasks", 0) == 1 and vals["run_ms"] >= SINGLE_TASK_MIN_RUN_MS:
                g["single_task_stages"] += 1
    return dict(out)


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    return fold_events(_event_lines(log_dir))


def sum_groups(folded: dict[str, dict[str, float]], predicate) -> dict[str, float]:
    tot = dict.fromkeys(GROUP_FIELDS, 0.0)
    for name, g in folded.items():
        if predicate(name):
            for k in GROUP_FIELDS:
                tot[k] += g[k]
    return tot
