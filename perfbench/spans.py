"""Spans around calls into the program's layers, and the Spark counters
charged to each span.

A ``Tracer`` records one span per layer call: name, start, end, parent
span and run id, kept in memory and written out when the run ends.
With tracing on, every span runs under its own Spark job group, and the
event log (written with compression off) is parsed after the session
stops; each job is charged to the span whose group submitted it, and a
job from another group (a streaming micro-batch, a broadcast) to the
innermost span open when it was submitted.  Streaming progress comes
from a ``StreamingQueryListener``.

With tracing off a ``Tracer`` still times the spans that delimit a
workload's operations (their durations are the end-to-end numbers) and
gives each its job group, so a hung operation can be cancelled, but no
event log is written and no layer is materialized on its own.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run_id: str = ""
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(intervals, start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = [(max(a, start), min(b, end)) for a, b in intervals]
    return union_length([(a, b) for a, b in clipped if b > a])


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        if s.end is None:
            out.append(0.0)
            continue
        out.append(s.duration - covered(children.get(i, []), s.start, s.end))
    return out


class Tracer:
    """Span recorder; ``sc`` is the SparkContext (None before a session)."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.sc = None
        self.streams: dict[str, dict] = {}  # runId -> {"span", "name", "progress"}

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent, run_id=self.run_id, attrs=dict(attrs))
        if self.sc is not None:
            sp.group = f"pb-{self.run_id}-{idx}"
            self.sc.setJobGroup(sp.group, name, interruptOnCancel=True)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sp.group is not None:
                outer = self.spans[self._stack[-1]].group if self._stack else None
                if outer:
                    self.sc.setJobGroup(outer, self.spans[self._stack[-1]].name, interruptOnCancel=True)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def groups_in(self, idx: int) -> list[str]:
        """Job groups of span ``idx`` and every span nested in it."""
        return [
            self.spans[i].group
            for i in range(idx, len(self.spans))
            if self.spans[i].group and within(self.spans, i, idx)
        ]

    def write(self, path: str, extra: dict | None = None) -> None:
        rows = []
        for sp, self_s in zip(self.spans, self_times(self.spans)):
            d = asdict(sp)
            d["duration_s"] = sp.duration
            d["self_s"] = self_s
            rows.append(d)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run_id": self.run_id, "spans": rows, **(extra or {})}, f, indent=1)


def add_stream_listener(spark, tracer: Tracer) -> None:
    """Record each streaming query's run id against the span open when it
    started (``onQueryStarted`` runs synchronously inside ``start()``),
    and its per-batch progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            tracer.streams[str(event.runId)] = {
                "span": tracer.current(),
                "name": event.name,
                "progress": [],
            }

        def onQueryProgress(self, event):
            p = event.progress
            rec = tracer.streams.get(str(p.runId))
            if rec is not None:
                rec["progress"].append(
                    {
                        "batch": p.batchId,
                        "input_rows": p.numInputRows,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "batch_s": (p.durationMs.get("triggerExecution") or 0) / 1000.0,
                    }
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())


def stream_summary(tracer: Tracer, span_idx: int) -> dict:
    """Batches, input rows, final state rows and median batch time of the
    streaming queries started inside span ``span_idx``."""
    batches = [
        b
        for rec in tracer.streams.values()
        if within(tracer.spans, rec["span"], span_idx)
        for b in rec["progress"]
    ]
    return {
        "batches": len(batches),
        "input_rows": sum(b["input_rows"] for b in batches),
        "state_rows": batches[-1]["state_rows"] if batches else 0,
        "batch_p50_s": statistics.median([b["batch_s"] for b in batches]) if batches else 0.0,
    }


def within(spans: list[Span], idx: int | None, ancestor: int) -> bool:
    """Whether span ``idx`` is ``ancestor`` or nested in it."""
    while idx is not None:
        if idx == ancestor:
            return True
        idx = spans[idx].parent
    return False


# ---------------------------------------------------------------- event log

def read_event_log(log_dir: str):
    """Every line of the event log under ``log_dir``, in write order."""
    for path in event_log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            yield from f


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: a single file, or the parts of
    a rolling ``eventlog_v2_*`` directory in write order."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]

    def order(p: str):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    return sorted(files, key=order)


@dataclass
class EngineCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_s: list = field(default_factory=list)
    task_intervals: list = field(default_factory=list)

    def add(self, other: "EngineCounters") -> None:
        for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_s += other.task_s
        self.task_intervals += other.task_intervals

    def summary(self) -> dict:
        return {
            "spark.jobs": self.jobs,
            "spark.stages": self.stages,
            "spark.tasks": self.tasks,
            "executor.run_s": self.run_s,
            "executor.cpu_s": self.cpu_s,
            "executor.wait_s": self.run_s - self.cpu_s,
            "executor.gc_s": self.gc_s,
            "shuffle.read_bytes": self.shuffle_read_bytes,
            "shuffle.write_bytes": self.shuffle_write_bytes,
            "spill.bytes": self.spill_bytes,
            "task.max_s": max(self.task_s) if self.task_s else 0.0,
            "task.median_s": statistics.median(self.task_s) if self.task_s else 0.0,
        }


def parse_event_log(lines, spans: list[Span]) -> dict[int, EngineCounters]:
    """Counters per span index (own jobs only, children excluded).

    A job belongs to the span with its job group, else to the innermost
    span open at its submission time.  Stages and tasks count only what
    ran: skipped stages have no completion and no tasks.
    """
    by_group = {s.group: i for i, s in enumerate(spans) if s.group}
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    out: dict[int, EngineCounters] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            idx = by_group.get(group)
            if idx is None:
                idx = _innermost_at(spans, ev["Submission Time"] / 1000.0)
            if idx is None:
                continue
            job_span[ev["Job ID"]] = idx
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, idx)
            out.setdefault(idx, EngineCounters()).jobs += 1
        elif kind == "SparkListenerStageCompleted":
            idx = stage_span.get(ev["Stage Info"]["Stage ID"])
            if idx is not None:
                out.setdefault(idx, EngineCounters()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            idx = stage_span.get(ev["Stage ID"])
            if idx is None:
                continue
            c = out.setdefault(idx, EngineCounters())
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            c.tasks += 1
            c.run_s += m.get("Executor Run Time", 0) / 1000.0
            c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            launch, finish = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
            c.task_s.append(finish - launch)
            c.task_intervals.append((launch, finish))
    return out


def _innermost_at(spans: list[Span], t: float) -> int | None:
    best = None
    for i, s in enumerate(spans):
        if s.end is not None and s.start <= t <= s.end:
            if best is None or s.start >= spans[best].start:
                best = i
    return best


def subtree_counters(spans: list[Span], own: dict[int, EngineCounters], idx: int) -> EngineCounters:
    """Counters of span ``idx`` and every span nested in it."""
    total = EngineCounters()
    for i, c in own.items():
        if within(spans, i, idx):
            total.add(c)
    return total
