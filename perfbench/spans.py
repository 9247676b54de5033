"""Spans recorded around the benchmark's calls into the program, and
the fold of Spark's event log into them.

A span is (id, name, parent, start, end) in epoch milliseconds, the
clock Spark stamps its events with. While a span is open on a thread,
the benchmark tags that thread's Spark jobs with the span id through
the `perfbench.span` local property; each job start event carries the
tag, so every task of the job folds into exactly one span even when
pipeline stages run concurrently. Jobs without a tag fall back to the
innermost span open when they were submitted.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from stats import skew

TAG = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch ms
    end: float | None = None
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end - self.start) / 1000.0


class Tracer:
    """Holds spans in memory; `dump` writes them out at the end."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _new(self, name: str, parent: int | None) -> Span:
        with self._lock:
            s = Span(len(self.spans), name, parent, time.time() * 1000.0)
            self.spans.append(s)
        return s

    def _tag(self, span_id: int | None) -> None:
        self.spark.sparkContext.setLocalProperty(
            TAG, None if span_id is None else str(span_id)
        )

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Open a span on the calling thread. The parent defaults to the
        span open on this thread."""
        outer = getattr(self._local, "current", None)
        s = self._new(name, outer if parent is None else parent)
        self._local.current = s.id
        self._tag(s.id)
        try:
            yield s
        finally:
            s.end = time.time() * 1000.0
            self._local.current = outer
            self._tag(outer)

    def wrap_stage(self, name: str, fn, parent: int):
        """Wrap a pipeline stage function so the thread that runs the
        stage (its body and its write) is tagged with a span opened at
        the call. The span is left open: the caller ends it from the
        stage's own wall time once the pipeline returns."""

        def run(ctx):
            s = self._new(name, parent)
            self._local.current = s.id
            self._tag(s.id)
            return fn(ctx)

        return run

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], **(extra or {})},
                f,
                indent=1,
            )


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------

TASK_FIELDS = (
    "task_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "tasks",
    "skew", "failed_tasks",
)


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _innermost(spans: list[Span], t_ms: float) -> int | None:
    best = None
    for s in spans:
        end = s.end if s.end is not None else float("inf")
        if s.start <= t_ms <= end and (best is None or s.start >= best.start):
            best = s
    return None if best is None else best.id


def fold_tasks(events: list[dict], spans: list[Span]) -> dict[int, dict]:
    """Per span id: task metrics of every job attributed to it.

    task_s / cpu_s / gc_s are executor run, executor CPU and JVM GC
    seconds summed over tasks; shuffle_bytes is shuffle bytes written;
    spill_bytes is disk bytes spilled; skew is max/median task run time
    within the span's heaviest Spark stage (by total run time);
    failed_tasks counts task ends whose reason is not Success."""
    stage_span: dict[int, int | None] = {}
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        tag = (e.get("Properties") or {}).get(TAG)
        sid = int(tag) if tag is not None else _innermost(
            spans, e["Submission Time"]
        )
        for st in e["Stage IDs"]:
            stage_span.setdefault(st, sid)

    acc: dict[int, dict] = {}
    stage_times: dict[int, dict[int, list[float]]] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        sid = stage_span.get(e["Stage ID"])
        if sid is None:
            continue
        m = e.get("Task Metrics") or {}
        a = acc.setdefault(sid, {k: 0.0 for k in TASK_FIELDS})
        run_s = m.get("Executor Run Time", 0) / 1000.0
        a["task_s"] += run_s
        a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        a["tasks"] += 1
        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
            a["failed_tasks"] += 1
        stage_times.setdefault(sid, {}).setdefault(e["Stage ID"], []).append(
            run_s
        )
    for sid, stages in stage_times.items():
        heaviest = max(stages.values(), key=sum)
        acc[sid]["skew"] = skew(heaviest)
    return acc
