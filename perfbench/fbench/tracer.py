"""Span tracer for the traced run (`--trace 1`).

It wraps public entry points of the engine's modules from outside (the
program's files are untouched) and records one span per call: name,
start, end, parent span and op id, kept in memory. Each span that can
start Spark jobs runs under its own Spark job group, so the jobs, stages
and tasks it caused are read back from the status store after the op.

Only calls made while an op is open and tracing is on are recorded; the
wrappers are plain pass-throughs otherwise, so ops alternate between
traced and untraced within one run.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

from fluss_spark.catalog import Catalog
from fluss_spark.client import Lookuper
from fluss_spark.sources.kv import KvStore
from fluss_spark.sources.log import LogStore
from fluss_spark.streaming.reader import LogStreamReader
from fluss_spark.table import FlussTable


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    spark: dict = field(default_factory=dict)  # stage totals of the span's own jobs


# (class, method, span name) for every wrapped public entry point
ENTRY_POINTS = [
    (FlussTable, "upsert", "table.upsert"),
    (FlussTable, "lookup", "table.lookup"),
    (FlussTable, "prefix_lookup", "table.lookup"),
    (KvStore, "upsert", "kv.upsert"),
    (KvStore, "lookup", "kv.lookup"),
    (KvStore, "prefix_lookup", "kv.lookup"),
    (LogStore, "scan", "log.scan"),
    (LogStore, "latest_offsets", "log.latest_offsets"),
    (Catalog, "current_commit", "catalog.current_commit"),
    (Catalog, "commit", "catalog.commit"),
    (LogStreamReader, "poll", "reader.poll"),
    (LogStreamReader, "commit_batch", "reader.commit_batch"),
    (Lookuper, "lookup", "client.lookup"),
]


# spans that never start Spark work: no job group round trip
_NO_JOBS = ("catalog.", "log.latest_offsets", "reader.commit_batch")

STAGE_FIELDS = ("tasks", "run_ms", "cpu_ms", "input_bytes", "output_bytes", "shuffle_bytes")

# milliseconds to wait for Spark's listener bus to deliver the op's events
_DRAIN_TIMEOUT_MS = 10_000


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.on = False
        self._saved: list[tuple] = []

    # -- wrapping ---------------------------------------------------------
    def install(self) -> None:
        for cls, meth, name in ENTRY_POINTS:
            orig = cls.__dict__[meth]
            self._saved.append((cls, meth, orig))
            setattr(cls, meth, self._wrap(orig, name))

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._saved):
            setattr(cls, meth, orig)
        self._saved.clear()

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on or self.op is None:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.on or self.op is None:
            yield
            return
        s = Span(len(self.spans), name, self.op, self.stack[-1] if self.stack else None, 0.0)
        self.spans.append(s)
        self.stack.append(s.sid)
        jobs = not name.startswith(_NO_JOBS)
        if jobs:
            self.sc.setJobGroup(f"pb{s.sid}", name)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if jobs:
                self._restore_group()

    def _restore_group(self) -> None:
        for sid in reversed(self.stack):
            if not self.spans[sid].name.startswith(_NO_JOBS):
                self.sc.setJobGroup(f"pb{sid}", self.spans[sid].name)
                return
        self.sc._jsc.sc().clearJobGroup()

    @contextmanager
    def operation(self, op: int, name: str, traced: bool):
        """One client operation; its calls are traced iff `traced`."""
        self.op, self.on = op, traced
        try:
            with self.span(name):
                yield
        finally:
            self.op, self.on = None, False

    # -- Spark status ----------------------------------------------------
    def collect_spark(self, op: int) -> None:
        """Read stage totals for the op's spans from the status store.
        Called after the op's timer stopped. The status store is filled
        by Spark's asynchronous listener bus, so this first waits until
        the bus has delivered every queued event. A stage still not
        complete after that counts in `incomplete_stages`."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(_DRAIN_TIMEOUT_MS)
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for s in self.spans:
            if s.op != op or s.name.startswith(_NO_JOBS):
                continue
            tot = dict.fromkeys(("jobs", "incomplete_stages", *STAGE_FIELDS), 0)
            intervals = []
            for jid in tracker.getJobIdsForGroup(f"pb{s.sid}"):
                tot["jobs"] += 1
                info = tracker.getJobInfo(jid)
                if info is None:
                    tot["incomplete_stages"] += 1
                    continue
                for stage_id in info.stageIds:
                    st = _stage(store, stage_id)
                    if st == "skipped":  # its output was reused
                        continue
                    if st is None:
                        tot["incomplete_stages"] += 1
                        continue
                    for k in STAGE_FIELDS:
                        tot[k] += st[k]
                    intervals.append(st["span"])
            tot["stage_wall_ms"] = _union_ms(intervals)
            s.spark = tot

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _stage(store, stage_id: int) -> dict | str | None:
    """The stage's totals, "skipped" for a stage whose output was
    reused, or None for one the store does not hold as complete."""
    try:
        st = store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return None
    if st.status().toString() == "SKIPPED":
        return "skipped"
    sub, done = st.submissionTime(), st.completionTime()
    if not (sub.isDefined() and done.isDefined()):
        return None
    return {
        "tasks": st.numTasks(),
        "run_ms": st.executorRunTime(),
        "cpu_ms": st.executorCpuTime() / 1e6,
        "input_bytes": st.inputBytes(),
        "output_bytes": st.outputBytes(),
        "shuffle_bytes": st.shuffleReadBytes() + st.shuffleWriteBytes(),
        "span": (sub.get().getTime(), done.get().getTime()),
    }


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time in seconds: duration minus the part of its
    interval covered by its direct children (children run sequentially
    on one thread, so their durations add)."""
    out = {s.sid: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in out:
            out[s.parent] -= s.end - s.start
    return out
