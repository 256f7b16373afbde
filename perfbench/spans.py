"""Spans and Spark counters for the traced benchmark run.

A span wraps one call into a layer of the engine.  Spans nest per thread;
each records its name, start, end, parent span and op id.  While tracing
is on, every span also opens its own Spark job group, so the jobs a span
submits (and their stages and tasks) are counted against it and not
against its parent or a concurrent client's span.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Collects spans in memory; ``enabled=False`` makes every span free."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(next(self._ids), name, stack[-1].id if stack else None, op, 0.0)
        stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{s.id}", name)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                if stack:
                    self.sc.setJobGroup(f"span-{stack[-1].id}", stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def self_seconds(self) -> dict[str, float]:
        """Per layer: time inside its spans not covered by child spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end
            )
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_wait_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    retried_stages: int = 0

    def add(self, other: "Counters") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return _dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _stage_launch_waits(spark) -> dict[tuple[int, int], float]:
    """(stageId, attemptId) -> seconds from stage submission to its first
    task launch, from the UI store's REST endpoint."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.load(r)
    out = {}
    for st in stages:
        sub, first = _rest_time(st.get("submissionTime")), _rest_time(st.get("firstTaskLaunchedTime"))
        if sub is not None and first is not None:
            out[(st["stageId"], st["attemptId"])] = max(0.0, first - sub)
    return out


def span_counters(spark, tracer: Tracer) -> tuple[dict[int, Counters], list[str]]:
    """Spark counters per span id, from the status tracker (jobs, stages,
    tasks per job group) and one settled REST snapshot of every complete
    stage (CPU, GC, shuffle, spill, launch wait).  Also returns the reasons
    any counter could not be measured."""
    from findb_spark.metrics import settled_stages_snapshot

    tracker = spark.sparkContext.statusTracker()
    snap, missing = settled_stages_snapshot(spark)
    unmeasured = [f"rest-stage-fields: {m}" for m in missing]
    try:
        waits = _stage_launch_waits(spark)
    except OSError as e:
        waits = {}
        unmeasured.append(f"stage-launch-times: {type(e).__name__}")
    by_stage: dict[int, list[tuple[int, dict]]] = {}
    for (sid, att), fields in (snap or {}).items():
        by_stage.setdefault(sid, []).append((att, fields))
    out: dict[int, Counters] = {}
    evicted = 0
    for s in tracer.spans:
        c = Counters()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(f"span-{s.id}"):
            c.jobs += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                evicted += 1
                continue
            stage_ids.update(info.stageIds)
        for sid in stage_ids:
            si = tracker.getStageInfo(sid)
            attempts = by_stage.get(sid, [])
            if (snap is not None and not attempts) or (snap is None and si is None):
                continue  # skipped: the stage's shuffle output was reused
            c.stages += 1
            c.tasks += si.numTasks if si is not None else 0
            for att, f in attempts:
                c.retried_stages += att > 0
                c.cpu_s += f["executorCpuTime"] / 1e9
                c.gc_s += f["jvmGcTime"] / 1e3
                c.shuffle_write_mb += f["shuffleWriteBytes"] / 2**20
                c.spill_mb += (f["memoryBytesSpilled"] + f["diskBytesSpilled"]) / 2**20
                c.task_wait_s += waits.get((sid, att), 0.0)
        out[s.id] = c
    if evicted:
        unmeasured.append(f"status-tracker evicted {evicted} jobs")
    return out, unmeasured
