"""Spans around the calls into each layer, with the Spark jobs each
span launched.

A span is ``(id, name, start, end, parent, op)``; ``op`` is the
operation (upload, sync round, query pass) it belongs to. Spans live in
memory and are written out with the run's artifact.

Job attribution comes from outside the package: entering a span sets
the calling thread's ``spark.jobGroup.id`` to the span id, so every job
the span launches carries it. Jobs from threads Spark starts itself (a
streaming query runs its batches on its own thread, under its own job
group) are attributed to the innermost span open when they were
submitted. ``harvest`` runs after each operation, outside the timed
spans: it drains the listener bus and reads each job the status store
(kept with the UI off) lists above the last one read, and the stages it
ran. Job ids the store skips (a job that never started, an event the
listener bus dropped) are counted in ``missing_jobs``; jobs launched
outside every span (checks, table resets) in ``outside_jobs``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-stage counters summed into a span: (name, StageData getter, scale)
_STAGE_COUNTERS = (
    ("exec_cpu_s", "executorCpuTime", 1e-9),
    ("exec_run_s", "executorRunTime", 1e-3),
    ("gc_s", "jvmGcTime", 1e-3),
    ("tasks", "numTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
    ("input_bytes", "inputBytes", 1),
    ("input_records", "inputRecords", 1),
    ("output_bytes", "outputBytes", 1),
    ("output_records", "outputRecords", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)
COUNTERS = tuple(c[0] for c in _STAGE_COUNTERS)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    op: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submitted, completed)
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent, "op": self.op,
            "start": self.start, "end": self.end, "attrs": self.attrs,
            "jobs": len(self.jobs), "counters": self.counters,
        }


class Tracer:
    """Records spans when enabled; every method is a no-op otherwise, so
    the untraced run pays nothing but a branch."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.self_s = 0.0  # tracer time spent inside open spans
        self.harvest_s = 0.0
        self._stack: list[Span] = []
        self._pending: list[Span] = []
        self._seq = 0
        self._last_job = -1
        self.missing_jobs = 0
        self.outside_jobs = 0
        self._seen_stages: set[int] = set()
        if enabled:
            self._sc = spark.sparkContext
            self._ctx = self._sc._jsc.sc()
            self._store = self._ctx.statusStore()

    def _set_group(self, group: str | None) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        sp = Span(f"perfbench-{self._seq}", name, parent.id if parent else None, op,
                  start=0.0, attrs=dict(attrs))
        self._seq += 1
        self._stack.append(sp)
        self._set_group(sp.id)
        sp.start = time.time()
        self.self_s += time.perf_counter() - t_in
        try:
            yield sp
        finally:
            sp.end = time.time()
            t_out = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].id if self._stack else None)
            self.spans.append(sp)
            self._pending.append(sp)
            self.self_s += time.perf_counter() - t_out

    def harvest(self) -> None:
        """Attribute every job submitted since the last harvest."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self._ctx.listenerBus().waitUntilEmpty()
        by_id = {sp.id: sp for sp in self._pending}
        new = []
        jobs = self._store.jobsList(None).iterator()  # newest first
        while jobs.hasNext():
            job = jobs.next()
            if job.jobId() <= self._last_job:
                break
            new.append(job)
        if new:
            top = new[0].jobId()
            self.missing_jobs += top - self._last_job - len(new)
            self._last_job = top
        for job in reversed(new):
            submitted = _epoch(job.submissionTime())
            completed = _epoch(job.completionTime())
            group = job.jobGroup()
            target = by_id.get(group.get()) if group.isDefined() else None
            if target is None and submitted is not None:
                inside = [s for s in self._pending if s.start <= submitted <= s.end]
                target = max(inside, key=lambda s: s.start, default=None)
            if target is None:
                self.outside_jobs += 1
                continue
            target.jobs.append((submitted or target.start, completed or target.end))
            stages = job.stageIds().iterator()
            while stages.hasNext():
                sid = stages.next()
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                stage = self._store.lastStageAttempt(sid)
                if str(stage.status()) == "SKIPPED":
                    continue
                for key, getter, scale in _STAGE_COUNTERS:
                    target.counters[key] += getattr(stage, getter)() * scale
        self._pending = []
        self.harvest_s += time.perf_counter() - t0


def _epoch(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


# ------------------------------------------------------------ span queries


def subtree(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[str | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, ()))
    return out


def self_time(spans: list[Span], sp: Span) -> float:
    """Span duration minus the time its direct children cover."""
    return sp.dur - sum(s.dur for s in spans if s.parent == sp.id)


def job_count(spans: list[Span], sp: Span) -> int:
    return sum(len(s.jobs) for s in subtree(spans, sp))


def counter(spans: list[Span], sp: Span, key: str) -> float:
    return sum(s.counters[key] for s in subtree(spans, sp))


def driver_only(spans: list[Span], sp: Span) -> float:
    """Time inside the span with no Spark job of it running."""
    ivs = sorted(
        (max(a, sp.start), min(b, sp.end))
        for s in subtree(spans, sp) for a, b in s.jobs
    )
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return max(0.0, sp.dur - busy)
