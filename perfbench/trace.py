"""Spans and Spark statistics, recorded from outside the engine.

``Tracer`` keeps spans in memory (name, kind, start, end, parent) and
writes them out once, when the run ends. ``SparkStats`` reads job and
stage statistics from the driver's status store over py4j, incrementally:
each ``poll()`` returns only the jobs and stages that appeared since the
previous poll, so a long run never walks the whole store.

The status store returns Scala ``Seq`` objects; py4j cannot iterate them
as Python sequences, so every read goes through ``size()``/``apply(i)``.
Both lists come newest first, which lets a poll stop at the highest id
below which everything has been read.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "tasks", "tasks_failed", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    stage_ids: list[int]
    tasks: int
    tasks_failed: int
    stages_skipped: int


@dataclass
class Stage:
    stage_id: int
    skipped: bool
    metrics: dict[str, float]


class SparkStats:
    """Incremental reader of the driver's ``AppStatusStore``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        # every id at or below a floor has been read; above it, the ids read
        # so far (jobs) or ``self.stages`` (stages) say what is new
        self._job_floor = -1
        self._stage_floor = -1
        self._jobs_seen: set[int] = set()
        self.stages: dict[int, Stage] = {}
        self.poll()  # everything before the first poll is set-up

    def poll(self) -> list[Job]:
        """Jobs finished since the last poll (oldest first); their stages are
        added to ``self.stages``. Unfinished jobs and stages are left for a
        later poll."""
        jobs_seq = self._store.jobsList(None)
        jobs: list[Job] = []
        running: list[int] = []
        for i in range(jobs_seq.size()):
            j = jobs_seq.apply(i)
            jid = j.jobId()
            if jid <= self._job_floor:
                break
            if jid in self._jobs_seen:
                continue
            if j.completionTime().isEmpty():
                running.append(jid)
                continue
            self._jobs_seen.add(jid)
            ids = j.stageIds()
            group = j.jobGroup()
            jobs.append(Job(
                job_id=jid,
                group=None if group.isEmpty() else group.get(),
                start=j.submissionTime().get().getTime() / 1000.0,
                end=j.completionTime().get().getTime() / 1000.0,
                stage_ids=[ids.apply(k) for k in range(ids.size())],
                tasks=j.numTasks(),
                tasks_failed=j.numFailedTasks(),
                stages_skipped=j.numSkippedStages(),
            ))
        self._job_floor = _floor(self._job_floor, self._jobs_seen, running)
        stages_seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        running = []
        for i in range(stages_seq.size()):
            s = stages_seq.apply(i)
            sid = s.stageId()
            if sid <= self._stage_floor:
                break
            if sid in self.stages:
                continue  # an earlier attempt of this stage was read
            status = s.status().toString()
            if status in ("ACTIVE", "PENDING"):
                running.append(sid)
                continue
            self.stages[sid] = Stage(sid, status == "SKIPPED", {
                "tasks": s.numTasks(),
                "tasks_failed": s.numFailedTasks(),
                "executor_run_s": s.executorRunTime() / 1e3,
                "executor_cpu_s": s.executorCpuTime() / 1e9,
                "jvm_gc_s": s.jvmGcTime() / 1e3,
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        self._stage_floor = _floor(self._stage_floor, self.stages, running)
        return sorted(jobs, key=lambda j: j.job_id)

    def totals(self, jobs: list[Job]) -> dict[str, float]:
        """Summed job and stage statistics over ``jobs``."""
        out = {"jobs": len(jobs), "stages": 0, "stages_skipped": 0}
        out.update({k: 0.0 for k in STAGE_FIELDS})
        seen: set[int] = set()
        for j in jobs:
            for sid in j.stage_ids:
                if sid in seen or sid not in self.stages:
                    continue
                seen.add(sid)
                st = self.stages[sid]
                if st.skipped:
                    out["stages_skipped"] += 1
                    continue
                out["stages"] += 1
                for k in STAGE_FIELDS:
                    out[k] += st.metrics[k]
        return out


def _floor(floor: int, seen, running: list[int]) -> int:
    """The highest id at or below which every entry has been read."""
    top = min(running) - 1 if running else max(seen, default=floor)
    return max(floor, top)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


@dataclass
class Span:
    sid: int
    name: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder: workload > pass > operation > phase > job."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, kind: str, **attrs) -> Span:
        span = Span(len(self.spans), name, kind, time.time(),
                    parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(span)
        self._stack.append(span.sid)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        assert self._stack and self._stack[-1] == span.sid, "spans must nest"
        self._stack.pop()

    def add_closed(self, name: str, kind: str, start: float, end: float,
                   parent: Span | None, **attrs) -> Span:
        span = Span(len(self.spans), name, kind, start, end,
                    parent.sid if parent else None, attrs)
        self.spans.append(span)
        return span

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the time its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return {
            s.sid: (s.end - s.start) - covered(kids.get(s.sid, []), s.start, s.end)
            for s in self.spans
        }

    def dump(self, path: str) -> None:
        selft = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "parent": s.parent, "name": s.name, "kind": s.kind,
                    "start": round(s.start, 6), "end": round(s.end, 6),
                    "self_s": round(selft[s.sid], 6), **s.attrs,
                }) + "\n")
