"""Spans around layer calls, with executor metrics attributed per job group.

A traced run wraps every layer call the benchmark makes in a span. Each span
tags the jobs it triggers with its own Spark job group, so the executor CPU,
GC, shuffle and spill of those jobs are read back from the status REST API
(``/api/v1/applications/<app>/jobs`` and ``/stages``) and attributed to the
span exactly: a job that runs under another group at the same time is not
counted. Spans live in memory and are written out once, at the end.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: Stage-level REST fields summed per job group, with the unit they are
#: reported in and the key they are reported under.
STAGE_FIELDS = {
    "executorCpuTime": "cpu_ns",
    "executorRunTime": "run_ms",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "numCompleteTasks": "tasks",
}

_FINISHED_STAGES = ("COMPLETE", "FAILED")
#: QueryPlanningTracker phases that turn a constructed DataFrame into an
#: executed plan once it is written.
PLANNING_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    layer: str
    trace_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.trace_id}/{self.span_id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op that
    costs one generator frame, so untraced runs carry no tracing work."""

    def __init__(self, spark, trace_id: str, enabled: bool):
        self.spark = spark
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name, layer=layer, trace_id=self.trace_id,
            span_id=next(self._ids),
            parent=parent.span_id if parent else None,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], **(extra or {})},
                f, indent=1,
            )


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds each layer spent in its own spans, outside their children.
    A child is contained in its parent, so a parent's self time is its
    duration minus the union of its children's intervals."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.seconds - covered)
    return out


def stage_owners(jobs: list[dict]) -> dict[int, dict]:
    """Stage id -> the job that ran it. A stage listed by several jobs (a
    reused shuffle map stage) belongs to the first of them, which ran it;
    the later ones skipped it."""
    owners: dict[int, dict] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job.get("stageIds", []):
            owners.setdefault(sid, job)
    return owners


def attribute(jobs: list[dict], stages: list[dict], groups) -> dict:
    """Sum :data:`STAGE_FIELDS` over the finished stage attempts whose
    owning job ran under one of ``groups``. Also counts those jobs."""
    groups = {groups} if isinstance(groups, str) else set(groups)
    owners = stage_owners(jobs)
    out = {key: 0 for key in STAGE_FIELDS.values()}
    out["jobs"] = sum(1 for j in jobs if j.get("jobGroup") in groups)
    out["stages"] = 0
    for st in stages:
        job = owners.get(st["stageId"])
        if job is None or job.get("jobGroup") not in groups:
            continue
        if st.get("status") not in _FINISHED_STAGES:
            continue
        out["stages"] += 1
        for src, key in STAGE_FIELDS.items():
            out[key] += st.get(src, 0) or 0
    return out


class StatusApi:
    """Reads the live application's status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def snapshot(self, settle_s: float = 60.0) -> tuple[list[dict], list[dict]]:
        """Jobs and stages once every job has finished and two reads in a
        row agree, so late listener events are in."""
        deadline = time.monotonic() + settle_s
        last = None
        while True:
            jobs = self._get("jobs")
            stages = self._get("stages")
            key = (
                [(j["jobId"], j["status"]) for j in jobs],
                [(s["stageId"], s["attemptId"], s["status"],
                  s.get("numCompleteTasks")) for s in stages],
            )
            running = any(j["status"] == "RUNNING" for j in jobs) or any(
                s["status"] == "ACTIVE" for s in stages
            )
            if (key == last and not running) or time.monotonic() > deadline:
                return jobs, stages
            last = key
            time.sleep(0.5)


class WritePlanning:
    """Planning time of each noop write the session runs, taken from the
    write's own ``QueryExecution``: a JVM ``QueryExecutionListener``
    implemented here reads the sum of its :data:`PLANNING_PHASES` from the
    query planning tracker. The listener bus calls it after the write has
    returned, so :meth:`after` waits for it."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._cv = threading.Condition()
        self.seconds: list[float | None] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def _add(self, value: float | None) -> None:
        with self._cv:
            self.seconds.append(value)
            self._cv.notify_all()

    def onSuccess(self, func_name, qe, duration_ns):
        if qe.logical().getClass().getSimpleName() != "OverwriteByExpression":
            return
        phases = qe.tracker().phases()
        ms = sum(
            phases.get(p).get().durationMs()
            for p in PLANNING_PHASES
            if phases.get(p).isDefined()
        )
        self._add(ms / 1000.0)

    def onFailure(self, func_name, qe, exception):
        if qe.logical().getClass().getSimpleName() == "OverwriteByExpression":
            self._add(None)

    def mark(self) -> int:
        with self._cv:
            return len(self.seconds)

    def after(self, mark: int, timeout: float = 60.0) -> float:
        """Planning seconds of the first successful write recorded after
        ``mark`` (a failed write before it records None)."""
        with self._cv:
            if not self._cv.wait_for(
                lambda: any(v is not None for v in self.seconds[mark:]), timeout
            ):
                raise TimeoutError("no write planning time was recorded")
            return next(v for v in self.seconds[mark:] if v is not None)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
