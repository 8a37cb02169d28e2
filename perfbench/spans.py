"""Spans and Spark status-store counters for the traced benchmark run.

Spans are recorded by the benchmark around its own calls into the
program (the program itself is never edited); they stay in memory and
are written out once at the end. Spark counters come from the live
status store (`sc._jsc.sc().statusStore()`), which is populated with the
UI off. Both sides use wall-clock epoch seconds, so a Spark job is
attributed to the span its submission time falls in.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing, so
    the untraced runs pay one attribute check per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stack = threading.local()

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            self.spans.append(Span(name, start, end, parent, attrs))
            return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a span; spans opened inside it on the same thread become
        its children."""
        if not self.enabled:
            yield None
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        idx = self.add(name, time.time(), 0.0, stack[-1] if stack else None, **attrs)
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """A span's duration minus the part its children cover."""
        s = self.spans[idx]
        kids = [(c.start, c.end) for c in self.children(idx)]
        return s.seconds - covered(kids, s.start, s.end)

    def dump(self, path: str, extra: dict) -> None:
        spans = [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "self_s": self.self_time(i), **s.attrs}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, default=str)


COUNTER_KEYS = ("jobs", "stages", "tasks", "run_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def stage_counters(stages: list[dict]) -> dict:
    """Sum the counters of the stages that ran (skipped and pending
    stages carry no tasks and are not counted)."""
    ran = [s for s in stages if s["status"] not in ("SKIPPED", "PENDING")]
    return {
        "stages": len(ran),
        "tasks": sum(s["numCompleteTasks"] for s in ran),
        "run_s": sum(s["executorRunTime"] for s in ran) / 1000.0,
        "gc_s": sum(s["jvmGcTime"] for s in ran) / 1000.0,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) / MB,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / MB,
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                        for s in ran) / MB,
    }


def delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in COUNTER_KEYS}


class StatusStore:
    """Reads jobs and stages from the live status store as JSON, one
    py4j call each. Retention must cover the whole run
    (`RETENTION_CONF`), or early jobs are evicted and totals drop."""

    RETENTION_CONF = {
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        jvm = spark.sparkContext._jvm
        gw = spark.sparkContext._gateway
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = gw.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects all jobs that returned to the caller."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        seq = self._store.stageList(None, False, False, self._no_quantiles,
                                    self._no_status)
        return json.loads(self._mapper.writeValueAsString(seq))

    def snapshot(self) -> dict:
        """Cumulative counters of every job and stage so far."""
        self.drain()
        jobs = self.jobs()
        return {"jobs": len(jobs), **stage_counters(self.stages())}


def jobs_in(jobs: list[dict], lo: float, hi: float) -> list[dict]:
    """Jobs submitted in [lo, hi) (epoch seconds)."""
    return [j for j in jobs if lo <= j["submissionTime"] / 1000.0 < hi]


def jobs_of_group(jobs: list[dict], group: str) -> list[dict]:
    return [j for j in jobs if j.get("jobGroup") == group]


def job_interval(job: dict) -> tuple[float, float]:
    end = job.get("completionTime") or job["submissionTime"]
    return job["submissionTime"] / 1000.0, end / 1000.0


def stages_of(jobs: list[dict], stages_by_id: dict[int, list[dict]]) -> list[dict]:
    ids = sorted({sid for j in jobs for sid in j["stageIds"]})
    return [s for sid in ids for s in stages_by_id.get(sid, [])]


def index_stages(stages: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in stages:
        out.setdefault(s["stageId"], []).append(s)
    return out
