"""Timing of the benchmark's operations and, in a traced run, spans around
calls into each library layer, joined with Spark's event log.

A span sets a Spark job group before it calls into the library, so each
job in the event log names the span that submitted it. Jobs submitted
from threads that do not inherit the caller's local properties carry no
group; they are counted as unattributed.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from proctree import PeakRss, cpu_seconds

MB = 2 ** 20


class Meter:
    """Wall and process-tree CPU seconds summed over timed sections, and
    the tree's peak RSS sampled while a section runs."""

    def __init__(self, root_pid: int, rss: PeakRss):
        self.root_pid = root_pid
        self.rss = rss
        self.wall = self.cpu = 0.0
        self.sections: list[tuple[float, float]] = []

    @contextmanager
    def timed(self):
        c0 = cpu_seconds(self.root_pid)
        self.rss.active.set()
        t0 = time.time()              # epoch, as the event log's task times
        try:
            yield
        finally:
            t1 = time.time()
            self.rss.active.clear()
            self.sections.append((t0, t1))
            self.wall += t1 - t0
            self.cpu += cpu_seconds(self.root_pid) - c0


@dataclass
class Span:
    name: str
    group: str
    iteration: int
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a no-op otherwise."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration = -1
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self.iteration < 0:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"pb{len(self.spans)}:{name}", self.iteration, parent)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.time()
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)

    def wrap_stages(self, pipeline) -> None:
        """Put a `stage.<name>.build` span around each `Stage.fn`."""
        if not self.enabled:
            return
        for st in pipeline.stages:
            st.fn = self._wrapped(f"stage.{st.name}.build", st.fn)

    def _wrapped(self, name, fn):
        def run(spark, ctx):
            with self.span(name):
                return fn(spark, ctx)
        return run


# ---------------------------------------------------------------- event log

@dataclass
class Job:
    group: str | None
    submit: float
    tasks: list = field(default_factory=list)


@dataclass
class Task:
    launch: float
    finish: float
    run_s: float
    gc_s: float
    python_s: float
    shuffle_mb: float
    spill_mb: float


_PYTHON_TIME = "time to run Python workers"     # a millisecond timing metric


def read_event_log(path: str) -> list[Job]:
    """Jobs of a Spark event log with their tasks' metrics."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = Job((ev.get("Properties") or {}).get("spark.jobGroup.id"),
                          ev["Submission Time"] / 1000.0)
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                info, tm = ev["Task Info"], ev["Task Metrics"]
                py_ms = sum(int(a.get("Update", 0))
                            for a in info.get("Accumulables", [])
                            if a.get("Name") == _PYTHON_TIME)
                task = Task(
                    info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0,
                    tm["Executor Run Time"] / 1000.0, tm["JVM GC Time"] / 1000.0,
                    py_ms / 1000.0,
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB,
                    tm["Disk Bytes Spilled"] / MB)
                jid = stage_job.get(ev["Stage ID"])
                if jid is not None:
                    jobs[jid].tasks.append(task)
    return list(jobs.values())


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


@dataclass
class SpanFacts:
    """One span name's totals within one iteration."""
    name: str
    wall: float = 0.0
    jobs: int = 0
    exec_s: float = 0.0
    python_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    unattributed: int = 0

    def add_jobs(self, jobs: list[Job]) -> None:
        self.jobs += len(jobs)
        for t in (t for j in jobs for t in j.tasks):
            self.exec_s += t.run_s
            self.python_s += t.python_s
            self.shuffle_mb += t.shuffle_mb
            self.spill_mb += t.spill_mb


def iteration_metrics(spans: list[Span], sections: list[tuple[float, float]],
                      wall: float, jobs: list[Job], layers) -> dict[str, float]:
    """Metrics of one traced iteration.

    A span's jobs are those of its own group, not its children's. The
    jobs counted for the engine are those submitted inside the
    iteration's timed `sections`; those without a group are unattributed.
    `layers` maps the per-span-name facts to workload-specific metrics.
    """
    inside = [j for j in jobs
              if any(lo <= j.submit <= hi for lo, hi in sections)]
    by_group: dict = {}
    for j in inside:
        by_group.setdefault(j.group, []).append(j)
    facts: dict[str, SpanFacts] = {}
    for sp in spans:
        f = facts.setdefault(sp.name, SpanFacts(sp.name))
        f.wall += sp.wall
        f.add_jobs(by_group.get(sp.group, []))
        if sp.parent is None:
            f.unattributed += sum(1 for j in by_group.get(None, [])
                                  if sp.start <= j.submit <= sp.end)
    m: dict[str, float] = {}
    for f in facts.values():
        if f.name.endswith((".build", ".construct", ".action")):
            m[f"{f.name}_s"] = f.wall
        for key in ("exec_s", "python_s", "shuffle_mb", "spill_mb"):
            m[f"{f.name}.{key}"] = getattr(f, key)
        m[f"{f.name}.wall_s"] = f.wall
    m.update(layers(facts))

    tasks = [t for j in inside for t in j.tasks]
    m.update({
        "spark.jobs": len(inside),
        "spark.tasks": len(tasks),
        "spark.exec_s": sum(t.run_s for t in tasks),
        "spark.gc_s": sum(t.gc_s for t in tasks),
        "spark.shuffle_mb": sum(t.shuffle_mb for t in tasks),
        "spark.spill_mb": sum(t.spill_mb for t in tasks),
        "spark.unattributed_jobs": len(by_group.get(None, [])),
    })
    top = [s for s in spans if s.parent is None]
    busy = [(t.launch, t.finish) for t in tasks]
    m["spark.driver_only_s"] = sum(s.wall - _covered(busy, s.start, s.end)
                                   for s in top)
    m["trace.span_coverage"] = sum(s.wall for s in top) / wall
    return m
