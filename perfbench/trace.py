"""Spans around public calls, Spark job counters, and their attribution.

Spans are recorded by the benchmark's own code around calls into the
program (pipeline run, per-stage checkpoint materialize, the four
incremental index calls), kept in memory and attributed once the run
ends. Times come from the JVM clock so they compare directly with Spark's
job timestamps.

Counters come from Spark's application status store, the in-memory store
Spark's own listener keeps in every session (UI on or off): per job its
submission/completion time, stage ids and description; per stage its
task count, executor run time, GC time, shuffle-write and spill bytes.
A job counts toward every span whose interval contains its submission.
Inside a span, the job descriptions the program sets (add_batch tags its
jobs `incr:<phase>`) attribute jobs to phases.
"""

from __future__ import annotations

import functools
import json
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass(frozen=True)
class Span:
    name: str
    start_ms: int
    end_ms: int


@dataclass(frozen=True)
class Job:
    job_id: int
    submit_ms: int
    end_ms: int
    stage_ids: tuple[int, ...]
    description: str | None = None


@dataclass(frozen=True)
class Stage:
    tasks: int
    task_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int


SPAN_FIELDS = (
    "wall_s",
    "jobs",
    "tasks",
    "task_s",
    "core_util",
    "shuffle_write_bytes",
    "spill_bytes",
)

class Tracer:
    """Records a span around every call to a wrapped method while
    `enabled`; disabled, a wrapped method runs as if unwrapped."""

    def __init__(self, spark) -> None:
        self.spans: list[Span] = []
        self.active: list[str] = []  # names of the spans now open
        self.enabled = True
        self._clock = spark._jvm.java.lang.System.currentTimeMillis
        self._wrapped: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        t0 = self._clock()
        self.active.append(name)
        try:
            yield
        finally:
            self.active.pop()
            self.spans.append(Span(name, t0, self._clock()))

    def wrap(self, owner, attr: str, name_of) -> None:
        """Replace `owner.attr` with a spanned call until `unwrap()`.
        `name_of(*args, **kwargs)` names the span; None records none."""
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def spanned(*args, **kwargs):
            name = name_of(*args, **kwargs) if self.enabled else None
            if name is None:
                return inner(*args, **kwargs)
            with self.span(name):
                return inner(*args, **kwargs)

        self._wrapped.append((owner, attr, inner))
        setattr(owner, attr, spanned)

    def unless_within(self, prefix: str, name: str):
        """A `name_of` for wrap(): `name`, or None while a span whose name
        starts with `prefix` is open (the call counts toward that span)."""
        return lambda *a, **k: (
            None if any(s.startswith(prefix) for s in self.active) else name
        )

    def unwrap(self) -> None:
        while self._wrapped:
            owner, attr, inner = self._wrapped.pop()
            setattr(owner, attr, inner)


def read_status_store(spark) -> tuple[list[Job], dict[int, Stage]]:
    """Every retained job and stage from Spark's status store, serialised
    to JSON in the JVM by Jackson (as Spark's REST API does): two calls
    instead of several per job and stage, which took about 15 s for the
    layer tour's jobs."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = jvm.java.lang.Class.forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
    mapper.registerModule(scala.getField("MODULE$").get(None))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    raw_jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    raw_stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
        )
    )
    return parse_status(raw_jobs, raw_stages)


def parse_status(raw_jobs: list[dict], raw_stages: list[dict]):
    """Jobs and stages from the status store's JSON form (times in epoch
    ms). Jobs never submitted are left out; attempts of one stage add up."""
    jobs = [
        Job(
            job_id=j["jobId"],
            submit_ms=j["submissionTime"],
            end_ms=j.get("completionTime") or j["submissionTime"],
            stage_ids=tuple(j["stageIds"]),
            description=j.get("description"),
        )
        for j in raw_jobs
        if j.get("submissionTime") is not None
    ]
    stages: dict[int, Stage] = {}
    for s in raw_stages:
        prev = stages.get(s["stageId"], Stage(0, 0, 0, 0, 0))
        stages[s["stageId"]] = Stage(
            tasks=prev.tasks + s["numTasks"] * (s["status"] != "SKIPPED"),
            task_ms=prev.task_ms + s["executorRunTime"],
            gc_ms=prev.gc_ms + s["jvmGcTime"],
            shuffle_write_bytes=prev.shuffle_write_bytes + s["shuffleWriteBytes"],
            spill_bytes=prev.spill_bytes + s["memoryBytesSpilled"] + s["diskBytesSpilled"],
        )
    return jobs, stages


def _totals(
    jobs: list[Job], stages: dict[int, Stage], owner: dict[int, int]
) -> dict[str, float]:
    st = [
        stages[s]
        for j in jobs
        for s in j.stage_ids
        if s in stages and owner[s] == j.job_id
    ]
    return {
        "jobs": len(jobs),
        "tasks": sum(s.tasks for s in st),
        "task_s": sum(s.task_ms for s in st) / 1000.0,
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st),
        "spill_bytes": sum(s.spill_bytes for s in st),
        "gc_s": sum(s.gc_ms for s in st) / 1000.0,
    }


def attribute(
    spans: list[Span],
    jobs: list[Job],
    stages: dict[int, Stage],
    cores: int,
) -> dict[str, float]:
    """Per-span counters `<span>.<field>` for SPAN_FIELDS and gc_s.

    A span name seen more than once (one span per call) sums its calls'
    wall and counters. A stage listed by several jobs ran in the first of
    them (later ones skip it) and counts there only."""
    out: dict[str, float] = {}
    owner = _owners(jobs)
    by_name: dict[str, list[Span]] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)
    for name, group in by_name.items():
        inside = [
            j
            for j in jobs
            if any(sp.start_ms <= j.submit_ms <= sp.end_ms for sp in group)
        ]
        wall = sum(sp.end_ms - sp.start_ms for sp in group) / 1000.0
        tot = _totals(inside, stages, owner)
        out[f"{name}.wall_s"] = wall
        for k, v in tot.items():
            out[f"{name}.{k}"] = v
        out[f"{name}.core_util"] = tot["task_s"] / (wall * cores) if wall else 0.0
    return out


def _owners(jobs: list[Job]) -> dict[int, int]:
    """Stage id -> the first job listing it (later ones skip the stage)."""
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j.job_id, reverse=True):
        for s in j.stage_ids:
            owner[s] = j.job_id
    return owner


def attribute_phases(
    span: str,
    phases: tuple[str, ...],
    spans: list[Span],
    jobs: list[Job],
    stages: dict[int, Stage],
) -> dict[str, float]:
    """Per-phase counters `<span>.<phase>.{wall_s,jobs,task_s}` inside the
    spans named `span`. The program tags a phase's jobs `incr:<phase>`
    from the driver thread, so phases run one after another: a phase runs
    from its first tagged job's submission to the next phase's, or the
    span's end. Every job submitted in that interval counts toward it,
    tagged or not (jobs from helper threads carry no tag). Phase walls
    thus include the driver-side planning before the next phase. Phases
    that ran no job inside the span are left out."""
    owner = _owners(jobs)
    out: dict[str, float] = {}
    for sp in (s for s in spans if s.name == span):
        inside = [j for j in jobs if sp.start_ms <= j.submit_ms <= sp.end_ms]
        firsts: dict[str, int] = {}
        for j in sorted(inside, key=lambda j: j.submit_ms):
            if j.description and j.description.startswith("incr:"):
                firsts.setdefault(j.description, j.submit_ms)
        bounds = sorted((t, d) for d, t in firsts.items()) + [(sp.end_ms + 1, "")]
        for (t0, desc), (t1, _) in zip(bounds, bounds[1:]):
            phase = desc.split(":", 1)[1].replace("-", "_")
            if phase not in phases:
                continue
            tot = _totals([j for j in inside if t0 <= j.submit_ms < t1], stages, owner)
            key = f"{span}.{phase}"
            wall = (min(t1, sp.end_ms) - t0) / 1000.0
            out[f"{key}.wall_s"] = out.get(f"{key}.wall_s", 0.0) + wall
            out[f"{key}.jobs"] = out.get(f"{key}.jobs", 0) + tot["jobs"]
            out[f"{key}.task_s"] = out.get(f"{key}.task_s", 0.0) + tot["task_s"]
    return out
