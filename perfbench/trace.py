"""Spans around the engine's public calls, and Spark's event log.

A :class:`Tracer` records ``(name, parent, start, end)`` spans in memory
when enabled and costs one ``if`` when not. Spans are opened in the
benchmark's own code around each call into a layer; calls the engine
makes internally (HDF5 packs, live snapshots) are reached by wrapping
the attribute the engine looks up at call time, and only in a traced
run.

:func:`parse_event_log` reads an uncompressed Spark event log (one JSON
event per line) into per-job records: submission and completion time,
call site, job group, stage and task counts, task CPU, GC, shuffle,
spill and output bytes, and Python-worker time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(name, stack[-1] if stack else None, time.time())
        stack.append(name)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()
            self.spans.append(s)  # list.append is atomic under the GIL

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until :meth:`unwrap`."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def within(self, name: str, lo: float, hi: float) -> list[Span]:
        return [s for s in self.spans if s.name == name and lo <= s.start and s.end <= hi]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


PYTHON_TIME = "time to run Python workers"


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float = 0.0
    call_site: str = ""
    group: str | None = None
    stages: int = 0  # stages that ran tasks (skipped ones are not counted)
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    output_b: int = 0  # bytes written to files: a write job
    python_s: float = 0.0  # Python-worker time of the job's pandas/UDF nodes

    @property
    def is_write(self) -> bool:
        return self.output_b > 0


def event_log_file(log_dir: Path) -> Path:
    """The one application's log in ``log_dir`` (rolling logs are off,
    see ``env.spark_conf``)."""
    apps = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {len(apps)}")
    return apps[0]


def parse_event_log(path: Path) -> list[Job]:
    """Per-job records from an uncompressed event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    ran: dict[int, set[int]] = {}  # job -> stages that ran tasks
    with open(path) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                submit=ev["Submission Time"] / 1000.0,
                call_site=props.get("callSite.short", ""),
                group=props.get("spark.jobGroup.id"),
            )
            jobs[job.job_id] = job
            ran[job.job_id] = set()
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            ran[job.job_id].add(ev["Stage ID"])
            job.tasks += 1
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1e3
            job.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            job.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            if job is None:
                continue
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PYTHON_TIME:  # a millisecond SQL timing metric
                    job.python_s += int(acc.get("Value", 0)) / 1e3
    for job in jobs.values():
        job.stages = len(ran[job.job_id])
    return sorted(jobs.values(), key=lambda j: j.job_id)


def jobs_in(jobs: list[Job], lo: float, hi: float) -> list[Job]:
    """Jobs submitted inside ``[lo, hi]`` (epoch seconds). Units run one
    at a time, so a unit's interval holds exactly its jobs, including
    those its thread pools submit without the job group."""
    return [j for j in jobs if lo <= j.submit <= hi]


def spark_counters(jobs: list[Job], wall_s: float, cores: int) -> dict[str, float]:
    """Totals over ``jobs``; ``spark.write_s`` is the wall time during
    which at least one file-writing job ran."""
    cpu = sum(j.cpu_s for j in jobs)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j.stages for j in jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.task_cpu_s": cpu,
        "spark.cpu_share": cpu / (wall_s * cores) if wall_s else 0.0,
        "spark.gc_s": sum(j.gc_s for j in jobs),
        "spark.shuffle_write_mb": sum(j.shuffle_write_b for j in jobs) / 2**20,
        "spark.spill_mb": sum(j.spill_b for j in jobs) / 2**20,
        "spark.write_s": covered([(j.submit, j.end) for j in jobs if j.is_write]),
        "spark.write_mb": sum(j.output_b for j in jobs) / 2**20,
    }
