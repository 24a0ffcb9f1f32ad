"""Spans around the benchmark's calls into the engine, and the Spark
event-log reader that attributes jobs and tasks to them.

Every public engine call the benchmark makes runs under its own Spark
job group ``op<i>|<call>``, so each job in the event log names the op
and the call that launched it. Spans (op, call, seconds) stay in
memory; the event log is read once, after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class Span:
    op: str
    name: str
    seconds: float


class Tracer:
    """Times calls and tags their Spark jobs. With ``tagging`` false no
    job group is ever set; with ``enabled`` false a call only runs (no
    per-call job group, no span)."""

    def __init__(self, sc, tagging: bool):
        self.sc = sc
        self.tagging = tagging
        self.enabled = False
        self.op = "setup"
        self.spans: list[Span] = []

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(f"{self.op}|{name}", name, False)

    def begin(self, op: str) -> None:
        """Jobs from here on belong to ``op`` (outside any traced call)."""
        self.op = op
        if self.tagging:
            self._group("-")

    def call(self, name: str, fn: Callable, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        self._group(name)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.append(Span(self.op, name, time.perf_counter() - t0))
            self._group("-")

    def wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced


@dataclass
class JobStats:
    group: str
    submitted_ms: int
    completed_ms: int | None = None
    tasks: int = 0
    task_s: float = 0.0
    shuffle_read_b: int = 0
    spill_b: int = 0


@dataclass
class EventLog:
    jobs: dict[int, JobStats] = field(default_factory=dict)

    def by_group(self) -> dict[str, list[JobStats]]:
        out: dict[str, list[JobStats]] = defaultdict(list)
        for j in self.jobs.values():
            out[j.group].append(j)
        return out


def _lines(files: list[str]):
    for f in files:
        with open(f, encoding="utf-8") as fh:
            yield from fh


def read_event_log(log_dir: str) -> EventLog:
    """Jobs (with their job group) and the tasks each ran. A stage
    shared by several jobs is charged to the first job that lists it;
    skipped stages run no tasks."""
    # Spark 4 writes one directory per application (eventlog_v2_<app>/)
    # holding one or more events_<n>_<app> files, in order
    apps = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {apps}")
    files = sorted(
        glob.glob(os.path.join(apps[0], "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    log = EventLog()
    stage_job: dict[int, int] = {}
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            log.jobs[jid] = JobStats(group, ev["Submission Time"])
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            log.jobs[ev["Job ID"]].completed_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            job = log.jobs[jid]
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            job.tasks += 1
            job.task_s += (info["Finish Time"] - info["Launch Time"]) / 1000.0
            job.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            job.spill_b += m.get("Disk Bytes Spilled", 0)
    return log


def _covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def summarize(
    log: EventLog,
    spans: list[Span],
    op_times: dict[str, tuple[float, float]],
    cores: int,
    sink_calls: frozenset[str],
) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Engine-wide per-op metrics over the timed ops, plus per-call
    (build_s, jobs, task_s, shuffle_mb) means per invocation.

    ``op_times`` maps each traced op to its (start, end) epoch seconds.
    ``sink_calls`` are the calls that materialize results; every other
    traced call counts as driver build time (plan construction plus the
    eager actions that run inside it). ``driver.self_s_per_op`` is the
    part of an op during which no Spark job was running."""
    ops = set(op_times)
    n = len(ops)
    groups = log.by_group()
    timed_jobs = [
        j for g, js in groups.items() if g.split("|", 1)[0] in ops for j in js
    ]
    wall = sum(b - a for a, b in op_times.values())
    self_s = 0.0
    for op, (a, b) in op_times.items():
        runs = [
            (max(a, j.submitted_ms / 1e3), min(b, (j.completed_ms or b * 1e3) / 1e3))
            for g, js in groups.items()
            if g.split("|", 1)[0] == op
            for j in js
        ]
        self_s += (b - a) - _covered_s([r for r in runs if r[1] > r[0]])
    task_s = sum(j.task_s for j in timed_jobs)
    eager_jobs = [
        j
        for g, js in groups.items()
        if g.split("|", 1)[0] in ops and g.split("|", 1)[1] not in sink_calls | {"-"}
        for j in js
    ]
    build_s = sum(
        s.seconds for s in spans if s.op in ops and s.name not in sink_calls
    )
    engine = {
        "spark.jobs_per_op": len(timed_jobs) / n,
        "spark.tasks_per_op": sum(j.tasks for j in timed_jobs) / n,
        "spark.task_s_per_op": task_s / n,
        "spark.shuffle_read_mb_per_op": sum(j.shuffle_read_b for j in timed_jobs)
        / n
        / 1e6,
        "spark.spill_mb_per_op": sum(j.spill_b for j in timed_jobs) / n / 1e6,
        "spark.single_task_job_frac": (
            sum(1 for j in timed_jobs if j.tasks <= 1) / len(timed_jobs)
            if timed_jobs
            else 0.0
        ),
        "spark.parallel_eff": task_s / (wall * cores),
        "driver.build_s_per_op": build_s / n,
        "driver.self_s_per_op": self_s / n,
        "driver.build_frac": build_s / wall,
        "driver.eager_jobs_per_op": len(eager_jobs) / n,
    }
    per_call: dict[str, dict[str, float]] = {}
    calls = defaultdict(list)
    for s in spans:
        if s.op in ops:
            calls[s.name].append(s)
    for name, ss in calls.items():
        js = [j for s_op in {s.op for s in ss} for j in groups.get(f"{s_op}|{name}", [])]
        k = len(ss)
        per_call[name] = {
            "build_s": statistics.median(s.seconds for s in ss),
            "jobs": len(js) / k,
            "task_s": sum(j.task_s for j in js) / k,
            "shuffle_mb": sum(j.shuffle_read_b for j in js) / k / 1e6,
            "calls": k,
        }
    return engine, per_call
