"""Per-layer attribution from outside the program.

A span is a window on the benchmark's wall clock (epoch seconds) around
one of its own calls into a layer. Spark jobs are attributed to the span
their submission time falls in; a job's tasks and stages follow it. The
jobs come from Spark's event log, written uncompressed and non-rolling
(one JSON object per line). JVM GC time comes from a sampler of the
driver JVM's `GarbageCollectorMXBean`s: in local mode every executor
thread shares that JVM, so per-task `jvmGCTime` would count one pause
once per running task.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from dataclasses import dataclass, field

MB = 1024 * 1024

#: Metrics every span reports, in output order.
SPAN_METRICS = {
    "wall_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "tasks": "count",
    "exec_run_s": "s",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
}
#: Extra I/O metrics for spans that read and write tables.
IO_METRICS = {"scan_mb": "MB", "write_mb": "MB"}


@dataclass
class Task:
    stage: int
    launch: float  # epoch s
    duration: float  # s
    run_s: float
    cpu_s: float
    shuffle_write: int
    spill: int
    read: int
    written: int
    failed: bool


@dataclass
class Job:
    job_id: int
    submit: float  # epoch s
    end: float | None
    stages: list[int]
    tasks: list[Task] = field(default_factory=list)


def read_event_log(lines) -> tuple[dict[int, Job], list[Task]]:
    """Parse an event log into jobs (with their tasks attached) and the
    list of all tasks. A task belongs to the job that lists its stage
    and was running when the task launched (a shuffle stage reused by a
    later job is skipped there, so it runs under one job only)."""
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1000.0, None, list(ev.get("Stage IDs", []))
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    launch=info.get("Launch Time", 0) / 1000.0,
                    duration=max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0) / 1000.0,
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    read=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    written=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    failed=bool(info.get("Failed")) or reason != "Success",
                )
            )
    by_stage: dict[int, list[Job]] = {}
    for job in jobs.values():
        for s in job.stages:
            by_stage.setdefault(s, []).append(job)
    for t in tasks:
        owners = by_stage.get(t.stage, [])
        running = [j for j in owners if j.submit <= t.launch and (j.end is None or t.launch <= j.end)]
        pick = running or owners
        if pick:
            max(pick, key=lambda j: j.submit).tasks.append(t)
    return jobs, tasks


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class GcSampler:
    """Samples the driver JVM's cumulative GC time (ms) on a thread, so
    the GC time of any window can be read afterwards."""

    def __init__(self, jvm, interval: float = 0.05):
        self._beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._interval = interval
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def read(self) -> float:
        return sum(max(b.getCollectionTime(), 0) for b in self._beans) / 1000.0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.time(), self.read()))
            self._stop.wait(self._interval)

    def __enter__(self) -> "GcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.samples.append((time.time(), self.read()))


def gc_between(samples: list[tuple[float, float]], lo: float, hi: float) -> float:
    """GC seconds in [lo, hi] from cumulative samples (last sample at or
    before each bound; the first sample if none precedes it)."""
    def at(t: float) -> float:
        val = samples[0][1] if samples else 0.0
        for ts, v in samples:
            if ts > t:
                break
            val = v
        return val

    return max(at(hi) - at(lo), 0.0)


def attribute(
    spans: list[tuple[str, float, float]],
    jobs: dict[int, Job],
    gc_samples: list[tuple[float, float]] | None = None,
) -> dict[str, dict[str, float]]:
    """Aggregate per span name over all its occurrences. Each entry holds
    the per-occurrence mean of every additive metric (so `wall_s` reads
    like one call), the maximum `task_skew`, and `n` occurrences. A job
    counts for the span its submission time falls in ([start, end))."""
    out: dict[str, dict[str, float]] = {}
    for name, lo, hi in spans:
        inside = [j for j in jobs.values() if lo <= j.submit < hi]
        ivals = [(j.submit, j.end if j.end is not None else hi) for j in inside]
        tasks = [t for j in inside for t in j.tasks]
        skew = 1.0
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t.stage, []).append(t.duration)
        for durs in by_stage.values():
            med = statistics.median(durs)
            if len(durs) > 1 and med > 0:
                skew = max(skew, max(durs) / med)
        row = out.setdefault(name, {k: 0.0 for k in (*SPAN_METRICS, *IO_METRICS)})
        row["n"] = row.get("n", 0) + 1
        row["wall_s"] += hi - lo
        row["driver_s"] += (hi - lo) - union_length(ivals, lo, hi)
        row["jobs"] += len(inside)
        row["tasks"] += len(tasks)
        row["exec_run_s"] += sum(t.run_s for t in tasks)
        row["exec_cpu_s"] += sum(t.cpu_s for t in tasks)
        row["gc_s"] += gc_between(gc_samples, lo, hi) if gc_samples else 0.0
        row["shuffle_write_mb"] += sum(t.shuffle_write for t in tasks) / MB
        row["spill_mb"] += sum(t.spill for t in tasks) / MB
        row["scan_mb"] += sum(t.read for t in tasks) / MB
        row["write_mb"] += sum(t.written for t in tasks) / MB
        row["task_skew"] = max(row["task_skew"], skew)
    for row in out.values():
        n = row["n"]
        for k in row:
            if k not in ("n", "task_skew"):
                row[k] /= n
    return out
