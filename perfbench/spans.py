"""Spans recorded around the benchmark's calls into the engine, and the
Spark event-log records attributed to them (traced runs only).

A span is one call the benchmark makes (a micro-batch, a lookup, an
ingest, a replay). Jobs are attributed to spans in this order:

1. the job group the benchmark set around its own call;
2. for jobs run inside ``foreachBatch`` (whose group is the streaming
   query's run id), the ``streaming.sql.batchId`` job property, matched to
   the batch span with that id whose interval holds the job's submission;
3. otherwise the shortest span whose interval holds the submission.

A span's driver gap is its wall time minus the union of its jobs'
[submission, completion] intervals: planning, py4j calls and manifest I/O.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "exec_run_ms",
    "exec_cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of closed intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        elif hi > cur_hi:
            cur_hi = hi
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def driver_gap(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Span wall minus the part of it covered by the given intervals."""
    clipped = [(max(lo, start), min(hi, end)) for lo, hi in intervals]
    return (end - start) - union_length(clipped)


@dataclass
class Job:
    job_id: int
    start_ms: float
    end_ms: float
    group: str | None
    batch_id: str | None
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float
    group: str | None = None
    batch_id: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)


def parse_event_log(lines) -> dict[int, Job]:
    """Per-job counters from Spark event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        head = line[:48]
        if not any(w in head for w in _WANTED):
            continue
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(
                e["Job ID"],
                e["Submission Time"],
                e["Submission Time"],
                props.get("spark.jobGroup.id"),
                props.get("streaming.sql.batchId"),
            )
            job.counters["jobs"] = 1
            jobs[job.job_id] = job
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = job.job_id
        elif ev == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            job = jobs.get(stage_job.get(e["Stage Info"]["Stage ID"]))
            if job is not None:
                job.counters["stages"] += 1
        else:
            job = jobs.get(stage_job.get(e["Stage ID"]))
            m = e.get("Task Metrics")
            if job is None or not m:
                continue
            c = job.counters
            c["tasks"] += 1
            c["exec_run_ms"] += m.get("Executor Run Time", 0)
            c["exec_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs


def read_event_logs(log_dir: str) -> dict[int, Job]:
    """Parse every event-log file Spark wrote under ``log_dir``."""
    lines = []
    for fp in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        name = os.path.basename(fp)
        if os.path.isfile(fp) and not name.startswith((".", "appstatus")):
            with open(fp) as f:
                lines.extend(f)
    return parse_event_log(lines)


def attribute(jobs: dict[int, Job], spans: list[Span]) -> dict[int, list[Job]]:
    """Map span index -> the jobs attributed to it (see module docstring).
    Jobs outside every span are left out."""
    by_group = {s.group: i for i, s in enumerate(spans) if s.group}
    batches = [(i, s) for i, s in enumerate(spans) if s.batch_id is not None]
    out: dict[int, list[Job]] = {}
    for job in jobs.values():
        idx = by_group.get(job.group)
        if idx is None and job.batch_id is not None:
            idx = next(
                (
                    i
                    for i, s in batches
                    if s.batch_id == job.batch_id and s.start_ms <= job.start_ms <= s.end_ms
                ),
                None,
            )
        if idx is None:
            holding = [
                (s.wall_ms, i)
                for i, s in enumerate(spans)
                if s.start_ms <= job.start_ms <= s.end_ms
            ]
            idx = min(holding)[1] if holding else None
        if idx is not None:
            out.setdefault(idx, []).append(job)
    return out


def span_counters(span: Span, jobs: list[Job]) -> dict:
    """Summed job counters of one span plus its driver gap."""
    c = dict.fromkeys(COUNTERS, 0)
    for j in jobs:
        for k, v in j.counters.items():
            c[k] += v
    c["driver_gap_ms"] = driver_gap(
        span.start_ms, span.end_ms, [(j.start_ms, j.end_ms) for j in jobs]
    )
    return c
