"""Spark event-log parsing and span attribution.

A traced run sets the job description of every Spark job it starts to
``perfbench:<span id>`` (see ``spans.py``). This module reads the
session's uncompressed event log and sums task metrics per span:

- jobs, their submit/complete intervals and their stages;
- shuffle bytes written, bytes spilled to disk, output bytes written;
- executor run time of every task and each task's wall duration.

Only four event types are read: JobStart, JobEnd, StageSubmitted and
TaskEnd. A stage takes its span from its StageSubmitted properties, or
else from the first job that lists it. Everything else is ignored, so
a log trimmed to those events parses the same as the full one.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

PREFIX = "perfbench:"
DESC_KEY = "spark.job.description"


@dataclass
class SpanCost:
    """Spark work attributed to one span (all times in seconds)."""

    jobs: list[tuple[float, float]] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    task_run_s: float = 0.0
    #: stage id -> wall duration of each of its tasks
    stage_tasks: dict[int, list[float]] = field(default_factory=dict)


def read_events(path: str) -> list[dict]:
    """Events of one log file, or of the single app log in a directory."""
    if os.path.isdir(path):
        names = sorted(n for n in os.listdir(path) if not n.startswith("."))
        if len(names) != 1:
            raise ValueError(f"expected one event log in {path}, found {names}")
        path = os.path.join(path, names[0])
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _span_of(props: dict | None) -> str | None:
    desc = (props or {}).get(DESC_KEY) or ""
    return desc[len(PREFIX):] if desc.startswith(PREFIX) else None


def attribute(events: list[dict]) -> dict[str | None, SpanCost]:
    """Per-span cost; work whose job carries no span id goes under None."""
    costs: dict[str | None, SpanCost] = {}
    stage_span: dict[int, str | None] = {}
    job_span: dict[int, str | None] = {}
    job_start: dict[int, float] = {}

    def cost(span):
        return costs.setdefault(span, SpanCost())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            span = _span_of(ev.get("Properties"))
            job_span[jid] = span
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, span)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                cost(job_span[jid]).jobs.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            props = ev.get("Properties")
            if props and DESC_KEY in props:
                stage_span[sid] = _span_of(props)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            c = cost(stage_span.get(sid))
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            c.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            c.task_run_s += m.get("Executor Run Time", 0) / 1000.0
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            c.stage_tasks.setdefault(sid, []).append(dur)
    return costs


def merge(costs: list[SpanCost]) -> SpanCost:
    out = SpanCost()
    for c in costs:
        out.jobs += c.jobs
        out.shuffle_write_bytes += c.shuffle_write_bytes
        out.spill_bytes += c.spill_bytes
        out.bytes_written += c.bytes_written
        out.task_run_s += c.task_run_s
        for sid, durs in c.stage_tasks.items():
            out.stage_tasks.setdefault(sid, []).extend(durs)
    return out


def task_skew(c: SpanCost) -> float:
    """max/median task duration of the span's heaviest stage (the stage
    with the largest summed task time); 1.0 when no stage ran two or
    more tasks."""
    stages = [d for d in c.stage_tasks.values() if len(d) >= 2]
    if not stages:
        return 1.0
    heaviest = max(stages, key=sum)
    med = statistics.median(heaviest)
    return max(heaviest) / med if med > 0 else 1.0


def covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Wall time in [start, end] during which no Spark job was running."""
    return (end - start) - covered(intervals, start, end)
