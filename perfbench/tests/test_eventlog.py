"""Event-log parser and span attribution.

``data/tiny_eventlog.jsonl`` is a Spark 4.1 event log recorded at toy
size by ``data/record_tiny_eventlog.py`` and trimmed to the events the
parser reads; ``data/tiny_spans.json`` holds the spans of that run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog as EL  # noqa: E402

DATA = os.path.join(HERE, "data")


def _job(jid, start_ms, end_ms, stages, desc=None):
    props = {EL.DESC_KEY: desc} if desc else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start_ms,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def _task(stage, launch_ms, finish_ms, shuffle=0, spill=0, written=0, run_ms=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": written},
        },
    }


def test_attribute_maps_jobs_and_sums_task_metrics():
    events = (
        _job(0, 1_000, 2_000, [0, 1], "perfbench:s1")
        + _job(1, 3_000, 3_500, [2], None)
        + [
            _task(0, 1_000, 1_100, shuffle=10, run_ms=90),
            _task(0, 1_000, 1_400, shuffle=5, spill=7, run_ms=380),
            _task(1, 1_500, 1_600, written=100, run_ms=100),
            _task(2, 3_000, 3_100, shuffle=1000),
        ]
    )
    costs = EL.attribute(events)
    s1 = costs["s1"]
    assert s1.jobs == [(1.0, 2.0)]
    assert s1.shuffle_write_bytes == 15
    assert s1.spill_bytes == 7
    assert s1.bytes_written == 100
    assert s1.task_run_s == pytest.approx(0.57)
    # work whose job carries no span id is kept apart, not dropped
    assert costs[None].shuffle_write_bytes == 1000
    assert costs[None].jobs == [(3.0, 3.5)]


def test_stage_submitted_properties_win_over_the_job_mapping():
    events = _job(0, 0, 10, [4], "perfbench:s1") + [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4},
         "Properties": {EL.DESC_KEY: "perfbench:s2"}},
        _task(4, 0, 5, shuffle=3),
    ]
    costs = EL.attribute(events)
    assert costs["s2"].shuffle_write_bytes == 3
    assert "s1" in costs and costs["s1"].shuffle_write_bytes == 0


def test_task_skew_uses_the_heaviest_stage():
    c = EL.SpanCost(stage_tasks={
        1: [1.0, 1.0, 1.0, 5.0],      # total 8, skew 5 / 1
        2: [0.1, 0.3],                # light stage, skew 0.3 / 0.2
        3: [100.0],                   # one task: no skew defined
    })
    assert EL.task_skew(c) == pytest.approx(5.0)
    assert EL.task_skew(EL.SpanCost()) == 1.0


def test_driver_gap_is_wall_not_covered_by_any_job():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.5, 12.0)]
    # [0, 10]: covered 1-4, 6-7, 9.5-10 -> 4.5 s covered
    assert EL.covered(jobs, 0.0, 10.0) == pytest.approx(4.5)
    assert EL.driver_gap(jobs, 0.0, 10.0) == pytest.approx(5.5)
    assert EL.driver_gap([], 0.0, 2.0) == pytest.approx(2.0)


def test_recorded_log_attribution():
    events = EL.read_events(os.path.join(DATA, "tiny_eventlog.jsonl"))
    with open(os.path.join(DATA, "tiny_spans.json")) as f:
        spans = {s["name"]: s for s in json.load(f)}
    costs = EL.attribute(events)

    # job -> span: every job started inside a span carries its id
    by_desc = {}
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            span = EL._span_of(ev.get("Properties"))
            by_desc[span] = by_desc.get(span, 0) + 1
    for sid, n in by_desc.items():
        assert len(costs[sid].jobs) == n
    shuffle, count = spans["shuffle_agg"]["id"], spans["plain_count"]["id"]
    assert len(costs[shuffle].jobs) >= 1 and len(costs[count].jobs) >= 1

    # summed shuffle bytes: the groupBy span writes shuffle output; the
    # totals over all spans equal the totals over all task-end events
    assert costs[shuffle].shuffle_write_bytes > 0
    total = sum(
        (ev["Task Metrics"].get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for ev in events if ev["Event"] == "SparkListenerTaskEnd"
    )
    assert sum(c.shuffle_write_bytes for c in costs.values()) == total

    # skew of the skewed span: one slow partition among fast ones
    skewed = spans["skewed_tasks"]["id"]
    assert EL.task_skew(costs[skewed]) > 3.0

    # every job of the recorded run falls inside its span's interval
    for name, rec in spans.items():
        for start, end in costs.get(rec["id"], EL.SpanCost()).jobs:
            assert rec["start"] - 0.05 <= start and end <= rec["end"] + 0.05, name
    root = spans["root"]
    all_jobs = [j for c in costs.values() for j in c.jobs]
    gap = EL.driver_gap(all_jobs, root["start"], root["end"])
    assert 0.0 < gap < root["end"] - root["start"]
