"""Record ``tiny_eventlog.jsonl`` and ``tiny_spans.json`` at toy size.

    python3 perfbench/tests/data/record_tiny_eventlog.py

Runs four spans on a 2-core local session with an uncompressed event
log, then keeps only the events and fields ``eventlog.attribute`` reads
(and, of the properties, only the job description).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, BENCH)

from eventlog import DESC_KEY, read_events  # noqa: E402
from spans import Tracer  # noqa: E402

KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerStageSubmitted": ("Stage Info", "Properties"),
    "SparkListenerTaskEnd": ("Stage ID", "Task Info", "Task Metrics"),
}
TASK_INFO = ("Launch Time", "Finish Time")
TASK_METRICS = ("Executor Run Time", "Disk Bytes Spilled", "Shuffle Write Metrics",
                "Output Metrics")


def _trim(ev: dict) -> dict:
    out = {"Event": ev["Event"]}
    for k in KEEP[ev["Event"]]:
        if k not in ev:
            continue
        v = ev[k]
        if k == "Properties":
            v = {DESC_KEY: v[DESC_KEY]} if DESC_KEY in v else {}
        elif k == "Stage Info":
            v = {"Stage ID": v["Stage ID"]}
        elif k == "Task Info":
            v = {f: v[f] for f in TASK_INFO}
        elif k == "Task Metrics":
            v = {f: v[f] for f in TASK_METRICS if f in v}
        out[k] = v
    return out


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="tiny_eventlog_", dir=HERE)
    try:
        spark = (
            SparkSession.builder.master("local[2]").appName("tiny-eventlog")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", work)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        tracer = Tracer(spark)
        df = spark.range(0, 20_000, 1, 4)
        with tracer.span("root"):
            with tracer.span("shuffle_agg"):
                df.groupBy((F.col("id") % 97).alias("k")).count().collect()
            time.sleep(0.2)  # driver-side time no job covers
            with tracer.span("plain_count"):
                df.count()
            with tracer.span("skewed_tasks"):
                # one task of eight sleeps 3 s, the others 0.02 s
                spark.sparkContext.parallelize(range(8), 8).map(
                    lambda i: time.sleep(3.0 if i == 0 else 0.02) or i
                ).count()
        spark.stop()
        events = [_trim(ev) for ev in read_events(work) if ev["Event"] in KEEP]
        with open(os.path.join(HERE, "tiny_eventlog.jsonl"), "w") as f:
            for ev in events:
                f.write(json.dumps(ev) + "\n")
        with open(os.path.join(HERE, "tiny_spans.json"), "w") as f:
            json.dump(tracer.spans, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
