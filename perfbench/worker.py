"""One workload run inside a fresh, CPU-pinned Spark process.

Started by ``run.py``; writes its measurements as JSON to ``--result``.

Order of a run:

1. session start, then the lane's set-up, three times (the session is
   stopped and started again before each repeat after the first);
   ``setup_s`` is the median of the two restarts, as the first set-up
   also launches the JVM;
2. one cold operation (``cold_run_s``), which also warms the session;
3. the expected output is prepared (untimed);
4. closed-loop operations, one at a time, until ``--seconds`` have
   passed and at least ``min_ops`` were made; the median is reported;
5. with ``--trace 1``: one more operation with spans on, then the
   session stops and its event log is read for the per-layer metrics.

Every operation's output is checked; a wrong output or an exception
counts as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
#: stop starting new operations after this many seconds of the run
DEADLINE_S = 140.0


def _session(lane, work: str, trace: bool, index: int):
    from thecrowler_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog", str(index))
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{lane.name}",
        cores=lane.cores,
        shuffle_partitions=lane.shuffle_partitions,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the Spark JVM")


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    a = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    from lanes import LANES

    t_start = time.perf_counter()
    lane = LANES[a.workload](a.seed, a.cores, a.smoke)
    trace = bool(a.trace)

    setups = []
    spark = None
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        if spark is not None:
            lane.release()
            spark.stop()
        spark = _session(lane, a.work, trace, i)
        lane.setup(spark, a.work)
        setups.append(time.perf_counter() - t0)

    attempted = failed = 0

    def collect_heap():
        # every operation starts from a collected heap, so a collection
        # left over from the previous one is not charged to it
        spark.sparkContext._jvm.System.gc()

    def run_op(check=True):
        nonlocal attempted, failed
        attempted += 1
        collect_heap()
        try:
            res = lane.op(spark, a.work)
        except Exception:
            traceback.print_exc()
            failed += 1
            return None
        if check and not verify(res[1]):
            return None
        return res

    def verify(output) -> bool:
        nonlocal failed
        if lane.check(output):
            return True
        print(f"perfbench: wrong output {output}", file=sys.stderr)
        failed += 1
        return False

    # the cold operation runs first so that nothing else warms the session
    # for it; its output is checked once the expected output is ready
    cold = run_op(check=False)
    lane.prepare_check(spark)
    if cold is not None and not verify(cold[1]):
        cold = None
    walls, rates, output = [], [], None
    t_meas = time.perf_counter()
    while len(walls) < lane.min_ops or time.perf_counter() - t_meas < a.seconds:
        if time.perf_counter() - t_start > DEADLINE_S:
            break
        res = run_op()
        if res is not None:
            units, output, wall = res
            walls.append(wall)
            rates.append(units / wall)
    out = {
        "attempted": attempted,
        "failed": failed,
        "ops": len(walls),
        "setup_s": statistics.median(setups[1:]),
        "setups": setups,
        "cold_run_s": cold[2] if cold else None,
        "urls_per_s": statistics.median(rates) if rates else None,
        "op_walls": walls,
        "output": output,
        "jvm_peak_rss_mb": _jvm_peak_rss_mb(spark),
    }

    if trace:
        import eventlog as EL
        from spans import Tracer

        tracer = Tracer(spark)
        attempted += 1
        collect_heap()
        try:
            _, res, wall, traced = lane.traced_op(spark, a.work, tracer)
            verify(res)
        except Exception:
            traceback.print_exc()
            failed += 1
            traced = None
        spark.stop()
        spark = None
        if traced is not None:
            log_dir = os.path.join(a.work, "eventlog", str(SETUP_REPEATS - 1))
            costs = EL.attribute(EL.read_events(log_dir))
            layers = lane.layer_metrics(tracer, costs, traced)
            layers["trace_overhead_s"] = wall - statistics.median(walls) if walls else 0.0
            out["layers"] = layers
        print("perfbench: spans " + json.dumps(tracer.spans), file=sys.stderr)
        out["attempted"], out["failed"] = attempted, failed
    if spark is not None:
        spark.stop()
    out["run_s"] = time.perf_counter() - t_start
    print("perfbench: " + json.dumps({k: v for k, v in out.items() if k != "layers"}),
          file=sys.stderr)
    with open(a.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
