#!/usr/bin/env python3
"""Repo benchmark: one workload per call, one JSON result line.

    python3 perfbench/run.py --workload frontier_round --seed 0 --seconds 8 --trace 0

Run from the root of a checkout. The workload runs in a fresh Python +
Spark process pinned with ``taskset`` to ``--cores`` CPUs (default 4)
with a fixed driver heap; a spin probe runs before and after it. The
last line of standard output is

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with every ``end_to_end`` metric of ``BENCHMARK.json`` (``--trace 0``)
or every ``per_layer`` metric (``--trace 1``). A per-layer metric named
after another workload reads 0: that workload did not run.

``--cores 1`` runs the same workload on one pinned core (the 1-core
side of the N -> 4N scaling pair); ``--smoke`` uses toy input sizes.
See ``perfbench/RECORDS.md`` for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

from spin import spin_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: fixed driver heap per core count (0.75 GiB per core, at least 1 GiB)
HEAP = {1: "1g", 4: "3g"}
CHILD_TIMEOUT_S = 165


def _cpus(cores: int) -> list[int]:
    allowed = sorted(os.sched_getaffinity(0))
    if len(allowed) < cores:
        raise SystemExit(f"perfbench: needs {cores} CPUs, this process may use {len(allowed)}")
    return allowed[:cores]


def _run_child(a, work: str, cpus: list[int]) -> dict:
    result = os.path.join(work, "result.json")
    cmd = [
        "taskset", "-c", ",".join(map(str, cpus)),
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(a.cores),
        "--work", work, "--result", result,
    ] + (["--smoke"] if a.smoke else [])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_DRIVER_MEM=HEAP[a.cores],
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    # the child's stdout goes to our stderr: our stdout carries only the result
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        # the JVM and Python workers live in the child's session
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if code != 0:
        raise SystemExit(f"perfbench: workload process failed (exit {code})")
    with open(result) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, choices=sorted(HEAP), default=4)
    p.add_argument("--smoke", action="store_true", help="toy input sizes")
    a = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}; one of {names}")
    for d in ("thecrowler_spark", "jobs"):
        if not os.path.isdir(os.path.join(ROOT, d)):
            raise SystemExit(f"perfbench: program directory {d}/ not found under {ROOT}")

    cpus = _cpus(a.cores)
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        spin_before = spin_seconds(cpus)
        res = _run_child(a, work, cpus)
        spin_after = spin_seconds(cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        values = {f"{a.workload}.{k}": v for k, v in res.get("layers", {}).items()}
        values[f"{a.workload}.host_spin_s"] = max(spin_before, spin_after)
        values[f"{a.workload}.op_fail_ratio"] = res["failed"] / res["attempted"]
        values[f"{a.workload}.cold_run_s"] = res["cold_run_s"]
        wanted = spec["per_layer"]
    else:
        values = {k: res[k] for k in ("setup_s", "urls_per_s", "jvm_peak_rss_mb")}
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in values and values[name] is not None:
            metrics[name] = {"value": values[name], "unit": m["unit"]}
        elif a.trace and not name.startswith(a.workload + "."):
            metrics[name] = {"value": 0, "unit": m["unit"]}
        else:
            raise SystemExit(f"perfbench: metric {name} was not measured")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
