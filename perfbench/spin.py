"""Host spin probe: fixed pure-Python work on each pinned CPU.

Same method as the repo's ``bench.py`` raw-CPU probe: one process per
CPU, each pinned to its CPU, counts a fixed loop; the probe's value is
the wall time until all have finished. Constant work, so a slower value
means a throttled or contended host, not a slower program.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time

SPIN_ITERATIONS = 5_000_000


def _spin(cpu: int) -> None:
    os.sched_setaffinity(0, {cpu})
    x = 0
    for i in range(SPIN_ITERATIONS):
        x += i


def spin_seconds(cpus: list[int]) -> float:
    # fork, as bench.py's probe does; callers run it with no threads alive
    ctx = mp.get_context("fork")
    procs = [ctx.Process(target=_spin, args=(c,)) for c in cpus]
    t0 = time.perf_counter()
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    return time.perf_counter() - t0
