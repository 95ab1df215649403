"""Hardware parallelism probe — context for the N→4N scaling proxy.

Measures how much TOTAL throughput this box actually provides as process
count grows, for (a) in-cache compute (small numpy matmul — no memory
pressure, the best case any workload can hope for) and (b) DRAM copy
bandwidth (the worst case, what shuffles and scatters feel).

Rationale: the north-rule gate (≥0.8 efficiency from N to 4N executors) is
proxied on this single box by local[N] vs local[4N]. That proxy presumes the
box supplies ~4× resources for 4× slots. This probe measures whether it
does; results are embedded in BENCH_SCALING.json so the scaling number can
be read against the hardware's own ceiling.

Usage: python scripts/hw_probe.py  → one JSON line
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import time

import numpy as np


def _confine(cores: int) -> None:
    # pool initializer: confine this worker to hardware threads 0..cores-1,
    # so "p processes" means "p hardware threads", not "p runnable
    # processes the scheduler may spread over idle cores between timeslices"
    os.sched_setaffinity(0, set(range(cores)))


def cpu_task(_):
    a = np.random.rand(256, 256)
    t0 = time.monotonic()
    n = 0
    while time.monotonic() - t0 < 3.0:
        a = a @ a
        a /= np.abs(a).max() + 1.0
        n += 1
    return n


def bw_task(_):
    # np.ones + a warm-up copy force real page allocation on both buffers:
    # np.zeros would hand back copy-on-write zero pages and the first
    # timed copy would measure page-fault servicing, not DRAM bandwidth
    a = np.ones(200_000_000 // 8)
    b = np.empty_like(a)
    np.copyto(b, a)
    t0 = time.monotonic()
    n = 0
    while time.monotonic() - t0 < 3.0:
        np.copyto(b, a)
        n += 1
    return n * 0.4  # GB moved (read + write)


def probe(levels=(1, 4, 8, 16, 32), pin: bool = False) -> dict:
    out: dict = {"levels": list(levels), "pinned": pin}
    for name, fn in (("cpu_matmul_total", cpu_task), ("dram_copy_gb", bw_task)):
        totals = []
        for p in levels:
            init = (_confine, (p,)) if pin else (None, ())
            with mp.Pool(p, initializer=init[0], initargs=init[1]) as pool:
                totals.append(round(sum(pool.map(fn, range(p))), 1))
        out[name] = totals
        out[name + "_scale_vs_p1"] = [round(t / totals[0], 2) for t in totals]
    return out


if __name__ == "__main__":
    print(json.dumps(probe()))
