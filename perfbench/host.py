"""Host block printed with every run: how many cores the run had, and how fast
they were in that window. The host's speed swings between windows, so a
figure is only comparable with figures whose host block reads alike."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
import zlib

_BUF = bytes(range(256)) * 8000  # 2 MB, deterministic

_UNITS_PER_WORKER = 5


def _unit() -> float:
    """Fixed CPU work (zlib + a Python loop); returns its own duration."""
    t0 = time.perf_counter()
    for _ in range(3):
        zlib.compress(_BUF, 6)
    s = 0
    for i in range(300_000):
        s += i ^ (i >> 3)
    return time.perf_counter() - t0


def probe() -> dict:
    """``nproc``; ``single_core_s``: best of 3 runs of one work unit alone;
    ``effective_cores``: nproc × that ÷ the median time of a unit while nproc
    processes run units at once (each worker's first unit, which overlaps the
    others' start-up, is left out) — reads nproc on an idle host and less when
    the host caps total CPU.

    The workers are plain child processes, waited for before this returns:
    a ``multiprocessing`` pool would leave its resource-tracker process
    running until the interpreter exits."""
    nproc = len(os.sched_getaffinity(0))
    single = min(_unit() for _ in range(3))
    code = ("from perfbench.host import _unit\n"
            f"print(*[_unit() for _ in range({_UNITS_PER_WORKER})])")
    workers = [subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
               for _ in range(nproc)]
    loaded = []
    try:
        for w in workers:
            out, _ = w.communicate(timeout=120)
            loaded += [float(x) for x in out.split()[1:]]
    finally:
        for w in workers:
            if w.poll() is None:
                w.kill()
            w.wait()
    return {
        "nproc": nproc,
        "single_core_s": round(single, 4),
        "effective_cores": round(nproc * single / statistics.median(loaded), 2),
    }
