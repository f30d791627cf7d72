"""Host-window record: wait for a healthy CPU and memory-bandwidth window.

The probes are the repository's own (`scripts/scaling_job.py`,
imported read-only).  The CPU rule was set at 32 processes (2,000
units/s); it is recalibrated here per process: a 4-vCPU VM measured
~45 units/s per probe process in a quiet window, and a window counts as
healthy at 3/4 of that.  Memory bandwidth must reach 10 GB/s over 4
copy processes (quiet windows read 34-36 GB/s).
"""

from __future__ import annotations

import importlib.util
import os
import time

CPU_UNITS_PER_PROC = 34.0
MEMBW_GB_S = 10.0
MAX_TRIES = 3
LOAD_WAIT_S = 20.0         # bounded: back-to-back runs leave loadavg near nproc


def _probes_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "scaling_job_probes", os.path.join(root, "scripts", "scaling_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def wait_for_window(root: str, nproc: int) -> dict:
    """Block until loadavg <= nproc and both probes read healthy, within
    bounded waits; return the record of what was measured.  A window that
    never turns healthy is recorded as such and the run goes ahead."""
    sj = _probes_module(root)
    t_start = time.time()
    while os.getloadavg()[0] > nproc and time.time() - t_start < LOAD_WAIT_S:
        time.sleep(2.0)
    load_wait = time.time() - t_start
    cpu_floor = CPU_UNITS_PER_PROC * nproc
    tries = []
    for _ in range(MAX_TRIES):
        # bandwidth first: its untimed copy warm-up also wakes the vCPUs,
        # which read ~4x low on the first CPU probe after an idle spell
        membw = sj.host_membw_probe(min(nproc, 4), seconds=0.5, mb=64)
        cpu = sj.host_cpu_probe(nproc, seconds=0.7)
        tries.append({"cpu_units_per_s": round(cpu, 1),
                      "membw_gb_per_s": round(membw, 2)})
        if cpu >= cpu_floor and membw >= MEMBW_GB_S:
            break
        time.sleep(1.0)
    last = tries[-1]
    return {"loadavg_1m": round(os.getloadavg()[0], 2),
            "load_wait_s": round(load_wait, 1),
            "wait_s": round(time.time() - t_start, 1),
            "probes": tries,
            "healthy": (last["cpu_units_per_s"] >= cpu_floor
                        and last["membw_gb_per_s"] >= MEMBW_GB_S
                        and os.getloadavg()[0] <= nproc),
            "cpu_floor": cpu_floor, "membw_floor": MEMBW_GB_S}
