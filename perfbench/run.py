"""Seeded benchmark of the headline engine.

    python3 perfbench/run.py --workload index_lifecycle --seed 1 --seconds 30 --trace 0

Run from the repository root.  The seed makes the inputs; the library
only ever receives the generated files.  Each workload times a fixed
list of calls; `--seconds` only sets how many times that list runs
(once per started PASS_SECONDS), so what is timed never depends on how
fast the code is.  Every answer is checked
against an oracle (see oracle.py).  The report lines go to standard
output, and the last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics; with
`--trace 1` they are the per-layer metrics, read from outside the
program (job groups, the Spark event log, the build `metrics=` hook,
`lexize_chunk.cache_info()` and directory sizes).  All scratch files
go to `.perfbench_work/` under the current directory and are removed
at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

DRIVER_MEMORY = "3g"
PASS_SECONDS = 30
SESSION_STARTS = 3         # set-up: the median of this many session starts


class Bench:
    """One run: scratch directory, Spark session lifetime, check tally."""

    def __init__(self, args, nproc: int):
        self.args = args
        self.seed = args.seed
        self.passes = max(1, math.ceil(args.seconds / PASS_SECONDS))
        self.nproc = nproc
        self.work = os.path.join(os.getcwd(), ".perfbench_work",
                                 f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.spark = None
        self.proc = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(f"# WRONG: {what}")

    def start_session(self, event_dir: str | None = None) -> float:
        """Start (or restart, in the same JVM) the Spark session; returns
        the seconds it took."""
        from pyspark.sql import SparkSession

        from pg_ts_semantic_headline_spark.session import recommended_conf

        t0 = time.time()
        if self.spark is not None:
            self.spark.stop()
        conf = dict(recommended_conf(self.nproc))
        conf.update({
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')}",
            "spark.eventLog.enabled": "true" if event_dir else "false",
        })
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update({"spark.eventLog.dir": event_dir,
                         "spark.eventLog.compress": "false"})
        b = (SparkSession.builder.master(f"local[{self.nproc}]")
             .appName("perfbench"))
        for k, v in conf.items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.proc is None:
            self.proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return time.time() - t0

    def session_setup_s(self) -> float:
        """Start the session SESSION_STARTS times in one JVM (the first
        start launches it); returns the median start time."""
        walls = [self.start_session() for _ in range(SESSION_STARTS)]
        return sorted(walls)[len(walls) // 2]

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        """Sum of the peak RSS (VmHWM) of the driver JVM and every process
        under it (the Python daemon and workers)."""
        if self.proc is None:
            return float("nan")
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        todo, kb = [self.proc.pid], 0
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024.0

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove scratch files."""
        try:
            self.stop_session()
        finally:
            if self.proc is not None:
                if self.proc.stdin:
                    self.proc.stdin.close()      # the gateway exits on EOF
                try:
                    self.proc.wait(timeout=30)
                except Exception:
                    self.proc.kill()
                    self.proc.wait()
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))
            except OSError:
                pass                  # another run still uses it


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=PASS_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import pg_ts_semantic_headline_spark  # noqa: F401  (fail fast)

    import hostwin
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    bench = Bench(args, nproc)
    # Python workers import the library from this checkout, and every
    # temporary file stays inside the scratch directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = bench.path("tmp")
    tempfile.tempdir = None
    try:
        window = hostwin.wait_for_window(ROOT, nproc)
        print(f"# host window: {json.dumps(window)}", flush=True)
        run = workloads.WORKLOADS[args.workload]
        metrics, report = run(bench)
        for line in report + bench.notes:
            print(line)
        print(f"# run wall before shutdown: {time.time() - T_START:.1f} s")
    finally:
        bench.close()
    result = {"correct": bench.failed == 0, "attempted": bench.attempted,
              "failed": bench.failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
