"""Per-call timing, and the per-layer split read from outside the program.

`Recorder.call(kind, fn)` runs one library call and records its wall
time.  When tracing, each call also runs under its own Spark job group,
and the job ids come from `StatusTracker`.  After the session stops,
`EventLog` reads the uncompressed Spark event log, and `EventLog.split`
attributes to each call:

- jobs, and stages that actually ran;
- in-job time: the union of its jobs' [submit, complete] intervals;
- driver gap: call wall minus in-job time;
- shuffle bytes written;
- Python-worker time and bytes (the "time to run Python workers",
  "data sent to Python workers" and "data returned from Python
  workers" SQL metrics);
- bytes of parquet files scanned per index table (the scan nodes'
  "size of files read" driver metric, mapped to a table by the scan's
  location);
- output bytes written.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

INDEX_TABLES = ("tokens", "postings", "packed", "terms")
PY_TIME = "time to run Python workers"
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
SHUFFLE_BYTES = "internal.metrics.shuffle.write.bytesWritten"
OUTPUT_BYTES = "internal.metrics.output.bytesWritten"


@dataclass
class Call:
    kind: str
    group: str
    t0: float
    t1: float
    job_ids: list = field(default_factory=list)

    @property
    def wall_ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Recorder:
    """Times library calls; with `traced`, tags each with a job group."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.calls: list[Call] = []

    def call(self, kind: str, fn):
        group = f"{kind}#{len(self.calls)}"
        if self.traced:
            self.sc.setJobGroup(group, kind)
        t0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.time()
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        ids = (sorted(self.sc.statusTracker().getJobIdsForGroup(group))
               if self.traced else [])
        self.calls.append(Call(kind, group, t0, t1, ids))
        return out

    def walls_ms(self, kind: str) -> list[float]:
        return [c.wall_ms for c in self.calls if c.kind == kind]


def _scan_table(location: str) -> str | None:
    for t in INDEX_TABLES:
        if f"/{t}" in location and location.rstrip("]").rstrip().endswith(t):
            return t
    return None


class EventLog:
    """The parts of one application's event log the split needs."""

    def __init__(self, event_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_acc: dict[int, dict] = {}   # stage id -> {name: value}
        self.scan_acc: dict[int, str] = {}     # accumulator id -> table
        self.exec_scan: dict[int, dict] = {}   # execution id -> table bytes
        files = [f for f in glob.glob(os.path.join(event_dir, "**", "*"),
                                      recursive=True)
                 if os.path.isfile(f)
                 and os.path.basename(f).startswith(("events_", "local-"))]
        if not files:
            raise RuntimeError(f"no Spark event log under {event_dir}")
        for path in sorted(files):
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        if node.get("nodeName", "").startswith("Scan parquet"):
            table = _scan_table(node.get("metadata", {}).get("Location", ""))
            if table:
                for m in node.get("metrics", []):
                    if m["name"] == "size of files read":
                        self.scan_acc[m["accumulatorId"]] = table
        for child in node.get("children", []):
            self._plan(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"],
                "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                "site": props.get("callSite.short", ""),
                "exec": int(props.get("spark.sql.execution.id", -1)),
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stage_acc[info["Stage ID"]] = {
                a["Name"]: a["Value"] for a in info.get("Accumulables", [])
                if isinstance(a.get("Value"), (int, float, str))}
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            per = self.exec_scan.setdefault(e["executionId"], {})
            for acc_id, value in e["accumUpdates"]:
                table = self.scan_acc.get(acc_id)
                if table:
                    per[table] = per.get(table, 0) + int(value)

    def split(self, job_ids: list[int], wall_ms: float) -> dict:
        """Per-layer figures for one call made of `job_ids`."""
        jobs = [self.jobs[j] for j in job_ids if j in self.jobs]
        spans = sorted((j["start"], j.get("end", j["start"])) for j in jobs)
        injob, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    injob += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            injob += cur_e - cur_s
        ran = {s for j in jobs for s in j["stages"] if s in self.stage_acc}
        out = {"jobs": len(job_ids), "stages": len(ran), "injob_ms": injob,
               "driver_gap_ms": max(wall_ms - injob, 0.0),
               "shuffle_bytes": 0, "python_ms": 0, "python_bytes": 0,
               "bytes_written": 0}
        for s in ran:
            acc = self.stage_acc[s]
            out["shuffle_bytes"] += int(acc.get(SHUFFLE_BYTES, 0))
            out["bytes_written"] += int(acc.get(OUTPUT_BYTES, 0))
            out["python_ms"] += int(acc.get(PY_TIME, 0))
            out["python_bytes"] += sum(int(acc.get(n, 0)) for n in PY_BYTES)
        for t in INDEX_TABLES:
            out[f"scan_bytes.{t}"] = 0
        for x in {j["exec"] for j in jobs if j["exec"] >= 0}:
            for t, b in self.exec_scan.get(x, {}).items():
                out[f"scan_bytes.{t}"] += b
        return out

    def split_after(self, call: Call, inner_site: str) -> dict:
        """The split of the part of `call` after its last job whose call
        site names `inner_site` (a collect the library makes itself)."""
        inner = [j for j in call.job_ids
                 if inner_site in self.jobs.get(j, {}).get("site", "")]
        rest = [j for j in call.job_ids if j not in inner]
        start = max((self.jobs[j].get("end", call.t0 * 1000) for j in inner
                     if j in self.jobs), default=call.t0 * 1000)
        return self.split(rest, call.t1 * 1000 - start)
