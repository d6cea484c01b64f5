"""Spans and Spark-side counters for the traced run.

A span records one call into a layer: its name (equal to the layer
metric it feeds), statement id, parent span, start and end. Spans stay in
memory and are written out once, at exit. ``SparkProbe`` reads what one
statement cost inside Spark: jobs, stages and tasks of its job group from
the status tracker, and stage and SQL-node metrics from the driver's
status REST endpoint.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, stmt: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._open[-1] if self._open else None,
            "stmt": stmt,
            "name": name,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def add(self, name: str, stmt: str | None, **attrs) -> None:
        """Record a counter-only span (no duration) under the open span."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans),
                "parent": self._open[-1] if self._open else None,
                "stmt": stmt, "name": name, **attrs,
            })

    def write(self, path: str) -> None:
        if self.spans:
            with open(path, "w") as fh:
                json.dump(self.spans, fh)


_NUM = re.compile(r"([\d,]+(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?")
_SCALE = {
    None: 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}


def metric_value(text: str) -> float:
    """Parse a SQL UI metric ("11,901", "63.0 KiB", or the multi-line
    "total (min, med, max ...)\\n12 ms (...)") to a number: bytes for
    sizes, milliseconds for times."""
    m = _NUM.search(text.strip().split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


class SparkProbe:
    """Per-statement Spark counters, keyed by a job group per statement."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        )
        self.sql_seen = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        """Counters of every job run under ``group`` since ``begin``."""
        # the REST store is fed by the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stages = sorted(
            {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
        )
        out = {
            "jobs": len(jobs), "stages": len(stages), "tasks": 0,
            "failed_tasks": 0, "executor_run_ms": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "peak_exec_memory_bytes": 0,
            "scan_rows": 0, "join_rows": 0, "python_ms": 0.0, "python_rows": 0,
        }
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is not None:
                out["tasks"] += info.numTasks
                out["failed_tasks"] += info.numFailedTasks
            for att in self._get(f"/stages/{sid}?details=false"):
                out["executor_run_ms"] += att["executorRunTime"]
                out["shuffle_write_bytes"] += att["shuffleWriteBytes"]
                out["spill_bytes"] += att["memoryBytesSpilled"] + att["diskBytesSpilled"]
                out["peak_exec_memory_bytes"] = max(
                    out["peak_exec_memory_bytes"], att["peakExecutionMemory"]
                )
        job_set = set(jobs)
        execs = self._get(
            f"/sql?details=true&planDescription=false&offset={self.sql_seen}&length=100000"
        )
        self.sql_seen += len(execs)
        for ex in execs:
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ids & job_set:
                continue
            for node in ex.get("nodes", []):
                name = node["nodeName"]
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                rows = metric_value(metrics.get("number of output rows", "0"))
                if name.startswith("Scan"):
                    out["scan_rows"] += rows
                elif "Join" in name:
                    out["join_rows"] += rows
                elif "Python" in name or "InPandas" in name or "InArrow" in name:
                    out["python_rows"] += rows
                    out["python_ms"] += metric_value(
                        metrics.get("time to run Python workers", "0")
                    )
        return out


def catalyst_phases(df) -> dict[str, float]:
    """QueryPlanningTracker phase times (ms) of the Dataset whose action ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current resident set."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")
