"""Tracing for the benchmark's traced run.

Spans are recorded only in the benchmark's own code, around its calls into
the program. Catalyst phase times come from each executed query's
``QueryPlanningTracker``, delivered by a ``QueryExecutionListener``. Executor,
crossing and I/O counters come from Spark's event log of the run, parsed
after the session stops; a Spark job belongs to the op whose span holds its
submission time, since the ops of a run execute one after another.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def of(self, op: str, name: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


class CatalystListener:
    """Receives every executed QueryExecution and keeps its tracker phases."""

    def __init__(self):
        self.phases: list[tuple[float, dict[str, int]]] = []

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java interface)
        start, phases = None, {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            summary = kv._2()
            phases[kv._1()] = summary.durationMs()
            start = summary.startTimeMs() if start is None else min(start, summary.startTimeMs())
        if start is not None:
            self.phases.append((start / 1000.0, phases))

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_listener(spark) -> CatalystListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = CatalystListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def analysis_ms(df) -> int:
    """Analysis time of a DataFrame, spent eagerly while it was built."""
    phase = df._jdf.queryExecution().tracker().phases().get("analysis")
    return phase.get().durationMs() if phase.isDefined() else 0


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _accum(info: dict, name: str) -> float:
    return sum(float(a.get("Update") or 0) for a in info["Accumulables"] if a.get("Name") == name)


def parse_eventlog(log_dir: str) -> list[dict]:
    """Jobs of the run, each with its stages and their tasks' counters."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs, stages = [], {}
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append({"submit": ev["Submission Time"] / 1000.0, "stages": ev["Stage IDs"]})
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], {"tasks": []})
                st["start"] = info["Submission Time"] / 1000.0
                st["end"] = info["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                info, m = ev["Task Info"], ev["Task Metrics"]
                rd, wr = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                stages.setdefault(ev["Stage ID"], {"tasks": []})["tasks"].append(
                    {
                        "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "run": m["Executor Run Time"] / 1000.0,
                        "cpu": m["Executor CPU Time"] / 1e9,
                        "gc": m["JVM GC Time"] / 1000.0,
                        "shuffle_write": wr["Shuffle Bytes Written"],
                        "shuffle_read": rd["Remote Bytes Read"] + rd["Local Bytes Read"],
                        "fetch_wait": rd["Fetch Wait Time"] / 1000.0,
                        "spill": m["Disk Bytes Spilled"],
                        "read": m["Input Metrics"]["Bytes Read"],
                        "written": m["Output Metrics"]["Bytes Written"],
                        "to_python": _accum(info, "data sent to Python workers"),
                        "from_python": _accum(info, "data returned from Python workers"),
                        "python": _accum(info, "time to run Python workers") / 1000.0,
                    }
                )
    for job in jobs:
        job["stages"] = [stages[s] for s in job["stages"] if "start" in stages.get(s, {})]
    return jobs


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _within(t: float, spans: list[dict]) -> bool:
    # event times are whole milliseconds
    return any(s["start"] - 0.001 <= t <= s["end"] + 0.001 for s in spans)


MB = 1 << 20
TASK_SUMS = {
    "executor.run_s": ("run", 1),
    "executor.cpu_s": ("cpu", 1),
    "executor.gc_s": ("gc", 1),
    "executor.shuffle_write_mb": ("shuffle_write", MB),
    "executor.shuffle_read_mb": ("shuffle_read", MB),
    "executor.fetch_wait_s": ("fetch_wait", 1),
    "executor.spill_mb": ("spill", MB),
    "crossing.to_python_mb": ("to_python", MB),
    "crossing.from_python_mb": ("from_python", MB),
    "crossing.python_s": ("python", 1),
    "sources.read_mb": ("read", MB),
    "sources.written_mb": ("written", MB),
}


def op_layers(op: dict, tracer: Tracer, jobs: list[dict], catalyst: list) -> dict[str, float]:
    """Per-layer counters of one executed op."""
    whole = tracer.of(op["id"], "op")
    build = tracer.of(op["id"], "build")
    mine = [j for j in jobs if _within(j["submit"], whole)]
    stages = [s for j in mine for s in j["stages"]]
    tasks = [t for s in stages for t in s["tasks"]]
    phases = [(t, p) for t, p in catalyst if _within(t, whole)]
    phase_ms = lambda name: float(sum(p.get(name, 0) for _, p in phases))  # noqa: E731
    out = {
        "queries.build_s": op.get("build_s", 0.0),
        "queries.build_jobs": float(sum(_within(j["submit"], build) for j in mine)),
        "catalyst.analysis_ms": op.get("analysis_ms", 0) + phase_ms("analysis"),
        "catalyst.optimization_ms": phase_ms("optimization"),
        "catalyst.planning_ms": phase_ms("planning"),
        "executor.jobs": float(len(mine)),
        "executor.tasks": float(len(tasks)),
    }
    for metric, (key, unit) in TASK_SUMS.items():
        out[metric] = sum(t[key] for t in tasks) / unit
    skews = [
        max(d) / statistics.median(d)
        for d in ([t["dur"] for t in s["tasks"]] for s in stages)
        if len(d) >= 2 and statistics.median(d) > 0
    ]
    out["executor.task_skew"] = max(skews, default=1.0)
    # work done while building is already inside build_s
    exec_stages = [s for j in mine if not _within(j["submit"], build) for s in j["stages"]]
    exec_catalyst = sum(sum(p.values()) for t, p in phases if not _within(t, build)) / 1000.0
    critical = _union([(s["start"], s["end"]) for s in exec_stages])
    out["executor.residue_s"] = op["wall_s"] - op.get("build_s", 0.0) - exec_catalyst - critical
    out["executor.residue_share"] = out["executor.residue_s"] / op["wall_s"]
    return out
