"""Per-layer numbers read from Spark's own public signals.

- ``ProgressLog``: a ``StreamingQueryListener`` that keeps every
  micro-batch progress report (``durationMs`` phases, input rows and
  ``stateOperators``) for the streaming queries a workload starts.
- ``EventLog``: parses the JSON event log a traced session writes and
  attributes jobs, stages, tasks and SQL executions to the operation
  whose wall-clock interval they fall in.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

# Node metrics that only Python exec nodes (MapInPandas, ArrowEvalPython,
# FlatMapGroupsInPandas, ...) carry.
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

# How long ``ProgressLog.since`` waits for a stopped query's last report.
TERMINATION_TIMEOUT_S = 30.0


class ProgressLog(StreamingQueryListener):
    """Collects progress reports; ``mark``/``since`` slice them per
    operation, ``since`` first waiting until every started query has
    reported its termination."""

    def __init__(self):
        self._cond = threading.Condition()
        self._progress: list[dict] = []
        self._running: set[str] = set()

    def onQueryStarted(self, event):
        with self._cond:
            self._running.add(str(event.runId))

    def onQueryProgress(self, event):
        with self._cond:
            self._progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self._running.discard(str(event.runId))
            self._cond.notify_all()

    def mark(self) -> int:
        with self._cond:
            return len(self._progress)

    def since(self, mark: int) -> list[dict]:
        with self._cond:
            if not self._cond.wait_for(lambda: not self._running, TERMINATION_TIMEOUT_S):
                raise TimeoutError("streaming query never reported termination")
            return self._progress[mark:]


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """Micro-batch engine and state-store numbers of one operation."""
    out: dict[str, float] = defaultdict(float)
    phases = {
        "stream.query_planning_ms": "queryPlanning",
        "stream.add_batch_ms": "addBatch",
        "stream.latest_offset_ms": "latestOffset",
        "stream.get_batch_ms": "getBatch",
        "stream.wal_commit_ms": "walCommit",
        "stream.commit_offsets_ms": "commitOffsets",
    }
    out["stream.triggers"] = len(progress)
    for p in progress:
        for name, key in phases.items():
            out[name] += p["durationMs"].get(key, 0)
        for s in p.get("stateOperators", []):
            out["state.commit_ms"] += s.get("commitTimeMs", 0)
            out["state.rows_removed"] += s.get("numRowsRemoved", 0)
            out["state.rows_dropped_by_watermark"] += s.get("numRowsDroppedByWatermark", 0)
            out["state.rows_total_max"] = max(out["state.rows_total_max"], s.get("numRowsTotal", 0))
            out["state.memory_bytes_max"] = max(
                out["state.memory_bytes_max"], s.get("memoryUsedBytes", 0)
            )
    return out


def _number(v) -> float:
    return float(v) if v is not None else 0.0


class EventLog:
    """One application's event log, indexed for per-operation sums."""

    def __init__(self, log_dir: str):
        paths = glob.glob(os.path.join(log_dir, "*"))
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        self.jobs: dict[int, dict] = {}  # job id -> submit/end ms, group, stage ids
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # stage id -> TaskEnd
        self.sql_start: dict[int, tuple[int, str]] = {}  # exec id -> (ms, job group)
        self.sql_end: dict[int, int] = {}
        self.py_accums: dict[int, tuple[str, str]] = {}  # accum id -> (metric, type)
        with open(paths[0]) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"],
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id") or "",
                "stages": e["Stage IDs"],
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            self.tasks[e["Stage ID"]].append(e)
        elif kind.endswith("SQLExecutionStart"):
            self.sql_start[e["executionId"]] = (e["time"], e.get("jobGroupId") or "")
        elif kind.endswith("SQLExecutionEnd"):
            self.sql_end[e["executionId"]] = e["time"]
        if "sparkPlanInfo" in e:
            self._python_nodes(e["sparkPlanInfo"])

    def _python_nodes(self, node: dict) -> None:
        metrics = {m["name"]: m for m in node.get("metrics", [])}
        if PY_TIME in metrics:
            for name in (PY_TIME, PY_SENT, PY_RETURNED, "number of output rows"):
                if name in metrics:
                    m = metrics[name]
                    self.py_accums[m["accumulatorId"]] = (name, m["metricType"])
        for child in node.get("children", []):
            self._python_nodes(child)

    def executions(self, start_ms: float, end_ms: float, group: str) -> tuple[int, int] | None:
        """(first start, last end) of the SQL executions tagged ``group``
        inside the interval, or None."""
        ids = [
            i
            for i, (t, g) in self.sql_start.items()
            if g == group and start_ms <= t <= end_ms and i in self.sql_end
        ]
        if not ids:
            return None
        return min(self.sql_start[i][0] for i in ids), max(self.sql_end[i] for i in ids)

    def jobs_in(self, start_ms: float, end_ms: float, group: str | None = None) -> list[dict]:
        """Jobs submitted inside the interval (tagged ``group``, if given)."""
        return [
            j
            for j in self.jobs.values()
            if start_ms <= j["submit"] <= end_ms and group in (None, j["group"])
        ]

    def exec_layers(self, start_ms: float, end_ms: float, group: str | None = None) -> dict[str, float]:
        """Executor, Arrow and sink numbers of the jobs submitted inside
        [start_ms, end_ms] (tagged ``group``, if given)."""
        out: dict[str, float] = defaultdict(float)
        jobs = self.jobs_in(start_ms, end_ms, group)
        out["exec.jobs"] = len(jobs)
        for stage in (s for j in jobs for s in j["stages"]):
            tasks = self.tasks.get(stage, [])
            out["exec.stages"] += 1 if tasks else 0
            for e in tasks:
                out["exec.tasks"] += 1
                m = e.get("Task Metrics") or {}
                out["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                out["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["exec.task_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics", {})
                out["exec.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                out["exec.shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                outm = m.get("Output Metrics", {})
                out["sinks.bytes_written"] += outm.get("Bytes Written", 0)
                out["sinks.records_written"] += outm.get("Records Written", 0)
                for acc in e["Task Info"].get("Accumulables", []):
                    kind = self.py_accums.get(acc["ID"])
                    if kind is None:
                        continue
                    name, mtype = kind
                    v = _number(acc.get("Update"))
                    if name == PY_TIME:
                        out["arrow.python_s"] += v / (1e9 if mtype == "nsTiming" else 1e3)
                    elif name == PY_SENT:
                        out["arrow.bytes_sent"] += v
                    elif name == PY_RETURNED:
                        out["arrow.bytes_returned"] += v
                    else:
                        out["arrow.rows"] += v
        return out
