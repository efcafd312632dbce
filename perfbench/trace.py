"""Spans recorded around calls into the engine, and the Spark event-log
parser that splits each operation's work into per-layer counters.

Every operation runs under its own Spark job group, named after the
operation's span id. The event log tags every job and stage with that
group, so the parser attributes work to an operation even when the executed
plan does not show it: jobs a query builder runs itself (the connected-
components rounds), `localCheckpoint` sub-plans that later read back as
`Scan ExistingRDD`, and the separate QueryExecution of a `noop` write.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# SQL metrics summed from task-side accumulator updates, by their Spark name
TASK_SQL_METRICS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "arrow_bytes_to_python",
    "data returned from Python workers": "arrow_bytes_from_python",
    "scan time": "scan_ms",
}


class Tracer:
    """In-memory spans: (id, name, start, end, parent), epoch seconds."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = f"s{len(self.spans)}"
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: str | None, **attrs):
        self.spans.append(
            {
                "id": f"s{len(self.spans)}",
                "name": name,
                "parent": parent,
                "start": start,
                "end": end,
                **attrs,
            }
        )

    def write(self, path: str, context: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"context": context, "spans": self.spans}, fh, indent=0)


def _walk_plan(node: dict, out: set[int]) -> None:
    if node.get("nodeName", "").startswith("BroadcastExchange"):
        for m in node.get("metrics", []):
            if m["name"] == "data size":
                out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _walk_plan(child, out)


class EventLog:
    """Per-job-group counters parsed from one application's event log.

    `groups[g]` holds, for job group `g`: jobs, tasks, run_ms, cpu_ns,
    gc_ms, shuffle_bytes_written, shuffle_records, fetch_wait_ms,
    spill_bytes, scan_rows, scan_bytes, broadcast_bytes and the
    `TASK_SQL_METRICS` values. `jobs` lists (job id, group, start, end) in
    epoch seconds."""

    def __init__(self, path: str):
        self.groups: dict[str, Counter] = defaultdict(Counter)
        self.jobs: list[tuple[int, str, float, float]] = []
        stage_group: dict[int, str] = {}
        exec_group: dict[str, str] = {}
        job_start: dict[int, tuple[str, float]] = {}
        broadcast_ids: set[int] = set()
        broadcast: dict[int, tuple[str, int]] = {}
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    job_start[e["Job ID"]] = (g, e["Submission Time"] / 1000.0)
                    self.groups[g]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(props["spark.sql.execution.id"], g)
                elif kind == "SparkListenerStageSubmitted":
                    props = e.get("Properties") or {}
                    sid = e["Stage Info"]["Stage ID"]
                    stage_group[sid] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerJobEnd":
                    g, start = job_start.pop(e["Job ID"], (None, None))
                    if start is not None:
                        self.jobs.append(
                            (e["Job ID"], g, start, e["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    self._task(self.groups[stage_group.get(e["Stage ID"])], e)
                elif kind.endswith(
                    ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
                ):
                    _walk_plan(e["sparkPlanInfo"], broadcast_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in e["accumUpdates"]:
                        if acc_id in broadcast_ids:
                            broadcast[acc_id] = (str(e["executionId"]), int(value))
        for exec_id, value in broadcast.values():
            self.groups[exec_group.get(exec_id)]["broadcast_bytes"] += value

    @staticmethod
    def _task(c: Counter, e: dict) -> None:
        m = e.get("Task Metrics")
        if not m:
            return
        c["tasks"] += 1
        c["run_ms"] += m["Executor Run Time"]
        c["cpu_ns"] += m["Executor CPU Time"]
        c["gc_ms"] += m["JVM GC Time"]
        c["spill_bytes"] += m["Disk Bytes Spilled"]
        w = m["Shuffle Write Metrics"]
        c["shuffle_bytes_written"] += w["Shuffle Bytes Written"]
        c["shuffle_records"] += w["Shuffle Records Written"]
        c["fetch_wait_ms"] += m["Shuffle Read Metrics"]["Fetch Wait Time"]
        c["scan_rows"] += m["Input Metrics"]["Records Read"]
        c["scan_bytes"] += m["Input Metrics"]["Bytes Read"]
        for acc in e["Task Info"].get("Accumulables", []):
            key = TASK_SQL_METRICS.get(acc.get("Name"))
            if key is not None and "Update" in acc:
                c[key] += int(acc["Update"])

    def total(self, groups) -> Counter:
        out: Counter = Counter()
        for g in groups:
            out.update(self.groups.get(g, Counter()))
        return out
