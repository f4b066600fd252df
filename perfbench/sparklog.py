"""Parse Spark's JSON event log and streaming progress into per-query figures.

Jobs are attributed to a benchmark query by the ``perfbench.query`` local
property the benchmark sets before each query; streaming threads inherit it
from the thread that started the stream. Stream progress (from the
``StreamingQueryListener``) carries no properties; the caller attributes it
by timestamp to the query whose wall-clock interval contains it.
"""

from __future__ import annotations

import datetime as dt
import json

from spans import union_length

QUERY_PROP = "perfbench.query"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

MB = 1024.0 * 1024.0


def iso_to_epoch(ts: str) -> float:
    """``2026-01-01T00:00:00.123Z`` -> epoch seconds."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def count_exchanges(plan: dict) -> int:
    """Shuffle and broadcast exchanges in a ``sparkPlanInfo`` tree; reused
    exchanges are not new data movement and are not counted."""
    name = plan.get("nodeName", "")
    own = int(name.endswith("Exchange") and not name.startswith("Reused"))
    return own + sum(count_exchanges(c) for c in plan.get("children", ()))


def _accum(task_info: dict, name: str) -> float:
    total = 0.0
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            try:
                total += float(a.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def new_query_stats() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "input_mb": 0.0,
        "output_mb": 0.0,
        "python_in_mb": 0.0,
        "python_out_mb": 0.0,
        "exchanges": 0,
        "job_intervals": [],
    }


def parse_event_log(lines) -> dict[str, dict]:
    """Per-query Spark figures keyed by the ``perfbench.query`` property.
    Jobs without the property are ignored."""
    stage_query: dict[int, str] = {}
    job_query: dict[int, tuple[str, float]] = {}
    exec_plan: dict[int, dict] = {}
    exec_query: dict[int, str] = {}
    out: dict[str, dict] = {}

    def stats(q: str) -> dict:
        return out.setdefault(q, new_query_stats())

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            q = props.get(QUERY_PROP)
            if not q:
                continue
            job_query[ev["Job ID"]] = (q, ev["Submission Time"] / 1000.0)
            for sid in ev.get("Stage IDs", ()):
                stage_query[sid] = q
            stats(q)["jobs"] += 1
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_query.setdefault(int(eid), q)
        elif kind == "SparkListenerJobEnd":
            hit = job_query.get(ev["Job ID"])
            if hit:
                q, start = hit
                stats(q)["job_intervals"].append((start, ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            q = stage_query.get(ev["Stage Info"]["Stage ID"])
            if q:
                stats(q)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            q = stage_query.get(ev["Stage ID"])
            if not q:
                continue
            s = stats(q)
            s["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                s["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            s["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            s["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            s["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            s["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            s["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
            info = ev.get("Task Info") or {}
            s["python_in_mb"] += _accum(info, PYTHON_SENT) / MB
            s["python_out_mb"] += _accum(info, PYTHON_RETURNED) / MB
        elif kind in (_SQL_START, _SQL_AQE):
            exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
    for eid, q in exec_query.items():
        if q in out:
            out[q]["exchanges"] += count_exchanges(exec_plan.get(eid, {}))
    return out


def driver_gap(wall: tuple[float, float], job_intervals) -> float:
    """Wall time of a query not covered by any of its Spark jobs."""
    s0, s1 = wall
    clipped = [(max(a, s0), min(b, s1)) for a, b in job_intervals if b > s0 and a < s1]
    return (s1 - s0) - union_length(clipped)


def progress_figures(progress: dict) -> dict:
    """One micro-batch's timings (seconds) and state size."""
    d = progress.get("durationMs") or {}
    ops = progress.get("stateOperators") or ()
    return {
        "t": iso_to_epoch(progress["timestamp"]),
        "run_id": progress.get("runId"),
        "trigger_s": d.get("triggerExecution", 0) / 1000.0,
        "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0,
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_mb": sum(o.get("memoryUsedBytes", 0) for o in ops) / MB,
        "rows": progress.get("numInputRows", 0),
    }
