"""Spark event-log reader: task, shuffle and Python-UDF totals per job label.

The benchmark's own session writes a plain JSON-lines event log
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``;
Spark 4.1 would otherwise write a zstd-compressed rolling directory). Each
job is attributed to the description the benchmark set with
``setJobDescription`` before the call that started it.
"""

from __future__ import annotations

import json
from collections import defaultdict

#: Python UDF boundary (Spark 4.1 ``PythonSQLMetrics``), SQL accumulable name
#: -> per-layer metric. Timing values are converted to ms by their metricType.
PYTHON_ACCUMULABLES = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}

#: Every counter this module produces; absent work reads as 0.
COUNTERS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.deser_ms",
    "exec.peak_exec_mem_bytes", "exec.spill_disk_bytes",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "tables.input_bytes", "tables.input_rows",
    *PYTHON_ACCUMULABLES.values(), "python.rows_received",
)

_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)
_NS_TYPES = ("nsTiming",)


def _python_plan_metrics(plan: dict, python_rows: set[int], ns_ids: set[int]) -> None:
    """Walk a SparkPlanInfo tree; remember the output-row accumulators of
    Python-evaluating nodes and every nanosecond-timing accumulator."""
    metrics = plan.get("metrics", [])
    names = {m["name"] for m in metrics}
    is_python = "data returned from Python workers" in names
    for m in metrics:
        if m.get("metricType") in _NS_TYPES:
            ns_ids.add(m["accumulatorId"])
        if is_python and m["name"] == "number of output rows":
            python_rows.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_plan_metrics(child, python_rows, ns_ids)


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def totals_by_label(events: list[dict]) -> dict[str, dict[str, float]]:
    """Sum the :data:`COUNTERS` per job description.

    Jobs without a description are grouped under ``""``. Peak execution
    memory is the largest single-task peak, not a sum.
    """
    python_rows: set[int] = set()
    ns_ids: set[int] = set()
    for e in events:
        if e["Event"] in _SQL_PLAN_EVENTS:
            _python_plan_metrics(e["sparkPlanInfo"], python_rows, ns_ids)

    label_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            label = (e.get("Properties") or {}).get("spark.job.description") or ""
            out[label]["exec.jobs"] += 1
            for sid in e["Stage IDs"]:
                label_of_stage.setdefault(sid, label)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            out[label_of_stage.get(sid, "")]["exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            t = out[label_of_stage.get(e["Stage ID"], "")]
            t["exec.tasks"] += 1
            if e["Task End Reason"]["Reason"] != "Success":
                t["exec.failed_tasks"] += 1
            _add_task_metrics(t, e.get("Task Metrics") or {})
            for acc in e["Task Info"].get("Accumulables", []):
                _add_accumulable(t, acc, python_rows, ns_ids)
    return dict(out)


def _add_task_metrics(t: dict[str, float], m: dict) -> None:
    t["exec.run_ms"] += m.get("Executor Run Time", 0)
    t["exec.cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6  # ns
    t["exec.gc_ms"] += m.get("JVM GC Time", 0)
    t["exec.deser_ms"] += m.get("Executor Deserialize Time", 0)
    t["exec.spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
    t["exec.peak_exec_mem_bytes"] = max(
        t["exec.peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
    )
    sr = m.get("Shuffle Read Metrics") or {}
    t["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t["shuffle.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    t["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    inp = m.get("Input Metrics") or {}
    t["tables.input_bytes"] += inp.get("Bytes Read", 0)
    t["tables.input_rows"] += inp.get("Records Read", 0)


def _add_accumulable(
    t: dict[str, float], acc: dict, python_rows: set[int], ns_ids: set[int]
) -> None:
    name, update = acc.get("Name"), acc.get("Update")
    if update is None:
        return
    if name in PYTHON_ACCUMULABLES:
        value = float(update)
        if acc["ID"] in ns_ids:
            value /= 1e6
        t[PYTHON_ACCUMULABLES[name]] += value
    elif name == "number of output rows" and acc["ID"] in python_rows:
        t["python.rows_received"] += float(update)
