"""Regenerate ``eventlog_small.jsonl``, the captured log the parser tests
read. It runs two labelled jobs and one unlabelled job in a local[2]
session and keeps only the events and fields the parser reads. Run from
the repository root:

    python3 perfbench/fixtures/capture_eventlog.py
"""

from __future__ import annotations

import glob
import json
import os
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {
    "SparkListenerJobStart": lambda e: {
        "Job ID": e["Job ID"], "Stage IDs": e["Stage IDs"],
        "Properties": {k: v for k, v in (e.get("Properties") or {}).items()
                       if k == "spark.job.description"},
    },
    "SparkListenerStageCompleted": lambda e: {
        "Stage Info": {"Stage ID": e["Stage Info"]["Stage ID"]},
    },
    "SparkListenerTaskEnd": lambda e: {
        "Stage ID": e["Stage ID"], "Task End Reason": e["Task End Reason"],
        "Task Info": {"Accumulables": [
            {k: a[k] for k in ("ID", "Name", "Update") if k in a}
            for a in e["Task Info"].get("Accumulables", [])
        ]},
        "Task Metrics": e.get("Task Metrics"),
    },
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart": lambda e: {
        "sparkPlanInfo": _plan(e["sparkPlanInfo"]),
    },
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate": lambda e: {
        "sparkPlanInfo": _plan(e["sparkPlanInfo"]),
    },
}


def _plan(p: dict) -> dict:
    return {"nodeName": p["nodeName"], "metrics": p.get("metrics", []),
            "children": [_plan(c) for c in p.get("children", [])]}


def main() -> None:
    from pyspark.sql import SparkSession

    with tempfile.TemporaryDirectory() as d:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + d)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setJobDescription("p1:tiny|action")
        spark.range(8, numPartitions=2).mapInPandas(lambda it: it, "id long").collect()
        sc.setJobDescription("p1:tiny|build")
        spark.range(100, numPartitions=3).count()
        sc.setJobDescription(None)
        spark.range(10, numPartitions=1).collect()
        spark.stop()
        (path,) = glob.glob(os.path.join(d, "*"))
        with open(path) as fh:
            events = [json.loads(line) for line in fh]
    with open(os.path.join(HERE, "eventlog_small.jsonl"), "w") as out:
        for e in events:
            if e["Event"] in KEEP:
                out.write(json.dumps({"Event": e["Event"], **KEEP[e["Event"]](e)}) + "\n")


if __name__ == "__main__":
    main()
