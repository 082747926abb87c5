"""Self-tests of the benchmark (no Spark session needed). Run from the
repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, with_self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_parser_on_captured_log():
    events = eventlog.read_events(os.path.join(HERE, "fixtures", "eventlog_small.jsonl"))
    totals = eventlog.totals_by_label(events)
    assert set(totals) == {"p1:tiny|action", "p1:tiny|build", ""}

    udf = totals["p1:tiny|action"]  # mapInPandas over 8 rows in 2 partitions
    assert (udf["exec.jobs"], udf["exec.stages"], udf["exec.tasks"]) == (1, 1, 2)
    assert udf["exec.failed_tasks"] == 0
    assert udf["python.rows_received"] == 8
    assert udf["python.run_ms"] > 0 and udf["python.bytes_received"] > 0
    assert udf["exec.run_ms"] > 0

    count = totals["p1:tiny|build"]  # range(100, 3 partitions).count(): map + result job
    assert (count["exec.jobs"], count["exec.stages"], count["exec.tasks"]) == (2, 2, 4)
    assert count["python.run_ms"] == 0 and count["python.rows_received"] == 0
    assert count["shuffle.write_bytes"] > 0

    assert totals[""]["exec.jobs"] == 1


def test_parser_counts_failed_tasks_and_converts_ns_timings():
    plan = {"nodeName": "MapInPandas", "children": [], "metrics": [
        {"name": "data returned from Python workers", "accumulatorId": 1, "metricType": "size"},
        {"name": "time to run Python workers", "accumulatorId": 2, "metricType": "nsTiming"},
        {"name": "number of output rows", "accumulatorId": 3, "metricType": "sum"},
    ]}
    acc = [{"ID": 1, "Name": "data returned from Python workers", "Update": "10"},
           {"ID": 2, "Name": "time to run Python workers", "Update": "5000000"},
           {"ID": 3, "Name": "number of output rows", "Update": "4"}]
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Stage IDs": [7],
         "Properties": {"spark.job.description": "p2:q|action"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": acc}, "Task Metrics": {"Executor Run Time": 3}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Accumulables": []}, "Task Metrics": {"Executor Run Time": 1}},
    ]
    t = eventlog.totals_by_label(events)["p2:q|action"]
    assert (t["exec.tasks"], t["exec.failed_tasks"], t["exec.run_ms"]) == (2, 1, 4)
    assert t["python.run_ms"] == 5.0 and t["python.rows_received"] == 4


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared_e2e == run.END_TO_END_UNITS
    assert declared_layer == run.LAYER_UNITS
    assert set(eventlog.COUNTERS) <= set(run.LAYER_UNITS)
    for name in [*declared_e2e, *declared_layer, *(w["name"] for w in spec["workloads"])]:
        assert NAME.fullmatch(name), name
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


class _StubSpark:
    catalog = SimpleNamespace(clearCache=lambda: None)


def _run_one(op) -> dict:
    return run.run_pass([op], Tracer(), 1, _StubSpark(), [])


def test_planted_wrong_row_counts_as_failed_operation():
    import duckdb

    from parallel_monte_carlo_simulations_spark.registry import load_all_queries

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{workloads.DATA_DIR}/lineitem.parquet')")
    pdf = con.execute(load_all_queries()["q01_pricing_summary"].oracle).fetchdf()
    with open(workloads.ORACLES_PATH) as fh:
        oracle = json.load(fh)["q01_pricing_summary"]
    assert workloads.check_against_oracle(pdf, oracle) is None

    wrong = pdf.copy()
    col = wrong.select_dtypes("number").columns[0]
    wrong.loc[0, col] += 1
    ok = _run_one(workloads.Op("q01", 1, lambda tr: pdf, lambda r: workloads.check_against_oracle(r, oracle)))
    bad = _run_one(workloads.Op("q01", 1, lambda tr: wrong, lambda r: workloads.check_against_oracle(r, oracle)))
    assert (ok["attempted"], ok["failed"], ok["items"]) == (1, 0, 1)
    assert (bad["attempted"], bad["failed"], bad["items"]) == (1, 1, 0)


def test_planted_wrong_trace_counts_as_failed_operation():
    configs = workloads.MC_DEMO_CONFIGS
    sim_ids = workloads.sample_sim_ids(5, configs)
    expected = workloads.expected_traces(5, workloads.coin_models(), configs, sim_ids)
    total = sum(c["number_simulations"] for c in configs)
    sample = [{"model_id": m, "sim_id": s, "trace": list(t)} for (m, s), t in expected.items()]
    row = {"n": total, "sample": sample}
    assert workloads.check_traces(row, expected, total) is None

    flipped = [dict(r, trace=list(r["trace"])) for r in sample]
    flipped[3]["trace"][0] = "T" if flipped[3]["trace"][0] == "H" else "H"
    bad = _run_one(workloads.Op("mc", total, lambda tr: {"n": total, "sample": flipped},
                                lambda r: workloads.check_traces(r, expected, total)))
    assert (bad["attempted"], bad["failed"]) == (1, 1)
    short = _run_one(workloads.Op("mc", total, lambda tr: {"n": total - 1, "sample": sample},
                                  lambda r: workloads.check_traces(r, expected, total)))
    assert short["failed"] == 1


def test_raising_operation_or_check_counts_as_failed():
    def boom(_):
        raise RuntimeError("planted")

    assert _run_one(workloads.Op("boom", 1, boom, lambda r: None))["failed"] == 1
    assert _run_one(workloads.Op("boom", 1, lambda tr: 1, boom))["failed"] == 1


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "name": "op", "op": "p1:q", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "build", "op": "p1:q", "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "name": "action", "op": "p1:q", "start": 3.0, "end": 9.0},
    ]
    out = {s["name"]: s for s in with_self_times(spans)}
    assert out["op"]["self_s"] == 2.0 and out["action"]["self_s"] == 6.0
