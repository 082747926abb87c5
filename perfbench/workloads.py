"""The benchmark's workloads: what one pass runs and how each operation's
output is checked.

An operation is one registry query execution, or one ``MCBattery.simulate``
call plus its sink. ``run`` is timed; ``check`` runs after the timer stops
and returns ``None`` or the reason the output is wrong.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
ORACLES_PATH = os.path.join(HERE, "oracles.json")

#: JVM-only registry queries: parquet scan, Catalyst, joins, aggregation,
#: windows and shuffle, with no Python worker.
SQL_TPCH = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_revenue_by_nation",
    "q09_product_profit",
    "q10_returned_items",
    "q_join_broadcast_inner",
    "q_window_topk_per_group",
    "q_join_asof",
)

#: The reference's demo workload 1 (notebook cell 16): many short
#: simulations, so seeding, the shard loop and Python-worker start-up
#: dominate.
MC_DEMO_CONFIGS = (
    {"number_simulations": 100_000, "number_points": 16, "parameters": [0.5],
     "batch_size": 10_000},
    {"number_simulations": 60_000, "number_points": 32, "parameters": [0.7],
     "batch_size": 10_000},
)

#: Simulations per model whose traces are recomputed on the driver.
SAMPLE_SIMS = 8


@dataclass
class Op:
    name: str
    items: int
    run: Callable[[Any], Any]
    check: Callable[[Any], str | None]


@dataclass
class Context:
    """What every pass of one run shares."""

    spark: Any
    seed: int
    workdir: str
    cache: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Workload:
    name: str
    items: str  # what items_per_s counts
    make_ops: Callable[[Context, int], list[Op]]
    configs: tuple = ()  # MC workloads: the battery's simulation configs


# -- output checks ----------------------------------------------------------


def result_digest(pdf) -> dict:
    """Row count and sha256 of a result, normalised exactly as the oracle
    comparison in ``tests/_compare.py`` does (columns sorted by name, rows
    sorted, floats by repr)."""
    from tests._compare import _normalize

    rows = _normalize(pdf.to_dict("records"))
    blob = json.dumps([sorted(pdf.columns), rows], default=repr)
    return {"rows": len(rows), "sha256": hashlib.sha256(blob.encode()).hexdigest()}


def check_against_oracle(pdf, expected: dict) -> str | None:
    got = result_digest(pdf)
    if got != expected:
        return f"result {got} != oracle {expected}"
    return None


def coin_models() -> list:
    from parallel_monte_carlo_simulations_spark.mc.queries import _coin_sequence

    return [_coin_sequence] * len(MC_DEMO_CONFIGS)


def sample_sim_ids(seed: int, configs) -> list[int]:
    """Sim ids (valid in every model) whose traces are recomputed."""
    n = min(c["number_simulations"] for c in configs)
    return sorted(random.Random(seed).sample(range(n), SAMPLE_SIMS))


def expected_traces(seed: int, models, configs, sim_ids) -> dict:
    """Recompute ``(model_id, sim_id) -> trace`` on the driver with
    ``seeds.rng_for`` and the model, as the battery's shard loop does."""
    import numpy as np

    from parallel_monte_carlo_simulations_spark.mc.seeds import rng_for

    out = {}
    for model_id, (model, cfg) in enumerate(zip(models, configs)):
        for sim_id in sim_ids:
            rng = rng_for(np.random.Philox, seed, model_id, sim_id)
            trace = model(cfg["number_points"], rng, cfg["parameters"])
            out[(model_id, sim_id)] = [str(p) for p in trace]
    return out


def check_traces(row, expected: dict, total: int) -> str | None:
    """``row`` is the ``(n, sample)`` read back from the sink."""
    if row["n"] != total:
        return f"{row['n']} traces, expected {total}"
    got = {(r["model_id"], r["sim_id"]): list(r["trace"]) for r in row["sample"]}
    if got.keys() != expected.keys():
        return f"sampled traces {sorted(got)} != {sorted(expected)}"
    bad = [k for k in expected if got[k] != expected[k]]
    if bad:
        return f"traces differ from the driver recomputation at {bad}"
    return None


def read_back(spark, path: str, sim_ids) -> dict:
    """Count every trace row the sink wrote and return the sampled traces."""
    from pyspark.sql import functions as F

    row = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_list(
            F.when(F.col("sim_id").isin(sim_ids), F.struct("model_id", "sim_id", "trace"))
        ).alias("sample"),
    ).collect()[0]
    return row.asDict(recursive=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# -- workloads --------------------------------------------------------------


def _mc_demo_ops(ctx: Context, pass_idx: int) -> list[Op]:
    from parallel_monte_carlo_simulations_spark.mc import sinks
    from parallel_monte_carlo_simulations_spark.mc.battery import MCBattery

    models = coin_models()
    if "expected" not in ctx.cache:
        ctx.cache["sim_ids"] = sample_sim_ids(ctx.seed, MC_DEMO_CONFIGS)
        ctx.cache["expected"] = expected_traces(
            ctx.seed, models, MC_DEMO_CONFIGS, ctx.cache["sim_ids"]
        )
    sim_ids, expected = ctx.cache["sim_ids"], ctx.cache["expected"]
    total = sum(c["number_simulations"] for c in MC_DEMO_CONFIGS)
    path = os.path.join(ctx.workdir, "mc_demo_traces")

    def run(tr):
        battery = MCBattery({"rng": "Philox", "master_seed": ctx.seed})
        with tr.span("simulate"):
            traces = battery.simulate(models, list(MC_DEMO_CONFIGS), spark=ctx.spark)
        with tr.span("sink"):
            sinks.write_traces_parquet(traces, path)
        return path

    def check(path):
        ctx.cache["bytes_written"] = dir_bytes(path)
        return check_traces(read_back(ctx.spark, path, sim_ids), expected, total)

    return [Op("mc_demo_simulate", total, run, check)]


def _sql_ops(ctx: Context, pass_idx: int) -> list[Op]:
    if "specs" not in ctx.cache:
        from parallel_monte_carlo_simulations_spark.registry import load_all_queries

        with open(ORACLES_PATH) as fh:
            ctx.cache["oracles"] = json.load(fh)
        ctx.cache["specs"] = load_all_queries()
    specs, oracles = ctx.cache["specs"], ctx.cache["oracles"]
    order = list(SQL_TPCH)
    random.Random(f"{ctx.seed}:{pass_idx}").shuffle(order)

    def op(name: str) -> Op:
        def run(tr):
            with tr.span("build"):
                df = specs[name].fn(ctx.spark, DATA_DIR)
            with tr.span("action") as rec:
                pdf = df.toPandas()
            tr.catalyst(df, rec)
            return pdf

        return Op(name, 1, run, lambda pdf: check_against_oracle(pdf, oracles[name]))

    return [op(name) for name in order]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("mc_demo", "simulations", _mc_demo_ops, MC_DEMO_CONFIGS),
        Workload("sql_tpch", "queries", _sql_ops),
    )
}


def shard_count(configs) -> int:
    return sum(math.ceil(c["number_simulations"] / c["batch_size"]) for c in configs)
