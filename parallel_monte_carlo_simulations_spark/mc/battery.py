"""MCBattery — the Monte Carlo battery, Spark-first.

Reference surface (``parallel_simulations.py:18-33``):

    ParallelMCBattery(battery_configs).simulate(models, simulation_configs,
                                                output_paths=None)

Spark re-expression: the unit of parallelism is a *shard of simulations*
(``(model_id, sim_lo, sim_hi)`` rows in a config DataFrame), not one
element per model as in the reference (``parallel_simulations.py:50-57``,
which caps parallelism at ``len(models)``). Each shard runs inside an
Arrow-batched ``mapInPandas`` where the user callable is invoked with the
reference's exact call convention (3-way arity dispatch at
``parallel_simulations.py:80-95``, extended with the missing
``starting_point``-only combo). The result is a queryable DataFrame
``(model_id, sim_id, trace)`` — the reference's CSV files become an
optional export (:mod:`.sinks`) instead of the only output.

Scale: 1e9 simulations × 1000 models is just ``total/batch_size`` rows in
the config DataFrame fanned across the cluster; traces never gather on
the driver; seeds derive deterministically inside tasks (retry-safe).
"""

from __future__ import annotations

import logging
import math
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

from .models import BatteryConfigs, SimulationConfig, validate_simulation_configs
from .seeds import fresh_master_seed, shard_rngs

logger = logging.getLogger(__name__)

_TRACE_SCHEMA = {
    "string": "model_id long, sim_id long, trace array<string>",
    "double": "model_id long, sim_id long, trace array<double>",
}


def _call_model(
    model: Callable,
    number_points: int,
    rng,
    parameters,
    starting_point,
) -> Sequence:
    """The reference's call-convention dispatch (``parallel_simulations
    .py:80-95``), plus the 4th combo the reference silently drops (its
    traces came back empty — SURVEY.md §2.A quirks)."""
    if parameters is None and starting_point is None:
        return model(number_points, rng)
    if parameters is not None and starting_point is None:
        return model(number_points, rng, parameters)
    if parameters is not None and starting_point is not None:
        return model(number_points, rng, parameters, starting_point)
    # starting_point without parameters — pass parameters=None explicitly.
    return model(number_points, rng, None, starting_point)


def _shard_ranges(cfgs: list[SimulationConfig]) -> list[tuple[int, int, int]]:
    """``(model_id, sim_lo, sim_hi)`` per shard: each model's simulations
    cut into ``batch_size`` runs."""
    shards = []
    for model_id, cfg in enumerate(cfgs):
        n, bs = cfg.number_simulations, cfg.batch_size
        for b in range(math.ceil(n / bs)):
            shards.append((model_id, b * bs, min((b + 1) * bs, n)))
    return shards


class MCBattery:
    """Engine-native Monte Carlo battery.

    Unlike the reference, state is per-instance (the reference stores
    ``rng_generator``/``pipeline_options``/``output_paths`` as *class*
    attributes, ``parallel_simulations.py:30-31,40`` — two batteries
    clobber each other) and the documented-but-broken ``output_paths``
    cache (``parallel_simulations.py:40`` overwrites before read) is
    implemented as documented: paths given once are reused on later
    ``simulate`` calls.
    """

    def __init__(self, battery_configs: dict | BatteryConfigs | None = None):
        if isinstance(battery_configs, BatteryConfigs):
            self.configs = battery_configs
        else:
            self.configs = BatteryConfigs(**(battery_configs or {}))
        self.output_paths: list[str] | None = None
        self.last_master_seed: int | None = None

    # -- public API ---------------------------------------------------

    def simulate(
        self,
        models: Sequence[Callable],
        simulation_configs: Sequence[dict | SimulationConfig],
        output_paths: Sequence[str] | None = None,
        *,
        spark: SparkSession | None = None,
        trace_dtype: str = "string",
        master_seed: int | None = None,
    ) -> DataFrame:
        """Run the battery; return ``DataFrame[model_id, sim_id, trace]``.

        If ``output_paths`` is given (or cached from a prior call), also
        export one CSV per model with the reference's format: one
        comma-joined row per trace, no header, overwrite
        (``utils.py:15-23``).
        """
        if len(models) != len(simulation_configs):
            raise ValueError(
                f"{len(models)} models but {len(simulation_configs)} configs"
            )
        if trace_dtype not in _TRACE_SCHEMA:
            raise ValueError(f"trace_dtype must be one of {sorted(_TRACE_SCHEMA)}")
        if master_seed is not None and master_seed < 0:
            raise ValueError(f"master_seed must be non-negative, got {master_seed}")

        cfgs = validate_simulation_configs(
            [
                c
                if isinstance(c, dict)
                # pydantic v2 spells dump `model_dump`; the v1 fallback
                # (see mc/models.py) only has `.dict()`.
                else (c.model_dump() if hasattr(c, "model_dump") else c.dict())
                for c in simulation_configs
            ]
        )
        spark = spark or SparkSession.builder.getOrCreate()
        # Battery-level engine knobs (the reference's pipeline_options
        # analogue, models.py:14): applied as runtime SQL confs.
        for key, value in self.configs.spark_conf.items():
            spark.conf.set(key, value)

        seed = (
            master_seed
            if master_seed is not None
            else (
                self.configs.master_seed
                if self.configs.master_seed is not None
                else fresh_master_seed()
            )
        )
        self.last_master_seed = seed
        shards = _shard_ranges(cfgs)
        logger.info(
            "MCBattery.simulate master_seed=%d shards=%d simulations=%d",
            seed, len(shards), sum(c.number_simulations for c in cfgs),
        )

        df = self._trace_frame(spark, list(models), cfgs, shards, seed, trace_dtype)

        # Working output_paths cache (documented reference semantics,
        # notebook cell 35; the reference's implementation clobbers it).
        if output_paths is not None:
            self.output_paths = list(output_paths)
        if self.output_paths is not None:
            from .sinks import export_traces_csv

            # The simulation UDF is nondeterministic from Spark's point of
            # view; persist so export and returned-DF reads agree.
            df = df.persist()
            export_traces_csv(df, dict(enumerate(self.output_paths)))
        return df

    # -- internals ----------------------------------------------------

    def _trace_frame(
        self,
        spark: SparkSession,
        models: list[Callable],
        cfgs: list[SimulationConfig],
        shards: list[tuple[int, int, int]],
        master_seed: int,
        trace_dtype: str,
    ) -> DataFrame:
        shard_df = spark.createDataFrame(
            shards, schema="model_id long, sim_lo long, sim_hi long"
        ).repartition(max(len(shards), spark.sparkContext.defaultParallelism))

        bit_gen_cls = self.configs.bit_generator()
        cfg_by_model = {
            i: (c.number_points, c.parameters, c.starting_point)
            for i, c in enumerate(cfgs)
        }
        cast = str if trace_dtype == "string" else float

        def run_shards(batches: Iterator) -> Iterator:
            # Runs on executors; models/cfg_by_model arrive via the
            # cloudpickled closure (same mechanism as Beam's DoFn capture
            # of battery state at reference parallel_simulations.py:68).
            import numpy as np
            import pandas as pd

            for pdf in batches:
                for model_id, sim_lo, sim_hi in pdf.itertuples(index=False):
                    model = models[model_id]
                    number_points, parameters, starting_point = cfg_by_model[model_id]
                    sim_ids, traces = [], []
                    rngs = shard_rngs(bit_gen_cls, master_seed, model_id, sim_lo, sim_hi)
                    for sim_id, rng in zip(range(sim_lo, sim_hi), rngs):
                        trace = _call_model(
                            model, number_points, rng, parameters, starting_point
                        )
                        sim_ids.append(sim_id)
                        traces.append([cast(p) for p in trace])
                    yield pd.DataFrame(
                        {
                            "model_id": np.full(len(sim_ids), model_id, dtype="int64"),
                            "sim_id": np.asarray(sim_ids, dtype="int64"),
                            "trace": traces,
                        }
                    )

        return shard_df.mapInPandas(run_shards, schema=_TRACE_SCHEMA[trace_dtype])


#: Alias matching the reference's public class name
#: (``parallel_simulations/__init__.py:5``) so reference users can switch
#: with only an import change.
ParallelMCBattery = MCBattery
