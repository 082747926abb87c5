"""Config validation models for the Monte Carlo battery.

Parity with the reference's pydantic surface (reference ``models.py:12-61``):
same RNG allowlist and default (``models.py:16-33``), same ``>= 1``
constraints on ``number_simulations`` / ``number_points``
(``models.py:45-61``), same optional ``parameters`` / ``starting_point``
shapes (``models.py:42-43``). Differences are deliberate fixes noted in
SURVEY.md §2.A quirks:

- validation *returns* the validated models (the reference validates and
  then returns the raw dicts, ``parallel_simulations.py:147-170``);
- a ``master_seed`` exists for reproducibility (the reference draws
  unseeded seeds, ``utils.py:8-12``);
- state is per-instance, not class-level (``parallel_simulations.py:30-31``).
"""

from __future__ import annotations

from typing import List, Optional, Union

import numpy as np

try:
    from pydantic import BaseModel, Field, field_validator

    _PYDANTIC_V2 = True
except ImportError:  # pragma: no cover - pydantic v1 fallback
    from pydantic import BaseModel, Field, validator as field_validator  # type: ignore

    _PYDANTIC_V2 = False

#: RNG family allowlist — identical to reference ``models.py:16-33`` /
#: ``parallel_simulations.py:121-128``; resolved to numpy bit generators.
RNG_MAPPING = {
    "PCG64": np.random.PCG64,
    "Philox": np.random.Philox,
    "SFC64": np.random.SFC64,
    "MT19937": np.random.MT19937,
}

DEFAULT_RNG = "PCG64"


class BatteryConfigs(BaseModel):
    """Battery-level configuration (reference ``models.py:12-36``).

    The reference also carries Beam ``pipeline_options``; our execution
    substrate is the SparkSession, so the equivalent knobs are
    ``spark_conf`` (merged into the session) and ``master_seed``.
    """

    rng: str = DEFAULT_RNG
    master_seed: Optional[int] = Field(default=None, ge=0)
    spark_conf: dict = Field(default_factory=dict)

    if _PYDANTIC_V2:

        @field_validator("rng")
        @classmethod
        def _check_rng(cls, v: str) -> str:
            if v not in RNG_MAPPING:
                raise ValueError(
                    f"rng must be one of {sorted(RNG_MAPPING)}, got {v!r}"
                )
            return v

    else:  # pragma: no cover

        @field_validator("rng")
        def _check_rng(cls, v):  # noqa: N805
            if v not in RNG_MAPPING:
                raise ValueError(
                    f"rng must be one of {sorted(RNG_MAPPING)}, got {v!r}"
                )
            return v

    def bit_generator(self):
        return RNG_MAPPING[self.rng]


class SimulationConfig(BaseModel):
    """Per-model simulation config (reference ``models.py:39-61``).

    All four ``parameters`` × ``starting_point`` presence combinations are
    supported (the reference silently drops the ``starting_point``-only
    combo, ``parallel_simulations.py:80-95`` — fixed here).
    """

    number_simulations: int = Field(ge=1)
    number_points: int = Field(ge=1)
    parameters: Optional[Union[int, float, List[float], List[int]]] = None
    starting_point: Optional[Union[float, str, List[float], List[str]]] = None
    #: Per-task batching hint: simulations per Spark task. The reference's
    #: parallelism unit is one element per MODEL (``parallel_simulations
    #: .py:50-57``) which caps parallelism at len(models); we shard each
    #: model into ceil(number_simulations / batch_size) tasks instead.
    batch_size: int = Field(default=10_000, ge=1)


def validate_simulation_configs(configs: list[dict]) -> list[SimulationConfig]:
    """Validate and RETURN the validated configs (reference check-only
    behavior at ``parallel_simulations.py:147-170`` returned raw dicts)."""
    return [SimulationConfig(**cfg) for cfg in configs]
