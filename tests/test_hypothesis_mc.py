"""Hypothesis property tests for the pure-Python MC core (no Spark per
example — these run hundreds of generated cases cheaply).

Targets the pieces whose correctness is load-bearing for the whole
battery: deterministic seed derivation (retry safety), the shard loop's
bulk seeding giving exactly the same generators, and the reference
call-convention dispatch (parallel_simulations.py:80-95 parity plus the
4th combo)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from numpy.random.bit_generator import ISpawnableSeedSequence

from parallel_monte_carlo_simulations_spark.mc.battery import _call_model
from parallel_monte_carlo_simulations_spark.mc.seeds import (
    rng_for,
    seed_sequence_for,
    shard_rngs,
)

ids = st.integers(min_value=0, max_value=2**31 - 1)
seeds = st.integers(min_value=0, max_value=2**62)


@given(master=seeds, model_id=ids, sim_id=ids)
@settings(max_examples=200, deadline=None)
def test_seed_derivation_deterministic(master, model_id, sim_id):
    a = rng_for(np.random.PCG64, master, model_id, sim_id).random(4)
    b = rng_for(np.random.PCG64, master, model_id, sim_id).random(4)
    assert (a == b).all()


@given(master=seeds, m1=ids, s1=ids, m2=ids, s2=ids)
@settings(max_examples=200, deadline=None)
def test_seed_derivation_distinct_streams(master, m1, s1, m2, s2):
    """Different (model_id, sim_id) coordinates must yield different
    streams (SeedSequence guarantees independence; we check the streams
    actually differ, which also guards against accidentally ignoring a
    coordinate)."""
    if (m1, s1) == (m2, s2):
        return
    a = rng_for(np.random.PCG64, master, m1, s1).random(8)
    b = rng_for(np.random.PCG64, master, m2, s2).random(8)
    assert not (a == b).all()


@given(
    n=st.integers(min_value=1, max_value=50),
    has_params=st.booleans(),
    has_start=st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_call_model_arity_dispatch(n, has_params, has_start):
    """Every parameters/starting_point combination reaches the model with
    exactly the arguments the reference convention prescribes — including
    the combo the reference drops (starting_point without parameters)."""
    seen = {}

    def model(number_points, rng, parameters=None, starting_point=None):
        seen["args"] = (number_points, parameters, starting_point)
        return ["x"] * number_points

    params = [0.5] if has_params else None
    start = ["T", "T"] if has_start else None
    rng = np.random.Generator(np.random.PCG64(1))
    trace = _call_model(model, n, rng, params, start)
    assert len(trace) == n
    assert seen["args"] == (n, params, start)


@given(master=seeds, model_id=ids, sim_id=ids)
@settings(max_examples=100, deadline=None)
def test_seed_sequence_spawns_stable_entropy(master, model_id, sim_id):
    ss1 = seed_sequence_for(master, model_id, sim_id)
    ss2 = seed_sequence_for(master, model_id, sim_id)
    assert ss1.entropy == ss2.entropy == [master, model_id, sim_id]


# -- seeds.shard_rngs: the shard loop's generators must be rng_for's ---------

BIT_GENERATORS = [np.random.PCG64, np.random.Philox, np.random.SFC64, np.random.MT19937]
master_seeds = st.integers(min_value=0, max_value=2**64)
model_ids = st.one_of(
    st.integers(min_value=0, max_value=2**32 - 1),
    st.integers(min_value=2**32, max_value=2**48),
)
# (sim_lo, sim_hi): empty, a single sim, short runs, and runs across 2**32
shard_bounds = st.one_of(
    st.integers(min_value=0, max_value=2**40).map(lambda lo: (lo, lo)),
    st.integers(min_value=0, max_value=2**40).map(lambda lo: (lo, lo + 1)),
    st.tuples(st.integers(min_value=0, max_value=2**40), st.integers(0, 5)).map(
        lambda t: (t[0], t[0] + t[1])
    ),
    st.tuples(st.integers(1, 3), st.integers(1, 3)).map(
        lambda t: (2**32 - t[0], 2**32 + t[1])
    ),
)


def _assert_same_generator(got, want):
    assert np.array_equal(got.bit_generator.random_raw(8), want.bit_generator.random_raw(8))
    for g, w in zip(got.spawn(2), want.spawn(2), strict=True):
        assert np.array_equal(g.bit_generator.random_raw(8), w.bit_generator.random_raw(8))


@pytest.mark.parametrize("bit_gen", BIT_GENERATORS, ids=lambda c: c.__name__)
@given(master=master_seeds, model_id=model_ids, bounds=shard_bounds)
@settings(max_examples=60, deadline=None)
def test_shard_rngs_match_rng_for(bit_gen, master, model_id, bounds):
    lo, hi = bounds
    got = list(shard_rngs(bit_gen, master, model_id, lo, hi))
    assert len(got) == hi - lo
    for sim_id, rng in zip(range(lo, hi), got):
        _assert_same_generator(rng, rng_for(bit_gen, master, model_id, sim_id))


def test_shard_rngs_match_rng_for_across_replay_blocks():
    # An MT19937 shard is replayed ~100 simulations at a time; the
    # generators either side of each block edge must still be rng_for's.
    rngs = list(shard_rngs(np.random.MT19937, 2**63 - 1, 3, 0, 230))
    for sim_id in (0, 104, 105, 106, 209, 210, 229):
        _assert_same_generator(rngs[sim_id], rng_for(np.random.MT19937, 2**63 - 1, 3, sim_id))


def test_presampled_defers_requests_it_cannot_serve():
    rng = next(shard_rngs(np.random.Philox, 20240813, 2**33, 2**32, 2**32 + 1))
    seq = rng.bit_generator.seed_seq
    assert isinstance(seq, ISpawnableSeedSequence)
    assert not isinstance(seq, np.random.SeedSequence)
    real = seed_sequence_for(20240813, 2**33, 2**32)
    for n_words, dtype in ((2, np.uint64), (1000, np.uint32), (600, np.uint64), (3, np.uint32)):
        assert np.array_equal(seq.generate_state(n_words, dtype), real.generate_state(n_words, dtype))
    assert seq.entropy == real.entropy
