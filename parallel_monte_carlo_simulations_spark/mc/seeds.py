"""Deterministic, retry-safe seed derivation.

The reference draws unseeded random seeds on the driver
(``utils.py:8-12`` — ``random.randint`` into a set, non-reproducible and
order-unstable). Here every simulation's seed is a pure function of
``(master_seed, model_id, sim_id)`` via numpy's ``SeedSequence``, so:

- the same master seed reproduces every trace byte-for-byte,
- a Spark task retry re-derives identical seeds (no divergence),
- no seed state ships through the shuffle — tasks derive locally.

:func:`rng_for` is the definition of a simulation's generator. The
battery's shard loop builds its generators through :func:`shard_rngs`
instead, which must give exactly what :func:`rng_for` gives for every
simulation of the shard: it replays ``SeedSequence``'s hashing (NEP 19's
stable algorithm) for the whole shard in a few uint32 numpy passes and
hands each bit generator its precomputed state words, so a simulation
pays the bit generator's constructor but no ``SeedSequence`` of its own.
:data:`STATE_REQUEST` must name every allowlisted bit generator: a missing
one fails with ``KeyError`` rather than being seeded some other way.
"""

from __future__ import annotations

import functools
import secrets
from collections.abc import Iterator

import numpy as np
from numpy.random.bit_generator import ISpawnableSeedSequence

# SeedSequence's hashing constants (numpy/random/bit_generator.pyx).
_INIT_A = 0x43B0D7E5
_MULT_A = 0x931E8875
_INIT_B = 0x8B51F9DD
_MULT_B = 0x58F38DED
_MIX_MULT_L = np.uint32(0xCA01F9DD)
_MIX_MULT_R = np.uint32(0x4973F715)
_POOL_SIZE = 4
_MASK32 = 0xFFFFFFFF

#: ``generate_state(n_words, dtype)`` request each allowlisted bit
#: generator makes of its seed sequence when it is constructed:
#: 4, 8, 6 and 624 uint32 words.
STATE_REQUEST = {
    np.random.Philox: (2, np.uint64),
    np.random.PCG64: (4, np.uint64),
    np.random.SFC64: (3, np.uint64),
    np.random.MT19937: (624, np.uint32),
}

#: Upper bound on the uint32 words replayed at once (256 KiB): a shard is
#: replayed in blocks of ``_BLOCK_WORDS // words`` simulations.
_BLOCK_WORDS = 1 << 16


def fresh_master_seed() -> int:
    """Entropy-pool master seed (used when the caller supplies none)."""
    return secrets.randbits(63)


def seed_sequence_for(master_seed: int, model_id: int, sim_id: int) -> np.random.SeedSequence:
    return np.random.SeedSequence([master_seed, model_id, sim_id])


def rng_for(bit_generator_cls, master_seed: int, model_id: int, sim_id: int) -> np.random.Generator:
    """Build the per-simulation Generator exactly like the reference does
    per model (``parallel_simulations.py:68-69``: ``Generator(BitGen(seed))``)
    but at per-simulation granularity."""
    return np.random.Generator(
        bit_generator_cls(seed_sequence_for(master_seed, model_id, sim_id))
    )


def shard_rngs(
    bit_generator_cls, master_seed: int, model_id: int, sim_lo: int, sim_hi: int
) -> Iterator[np.random.Generator]:
    """Yield ``rng_for(bit_generator_cls, master_seed, model_id, s)`` for
    ``s`` in ``range(sim_lo, sim_hi)``, in that order, each a fresh
    Generator built by the real constructor from precomputed state words."""
    master_seed, model_id = int(master_seed), int(model_id)
    sim_lo, sim_hi = int(sim_lo), int(sim_hi)
    n_words, dtype = STATE_REQUEST[bit_generator_cls]
    n32 = n_words * np.dtype(dtype).itemsize // 4
    prefix = _uint32_words(master_seed) + _uint32_words(model_id)
    block = max(1, _BLOCK_WORDS // n32)
    for lo in range(sim_lo, sim_hi, block):
        hi = min(lo + block, sim_hi)
        states = _shard_state_words(prefix, lo, hi, n32)
        if dtype == np.uint64:
            # SeedSequence pairs its uint32 words little-endian.
            states = states.astype("<u4", copy=False).view("<u8").astype(dtype, copy=False)
        for sim_id, state in zip(range(lo, hi), states):
            seq = _Presampled(state, (master_seed, model_id, sim_id))
            yield np.random.Generator(bit_generator_cls(seq))


class _Presampled(ISpawnableSeedSequence):
    """A seed sequence whose ``generate_state`` output was replayed in bulk.

    Anything beyond the precomputed state — a longer or differently typed
    ``generate_state`` request, ``spawn``, or an attribute such as
    ``entropy`` — goes to the real ``SeedSequence`` of the same entropy,
    built once on first use, so spawned children match :func:`rng_for`'s.
    """

    __slots__ = ("_state", "_entropy", "_real")

    def __init__(self, state: np.ndarray, entropy: tuple[int, int, int]):
        self._state = state
        self._entropy = entropy
        self._real = None

    def _seed_seq(self) -> np.random.SeedSequence:
        if self._real is None:
            self._real = np.random.SeedSequence(list(self._entropy))
        return self._real

    def generate_state(self, n_words, dtype=np.uint32):
        state = self._state
        if 0 <= n_words <= len(state) and np.dtype(dtype) == state.dtype:
            return state[:n_words].copy()
        return self._seed_seq().generate_state(n_words, dtype)

    def spawn(self, n_children):
        return self._seed_seq().spawn(n_children)

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        return getattr(self._seed_seq(), name)


def _uint32_words(n: int) -> list[int]:
    """A non-negative int's little-endian uint32 words, as SeedSequence's
    ``_coerce_to_uint32_array`` splits it (0 is one word)."""
    if n < 0:
        raise ValueError(f"seed entropy must be non-negative, got {n}")
    words = [n & _MASK32]
    n >>= 32
    while n:
        words.append(n & _MASK32)
        n >>= 32
    return words


def _shard_state_words(prefix: list[int], lo: int, hi: int, n_words: int) -> np.ndarray:
    """``(hi - lo, n_words)`` uint32: row ``i`` is
    ``SeedSequence(entropy of prefix + [lo + i]).generate_state(n_words)``.

    A sim id at or above 2**32 adds an entropy word, so the range is split
    there and each part replayed with its own entropy length."""
    out = np.empty((hi - lo, n_words), dtype=np.uint32)
    split = min(max(lo, 1 << 32), hi)
    for a, b in ((lo, split), (split, hi)):
        if a >= b:
            continue
        sims = np.arange(a, b, dtype=np.uint64)
        sim_words = [(sims & _MASK32).astype(np.uint32)]
        if a >= 1 << 32:
            sim_words.append((sims >> np.uint64(32)).astype(np.uint32))
        entropy = [np.full(b - a, w, dtype=np.uint32) for w in prefix] + sim_words
        out[a - lo : b - lo] = _generate_state(_mix_entropy(entropy), n_words)
    return out


def _mix_entropy(entropy: list[np.ndarray]) -> np.ndarray:
    """``SeedSequence.mix_entropy`` over columns of entropy words; returns
    the ``(n, 4)`` pool."""
    hash_const = _INIT_A

    def hashmix(value: np.ndarray) -> np.ndarray:
        nonlocal hash_const
        value = value ^ np.uint32(hash_const)
        hash_const = (hash_const * _MULT_A) & _MASK32
        value = value * np.uint32(hash_const)
        return value ^ (value >> np.uint32(16))

    def mix(x: np.ndarray, y: np.ndarray) -> np.ndarray:
        result = _MIX_MULT_L * x - _MIX_MULT_R * y
        return result ^ (result >> np.uint32(16))

    zero = np.zeros_like(entropy[0])
    pool = [hashmix(entropy[i] if i < len(entropy) else zero) for i in range(_POOL_SIZE)]
    for i_src in range(_POOL_SIZE):
        for i_dst in range(_POOL_SIZE):
            if i_src != i_dst:
                pool[i_dst] = mix(pool[i_dst], hashmix(pool[i_src]))
    for i_src in range(_POOL_SIZE, len(entropy)):
        for i_dst in range(_POOL_SIZE):
            pool[i_dst] = mix(pool[i_dst], hashmix(entropy[i_src]))
    return np.stack(pool, axis=1)


@functools.lru_cache(maxsize=None)
def _output_hash_consts(n_words: int) -> tuple[np.ndarray, np.ndarray]:
    """``generate_state``'s per-word XOR and multiply constants."""
    xor, mult = np.empty(n_words, np.uint32), np.empty(n_words, np.uint32)
    hash_const = _INIT_B
    for i in range(n_words):
        xor[i] = hash_const
        hash_const = (hash_const * _MULT_B) & _MASK32
        mult[i] = hash_const
    xor.flags.writeable = mult.flags.writeable = False
    return xor, mult


def _generate_state(pool: np.ndarray, n_words: int) -> np.ndarray:
    """``SeedSequence.generate_state(n_words, uint32)`` for each pool row."""
    xor, mult = _output_hash_consts(n_words)
    reps = -(-n_words // _POOL_SIZE)
    state = np.tile(pool, (1, reps))[:, :n_words]
    state ^= xor
    state *= mult
    state ^= state >> np.uint32(16)
    return state
