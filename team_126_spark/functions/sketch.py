"""Arrow-batched numpy kernels for hash-sketch signatures (MinHash, SimHash).

The straightforward Spark-SQL formulation of these sketches (64 parallel
min()/sum() aggregate expressions over exploded shingle/token hashes) blows
past whole-stage-codegen method limits and falls back to interpreted
evaluation — measured ~5s for 5k docs at sf0.1. These kernels keep the
hashing JVM-side (xxhash64 inside codegen) and do only the 64-way remix +
reduce in vectorized numpy over Arrow batches: the per-doc hash lists come
in as one `collect_list` shuffle keyed by doc id (uniform, skew-free), and
each batch is a couple of flat ufunc passes.

Determinism: the 64-member hash family is a fixed splitmix64-derived
multiply-add table computed at import from integer arithmetic — no RNG
state, identical on every executor. These operators are rows-only in the
oracle harness (no SQL twin for xxhash64); tests/test_dedup.py asserts
their set/locality properties instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

N_MINHASH = 64

_MASK = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """The splitmix64 finalizer — public-domain PRNG step (Steele et al.)."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK
    return (z ^ (z >> 31)) & _MASK


# 64 (a, b) multiply-add parameters; a forced odd so x -> a*x + b is a
# bijection on Z/2^64 (uniformity-preserving, pairwise-independent enough
# for min-wise estimation over already-uniform xxhash64 inputs).
_PARAMS = [(_splitmix64(2 * s) | 1, _splitmix64(2 * s + 1)) for s in range(N_MINHASH)]
_A = np.array([a for a, _ in _PARAMS], dtype=np.uint64)
_B = np.array([b for _, b in _PARAMS], dtype=np.uint64)


def _flatten(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Ragged list column -> (flat uint64 values, reduceat offsets)."""
    lens = np.fromiter((len(v) for v in series), dtype=np.int64, count=len(series))
    flat = np.concatenate([np.asarray(v, dtype=np.int64) for v in series]).view(np.uint64)
    offsets = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    return flat, offsets


@F.pandas_udf(ArrayType(LongType()))
def minhash_from_hashes(hs: pd.Series) -> pd.Series:
    """Per-row MinHash signature from a list of 64-bit shingle hashes:
    sig[s] = min over shingles of (a_s * h + b_s mod 2^64)."""
    if len(hs) == 0:
        return pd.Series([], dtype=object)
    flat, offsets = _flatten(hs)
    out = np.empty((len(hs), N_MINHASH), dtype=np.int64)
    with np.errstate(over="ignore"):
        for s in range(N_MINHASH):
            mixed = flat * _A[s] + _B[s]
            out[:, s] = np.minimum.reduceat(mixed, offsets).view(np.int64)
    return pd.Series(list(out))


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane (pure fn of index)."""
    # xorshift-ish integer mix, no RNG state: component in [-1, 1)
    comps = []
    for i in range(dim):
        h = (plane_idx * 1_000_003 + i * 7919 + 12345) * 2_654_435_761 % (2**32)
        comps.append((h / 2**31) - 1.0)
    return comps


def lsh_bucket_kernel(dim: int, n_planes: int, n_tables: int):
    """Arrow-batched sign-hash LSH buckets: one (batch × dim) @ (dim × T·P)
    matmul replaces T·P interpreted zip_with/aggregate folds (each of which
    also drags a dim-length literal array through the plan — measured ~7s of
    fixed plan-compile/eval overhead at 32 projections before this kernel).

    Returns a pandas_udf: array<float> -> array<long> of `n_tables` bucket
    ids, where bucket t = (t << n_planes) | sign bits under table t's
    planes — the table tag is embedded in the id so a single explode +
    equi-join covers all tables. Null/zero vectors land in the all-ones
    bucket; the caller's exact verify discards them.
    """
    planes = np.array(
        [_hyperplane(dim, i) for i in range(n_tables * n_planes)], dtype=np.float64
    ).T  # (dim, T*P)
    weights = 1 << np.arange(n_planes - 1, -1, -1, dtype=np.int64)
    offsets = np.arange(n_tables, dtype=np.int64) << n_planes

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(
            [
                np.asarray(v, dtype=np.float64) if v is not None else np.zeros(dim)
                for v in vs
            ]
        )
        bits = (mat @ planes) >= 0  # (n, T*P)
        packed = bits.reshape(len(vs), n_tables, n_planes).astype(np.int64) @ weights + offsets
        return pd.Series(list(packed))

    return buckets


@F.pandas_udf(LongType())
def simhash_from_hashes(hs: pd.Series) -> pd.Series:
    """Per-row 64-bit SimHash from a list of 64-bit token hashes: bit b of
    the result is 1 iff more than half the tokens have bit b set."""
    if len(hs) == 0:
        return pd.Series([], dtype="int64")
    flat, offsets = _flatten(hs)
    lens = np.fromiter((len(v) for v in hs), dtype=np.int64, count=len(hs))
    shifts = np.arange(64, dtype=np.uint64)
    bits = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
    ones = np.add.reduceat(bits, offsets, axis=0)
    sign = (2 * ones - lens[:, None]) > 0
    packed = (sign.astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
    return pd.Series(packed.view(np.int64))
