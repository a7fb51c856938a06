"""XXH64 re-implementation (public xxHash spec) matching Spark's xxhash64.

Spark evaluates ``F.xxhash64(c1, c2, ...)`` by folding XXH64 over the
columns: ``h = 42; for v in cols: h = hash(v, seed=h)`` where integer types
go through the 4-byte path, longs through the 8-byte path, and strings hash
their UTF-8 bytes. Arrow-batched numpy kernels that must reproduce
JVM-computed hashes exactly (the SimHash bit-vote and the MinHash
signatures and band keys in datapipe/dedup.py, the hyperplane plane matrix
in datapipe/ann.py) use these functions; parity with the JVM is asserted in
tests/test_xxh64.py and tests/test_minhash.py against F.xxhash64 itself.

The scalar byte-string form is pure Python (used per *distinct* token with
a cache — token vocabularies are Zipf, so the amortized cost is tiny); the
int/long forms are fully numpy-vectorized (branch-free) for bulk use.
"""

from __future__ import annotations

import numpy as np

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of raw bytes (unsigned 64-bit int). seed=42 matches a
    single-column ``F.xxhash64(string_col)``."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h = (_rotl(h ^ _round(0, int.from_bytes(data[i : i + 8], "little")), 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h = (_rotl(h ^ (int.from_bytes(data[i : i + 4], "little") * _P1) & _M, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5) & _M, 11) * _P1) & _M
        i += 1
    return _fmix(h)


# ---------------------------------------------------------------------------
# Vectorized fixed-width forms (numpy uint64, branch-free)
# ---------------------------------------------------------------------------

def _rotl_np(x, r: int):
    r_ = np.uint64(r)
    return (x << r_) | (x >> np.uint64(64 - r))


def _fmix_np(h):
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_P2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(_P3)
    return h ^ (h >> np.uint64(32))


def xxh64_int_np(x, seed):
    """Vectorized XXH64 4-byte path — Spark's hashInt (what ``F.xxhash64``
    applies to IntegerType columns/literals). x, seed: uint64 arrays or
    scalars (x is the int's value zero-extended to the low 32 bits)."""
    x = np.asarray(x, dtype=np.uint64) & np.uint64(0xFFFFFFFF)
    seed = np.asarray(seed, dtype=np.uint64)
    with np.errstate(over="ignore"):
        h = seed + np.uint64(_P5 + 4)
        h = h ^ (x * np.uint64(_P1))
        h = _rotl_np(h, 23) * np.uint64(_P2) + np.uint64(_P3)
        return _fmix_np(h)


def xxh64_long_np(x, seed):
    """Vectorized XXH64 8-byte path — Spark's hashLong (LongType columns)."""
    x = np.asarray(x, dtype=np.uint64)
    seed = np.asarray(seed, dtype=np.uint64)
    with np.errstate(over="ignore"):
        h = seed + np.uint64(_P5 + 8)
        h = h ^ (_rotl_np(x * np.uint64(_P2), 31) * np.uint64(_P1))
        h = _rotl_np(h, 27) * np.uint64(_P1) + np.uint64(_P4)
        return _fmix_np(h)
