"""Driver-side XXH64 — bucket computation without a Spark job.

The postings table is partitioned by ``tbucket = pmod(xxhash64(term),
n_buckets)`` (operators/build.py ``tbucket_col``).  The query path
needs the bucket of each query term to PRUNE the scan; computing it
with a throwaway ``createDataFrame([...]).select(F.xxhash64(...))`` job
costs a full scheduling round-trip (~0.3-0.5 s) PER SEARCH — pure
driver-side latency that a 1000-executor cluster cannot parallelize
away.  This is the same XXH64 (seed 42, UTF-8 bytes) Spark's
``F.xxhash64`` computes for a string column, in pure Python; parity
with the JVM implementation is pinned by ``tests/test_plans.py``.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_MASK = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as Spark's signed-long ``F.xxhash64`` value.

    Seed defaults to 42 — Spark's fixed seed for ``xxhash64(col)``.
    """
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h ^= _round(0, v)
            h = (h * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        k = _round(0, int.from_bytes(data[i:i + 8], "little"))
        h ^= k
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    # Spark's long is signed two's-complement
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str, n_buckets: int) -> int:
    """``pmod(xxhash64(term), n_buckets)`` for a string term —
    byte-identical to the partition value written at build time."""
    return xxhash64(term.encode("utf-8")) % n_buckets
