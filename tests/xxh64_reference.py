"""Scalar pure-Python XXH64: the reference the numpy kernels in
``etlframwork_spark.hashing`` are pinned against.

Matches Spark's ``xxhash64`` on strings (UTF-8 bytes, seed chaining
across columns, seed 42 at the head — the semantics of
``table.bucket_expr``). Bit-equality with the JVM is pinned in
tests/test_datasource.py.
"""

from __future__ import annotations

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int) -> int:
    """XXH64 over ``data`` with ``seed`` (unsigned 64-bit result)."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
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
    while i + 8 <= n:
        h = ((_rotl(h ^ _round(0, int.from_bytes(data[i : i + 8], "little")), 27)) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = ((_rotl(h ^ (int.from_bytes(data[i : i + 4], "little") * _P1) & _M, 23)) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5) & _M, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def spark_xxhash64_strings(values: list[str], seed: int = 42) -> int:
    """Spark's multi-column ``xxhash64(c1, c2, ...)`` over string columns:
    each column's hash seeds the next, starting at 42. Returns the SIGNED
    64-bit value Spark produces."""
    h = seed
    for v in values:
        h = xxhash64(v.encode("utf-8"), h)
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(key_values: list[str], num_buckets: int) -> int:
    """pmod(xxhash64(keys), num_buckets) — scalar twin of table.bucket_expr."""
    return spark_xxhash64_strings(key_values) % num_buckets
