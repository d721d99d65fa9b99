"""XXH64 over numpy arrays, bit-equal to Spark's ``xxhash64`` on strings.

The one Python-side spelling of the hash behind the table's bucket layout
(``table.bucket_expr``: ``pmod(xxhash64(*key_cols), num_buckets)``) and
the MinHash shingle hash. Rows are grouped by byte length, so each group
is a fixed-width ``(n, L)`` uint8 matrix and every XXH64 step is an
elementwise uint64 op (numpy wraps mod 2^64 natively). Seeds are per-row
arrays, which is what Spark's multi-column seed chaining needs. A scalar
pure-Python XXH64 in ``tests/`` is the reference: it is pinned bit-equal
to the JVM's ``F.xxhash64``, and these kernels are pinned against it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

#: Spark's ``xxhash64`` seeds its first column with 42
SPARK_SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, inp: np.ndarray) -> np.ndarray:
    return _rotl(acc + inp * _P2, 31) * _P1


def _lane(mat: np.ndarray, i: int, width: int) -> np.ndarray:
    return np.ascontiguousarray(mat[:, i : i + width]).view(f"<u{width}").ravel()


def xxh64_fixed(mat: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """XXH64 of every row of a fixed-width ``(n, L)`` uint8 matrix, one
    uint64 seed per row."""
    n, L = mat.shape
    i = 0
    if L >= 32:
        v1 = seeds + _P1 + _P2
        v2 = seeds + _P2
        v3 = seeds.copy()
        v4 = seeds - _P1
        while i + 32 <= L:
            v1 = _round(v1, _lane(mat, i, 8))
            v2 = _round(v2, _lane(mat, i + 8, 8))
            v3 = _round(v3, _lane(mat, i + 16, 8))
            v4 = _round(v4, _lane(mat, i + 24, 8))
            i += 32
        h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        zero = np.zeros(n, dtype=np.uint64)
        for v in (v1, v2, v3, v4):
            h = (h ^ _round(zero, v)) * _P1 + _P4
    else:
        h = seeds + _P5
    h = h + np.uint64(L)
    while i + 8 <= L:
        zero = np.zeros(n, dtype=np.uint64)
        h = _rotl(h ^ _round(zero, _lane(mat, i, 8)), 27) * _P1 + _P4
        i += 8
    if i + 4 <= L:
        k = _lane(mat, i, 4).astype(np.uint64)
        h = _rotl(h ^ (k * _P1), 23) * _P2 + _P3
        i += 4
    while i < L:
        h = _rotl(h ^ (mat[:, i].astype(np.uint64) * _P5), 11) * _P1
        i += 1
    h ^= h >> np.uint64(33)
    h = h * _P2
    h ^= h >> np.uint64(29)
    h = h * _P3
    h ^= h >> np.uint64(32)
    return h


def xxh64_arrow(arr: pa.Array | pa.ChunkedArray, seeds: np.ndarray) -> np.ndarray:
    """Per-row XXH64 of an Arrow string or binary array, one seed per row,
    read straight from the Arrow offsets and data buffers. A null row
    keeps its seed, as Spark's ``xxhash64`` skips null columns."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = arr.cast(pa.large_binary())  # one offsets dtype (int64) to handle
    n = len(arr)
    _, offsets_buf, data_buf = arr.buffers()
    offsets = np.frombuffer(offsets_buf, dtype=np.int64, count=n + 1, offset=arr.offset * 8)
    data = np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None else np.empty(0, np.uint8)
    lengths = offsets[1:] - offsets[:-1]
    valid = np.array(arr.is_valid()) if arr.null_count else np.ones(n, dtype=bool)
    out = seeds.copy()
    for L in np.unique(lengths[valid]):
        idx = np.nonzero(valid & (lengths == L))[0]
        if L == 0:
            mat = np.empty((len(idx), 0), dtype=np.uint8)
        else:
            mat = data[offsets[idx][:, None] + np.arange(L)]
        out[idx] = xxh64_fixed(mat, seeds[idx])
    return out


def buckets_np(key_arrays: list, num_buckets: int) -> np.ndarray:
    """Bucket id per row, ``pmod(xxhash64(*keys), num_buckets)`` exactly as
    ``table.bucket_expr`` computes it JVM-side, over Arrow string arrays
    (one per key column). Returns an int64 array."""
    h = np.full(len(key_arrays[0]), SPARK_SEED, dtype=np.uint64)
    for col in key_arrays:
        h = xxh64_arrow(col, h)
    return np.mod(h.astype(np.int64), np.int64(num_buckets))


def bucket_of(key_values: list[str], num_buckets: int) -> int:
    """The bucket of one key (a list of key column values)."""
    return int(buckets_np([pa.array([v], pa.string()) for v in key_values], num_buckets)[0])
