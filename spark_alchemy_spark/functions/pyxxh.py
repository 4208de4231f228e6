"""Spark-compatible xxHash64 in Python/numpy.

Re-implements the hash Spark's ``xxhash64`` expression computes (XXH64,
seed 42; per-type dispatch from Spark's ``XxHash64`` /
``hashExpressions``) outside the JVM.  No sketch is built with it: the
SQL names resolve to the DataFrame functions' JVM ``cardinality_hash``
(``hll.register``).  It stays as the JVM-xxhash oracle the tests check
sketch bytes against, as ``xxh64_int`` for ``operators/similarity.py``,
and as the kernel behind the benchmark's
``functions.pyxxh.hash_arrow_values_ns_per_value`` metric.

Per-type rules (Spark ``XXH64.java`` + ``InterpretedHashFunction``):

  long / timestamp(micros)  -> hashLong(v)
  int / short / byte / date -> hashInt(v)
  boolean                   -> hashInt(1 or 0)
  float                     -> hashInt(floatToIntBits(v)),  -0f -> 0f
  double                    -> hashLong(doubleToLongBits(v)), -0.0 -> 0.0
  string / binary           -> full XXH64 over the bytes

Algorithm reference: the public xxHash specification (Yann Collet,
BSD-2) — Spark's XXH64.java implements the same standard layout.

Everything is mod-2^64 arithmetic; the numpy paths use uint64 wraparound
for vectorized batches, the bytes path is a per-value Python loop.
"""

from __future__ import annotations

import struct

import numpy as np

SPARK_SEED = 42

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

_M64 = (1 << 64) - 1


def _signed(h: int) -> int:
    """uint64 -> Java signed long (what Spark's xxhash64 returns)."""
    return h - (1 << 64) if h >= (1 << 63) else h


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def xxh64_long(v: int, seed: int = SPARK_SEED) -> int:
    """XXH64 of one 8-byte little-endian long (Spark hashLong)."""
    h = (seed + _P5 + 8) & _M64
    k1 = (_rotl((v & _M64) * _P2 & _M64, 31) * _P1) & _M64
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    return _signed(_fmix(h))


def xxh64_int(v: int, seed: int = SPARK_SEED) -> int:
    """XXH64 of one 4-byte int (Spark hashInt)."""
    h = (seed + _P5 + 4) & _M64
    h ^= ((v & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl(h, 23) * _P2 + _P3) & _M64
    return _signed(_fmix(h))


def xxh64_bytes(data: bytes, seed: int = SPARK_SEED) -> int:
    """Standard XXH64 over a byte string (Spark hashUnsafeBytes)."""
    length = len(data)
    pos = 0
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while pos + 32 <= length:
            for i in range(4):
                (lane,) = struct.unpack_from("<Q", data, pos + 8 * i)
                acc = (v1, v2, v3, v4)[i]
                acc = (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64
                if i == 0:
                    v1 = acc
                elif i == 1:
                    v2 = acc
                elif i == 2:
                    v3 = acc
                else:
                    v4 = acc
            pos += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + length) & _M64
    while pos + 8 <= length:
        (lane,) = struct.unpack_from("<Q", data, pos)
        h ^= (_rotl((lane * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        pos += 8
    if pos + 4 <= length:
        (lane,) = struct.unpack_from("<I", data, pos)
        h ^= (lane * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        pos += 4
    while pos < length:
        h ^= (data[pos] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        pos += 1
    return _signed(_fmix(h))


# ---------------------------------------------------------------------------
# Vectorized batch paths (numpy uint64 wraparound)
# ---------------------------------------------------------------------------


def _rotl_vec(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix_vec(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_P2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(_P3)
    h = h ^ (h >> np.uint64(32))
    return h


def xxh64_longs(values: np.ndarray, seed: int = SPARK_SEED) -> np.ndarray:
    """Vectorized hashLong over an int64 array -> int64 hashes."""
    v = values.astype(np.int64).view(np.uint64)
    h = np.full(len(v), (seed + _P5 + 8) & _M64, dtype=np.uint64)
    k1 = _rotl_vec(v * np.uint64(_P2), 31) * np.uint64(_P1)
    h ^= k1
    h = _rotl_vec(h, 27) * np.uint64(_P1) + np.uint64(_P4)
    return _fmix_vec(h).view(np.int64)


def xxh64_ints(values: np.ndarray, seed: int = SPARK_SEED) -> np.ndarray:
    """Vectorized hashInt over an int32 array -> int64 hashes."""
    v = values.astype(np.int32).view(np.uint32).astype(np.uint64)
    h = np.full(len(v), (seed + _P5 + 4) & _M64, dtype=np.uint64)
    h ^= v * np.uint64(_P1)
    h = _rotl_vec(h, 23) * np.uint64(_P2) + np.uint64(_P3)
    return _fmix_vec(h).view(np.int64)


# ---------------------------------------------------------------------------
# Arrow array dispatch
# ---------------------------------------------------------------------------


def hash_arrow_values(arr, binary_seed: int | None = None) -> np.ndarray:
    """Hash the non-null values of a ``pyarrow.Array`` exactly like
    Spark's ``xxhash64`` hashes the equivalent column.  Returns int64
    hashes of the NON-NULL values only (callers handle null semantics).

    ``binary_seed``: seed for BinaryType values (the type-tagged chain
    of ``cardinality_hash`` — see hashing.BINARY_SEED); strings use the
    plain Spark seed.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    if arr.null_count:
        arr = arr.filter(pc.is_valid(arr))
    t = arr.type
    if pa.types.is_int64(t) or pa.types.is_timestamp(t):
        vals = arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
        return xxh64_longs(vals)
    if (
        pa.types.is_int32(t)
        or pa.types.is_int16(t)
        or pa.types.is_int8(t)
        or pa.types.is_date32(t)
    ):
        vals = arr.cast(pa.int32()).to_numpy(zero_copy_only=False)
        return xxh64_ints(vals)
    if pa.types.is_boolean(t):
        vals = arr.cast(pa.int32()).to_numpy(zero_copy_only=False)
        return xxh64_ints(vals)
    if pa.types.is_float64(t):
        vals = arr.to_numpy(zero_copy_only=False)
        vals = np.where(vals == 0.0, 0.0, vals)  # -0.0 -> 0.0 (Spark norm)
        return xxh64_longs(vals.view(np.int64))
    if pa.types.is_float32(t):
        vals = arr.to_numpy(zero_copy_only=False).astype(np.float32)
        vals = np.where(vals == 0.0, np.float32(0.0), vals)
        return xxh64_ints(vals.view(np.int32))
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return np.array(
            [xxh64_bytes(s.encode("utf-8")) for s in arr.to_pylist()],
            dtype=np.int64,
        )
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        seed = SPARK_SEED if binary_seed is None else binary_seed
        return np.array(
            [xxh64_bytes(bytes(b), seed) for b in arr.to_pylist()],
            dtype=np.int64,
        )
    raise TypeError(
        f"hash_arrow_values does not support input type {t} "
        "(hashing.cardinality_hash handles nested types)"
    )
