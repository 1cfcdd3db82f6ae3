"""Hashing helpers: deterministic pseudo-randoms + the lake's bucket layout.

``hash_unit`` gives a partition-layout-independent uniform in [0,1): unlike
``F.rand(seed)`` (which depends on partition index), ``xxhash64`` of the row id
is a pure function of its inputs, so generated data is bit-identical at any
parallelism — required for the N-vs-4N scaling runs to see the same input.

``bucket_of`` is the lake table's bucket layout, decided here only:
``pmod(xxhash64(keys...), n_buckets)`` JVM-side, and ``key_bucket`` — the
same function on the driver for concrete key values, so a point lookup
plans its bucket without a Spark job.
"""

from __future__ import annotations

import struct
from typing import Any, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_M = 1 << 31


def hash_unit(*cols: Column | str, salt: int = 0) -> Column:
    """Deterministic uniform [0,1) from arbitrary columns (partition-independent)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return (F.pmod(F.xxhash64(F.lit(salt), *cs), F.lit(_M)) / F.lit(float(_M)))


def bucket_of(key_cols: Sequence[str | Column], n_buckets: int) -> Column:
    """Hash bucket of a composite key — the lake table's partitioning function."""
    cs = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return F.pmod(F.xxhash64(*cs), F.lit(n_buckets)).cast("int")


# XXH64 (Spark's org.apache.spark.sql.catalyst.expressions.XXH64), on
# unsigned 64-bit Python ints.
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1
_SPARK_SEED = 42           # F.xxhash64's seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _U64, 31) * _P1 & _U64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int. Spark hashes an int as
    its 4 little-endian bytes, a long as its 8 and a string as its UTF-8
    bytes, all through this one function."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _U64, (seed + _P2) & _U64, seed,
             (seed - _P1) & _U64]
        while i + 32 <= n:
            v = [_round(a, lane) for a, lane in
                 zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _U64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _U64
    else:
        h = (seed + _P5) & _U64
    h = (h + n) & _U64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _U64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ (k * _P1 & _U64), 23) * _P2 + _P3) & _U64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _U64), 11) * _P1 & _U64
    h ^= h >> 33
    h = h * _P2 & _U64
    h ^= h >> 29
    h = h * _P3 & _U64
    return h ^ (h >> 32)


_INT_PACK = {T.ByteType: ("<i", 7), T.ShortType: ("<i", 15),
             T.IntegerType: ("<i", 31), T.LongType: ("<q", 63)}


def _key_bytes(v: Any, dt: T.DataType) -> bytes | None:
    """The bytes Spark's xxhash64 hashes for ``v`` stored as ``dt``; None
    when this port does not cover the pair."""
    if dt == T.StringType() and isinstance(v, str):
        return v.encode("utf-8")
    pack = _INT_PACK.get(type(dt))
    if pack and type(v) is int and -(1 << pack[1]) <= v < (1 << pack[1]):
        return struct.pack(pack[0], v)
    return None


def key_bucket(values: Sequence[Any], types: Sequence[T.DataType],
               n_buckets: int) -> int | None:
    """``bucket_of`` evaluated on the driver for concrete key values typed
    as the key columns — Spark's ``pmod(xxhash64(...), n_buckets)``: the
    hash is chained across columns from seed 42 and null components are
    skipped. Returns None for a key type this port does not cover (or a
    value whose Python type does not match its column); the caller then
    evaluates ``bucket_of`` in Spark."""
    h = _SPARK_SEED
    for v, dt in zip(values, types, strict=True):
        if v is None:
            continue
        data = _key_bytes(v, dt)
        if data is None:
            return None
        h = _xxh64(data, h)
    signed = h - (1 << 64) if h >> 63 else h
    return signed % n_buckets
