"""Spark-compatible XXH64 in pure Python.

Replicates the semantics of Spark's ``xxhash64`` SQL expression (public
source: ``org.apache.spark.sql.catalyst.expressions.XXH64`` /
``HashExpression`` in spark/sql/catalyst/expressions/hash.scala) so the
golden generator can reproduce engine checksums (lineage bit_xor folds)
without Spark:

- multi-column: seed 42, then for each non-null column in order the running
  hash becomes the seed for that column's hash;
- int/long columns hash via the 4-/8-byte primitive paths;
- strings hash their UTF-8 bytes via the reference xxHash64 block layout
  (what Spark produces for contiguous UTF8String payloads);
  tests/test_xxh64.py pins every path against ``F.xxhash64`` directly over
  a spread of lengths and types, so a Spark-side deviation would fail
  loudly here rather than corrupt a golden.

All arithmetic is in uint64 (masked Python ints).
"""

from __future__ import annotations

_M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & _M
    h ^= h >> 29
    h = (h * P3) & _M
    h ^= h >> 32
    return h


def hash_long(value: int, seed: int) -> int:
    """XXH64.hashLong — 8-byte primitive path (bigint columns)."""
    value &= _M  # two's complement view of negative longs
    h = (seed + P5 + 8) & _M
    h ^= (_rotl((value * P2) & _M, 31) * P1) & _M
    h = (_rotl(h, 27) * P1 + P4) & _M
    return _fmix(h)


def hash_int(value: int, seed: int) -> int:
    """XXH64.hashInt — 4-byte primitive path (int columns)."""
    h = (seed + P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * P1) & _M
    h = (_rotl(h, 23) * P2 + P3) & _M
    return _fmix(h)


def _stripe(v: int, k: int) -> int:
    return (_rotl((v + k * P2) & _M, 31) * P1) & _M


def hash_bytes(data: bytes, seed: int) -> int:
    """String/binary columns (UTF-8 bytes): reference xxHash64 layout
    (32-byte stripes → total length → 8-byte words → 4-byte word → bytes),
    which is what Spark's string hashing produces — pinned empirically
    against ``F.xxhash64`` over lengths 0..100 in tests/test_xxh64.py."""
    length = len(data)
    i = 0
    if length >= 32:
        v1 = (seed + P1 + P2) & _M
        v2 = (seed + P2) & _M
        v3 = seed & _M
        v4 = (seed - P1) & _M
        while i <= length - 32:
            v1 = _stripe(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _stripe(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _stripe(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _stripe(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * P2) & _M, 31) * P1) & _M
            h = (h * P1 + P4) & _M
    else:
        h = (seed + P5) & _M
    h = (h + length) & _M
    while i <= length - 8:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((k * P2) & _M, 31) * P1) & _M
        h = (_rotl(h, 27) * P1 + P4) & _M
        i += 8
    if i + 4 <= length:
        k = int.from_bytes(data[i : i + 4], "little")
        h ^= (k * P1) & _M
        h = (_rotl(h, 23) * P2 + P3) & _M
        i += 4
    while i < length:
        h ^= (data[i] * P5) & _M
        h = (_rotl(h, 11) * P1) & _M
        i += 1
    return _fmix(h)


def xxhash64_row(values: list) -> int:
    """Spark ``xxhash64(col, ...)``: start from Spark's seed 42, chain the
    running hash as the next column's seed; skip nulls; return SIGNED int64 (Spark's output type).

    Supported column types (what the engine's checksums use): str (UTF-8
    bytes), int tagged by width via Python bools is ambiguous — pass ints
    as ``("int", v)`` / ``("long", v)`` tuples, or plain str.
    """
    h = 42
    for v in values:
        if v is None:
            continue
        if isinstance(v, str):
            h = hash_bytes(v.encode("utf-8"), h)
        elif isinstance(v, tuple) and v[0] == "int":
            h = hash_int(v[1], h)
        elif isinstance(v, tuple) and v[0] == "long":
            h = hash_long(v[1], h)
        else:
            raise TypeError(f"unsupported value for xxhash64_row: {v!r}")
    return h - (1 << 64) if h >= (1 << 63) else h
