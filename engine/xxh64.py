"""Pure-Python XXH64 matching Spark's ``F.xxhash64`` (seed 42).

Used by the ``pyref`` oracle (SURVEY.md §0.2) so that the oracle's URL
fingerprints are byte-identical to the engine's JVM-side
``F.xxhash64(col)`` (SURVEY.md §2.1 C2, BASELINE.json:6 "xxhash64").

Implements the public-domain XXH64 algorithm (Yann Collet's spec).
Spark's ``XxHash64`` expression hashes a string column's UTF-8 bytes with
the standard algorithm; the result is the same 64-bit value interpreted as
a signed long.  ``tests/test_units.py::test_xxh64_spark_parity`` asserts
parity against Spark on a vector of strings and longs.

No pyspark imports here — this module must stay importable by the pure
oracle and by executor-side UDF code without a JVM.
"""

from __future__ import annotations

import struct

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

_M64 = 0xFFFFFFFFFFFFFFFF

SPARK_SEED = 42  # Spark's default xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    acc = _rotl(acc, 31)
    return (acc * _P1) & _M64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _P1) + _P4) & _M64


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """Unsigned XXH64 of ``data``."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        limit = n - 32
        while i <= limit:
            a, b, c, d = struct.unpack_from("<QQQQ", data, i)
            v1 = _round(v1, a)
            v2 = _round(v2, b)
            v3 = _round(v3, c)
            v4 = _round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k1,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, k1)
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k1,) = struct.unpack_from("<I", data, i)
        h ^= (k1 * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _to_signed(u: int) -> int:
    return u - 0x10000000000000000 if u >= 0x8000000000000000 else u


def xxh64_str(s: str, seed: int = SPARK_SEED) -> int:
    """Signed 64-bit hash of a string's UTF-8 bytes == ``F.xxhash64(lit(s))``."""
    return _to_signed(xxh64(s.encode("utf-8"), seed))


def xxh64_long(v: int, seed: int = SPARK_SEED) -> int:
    """Signed hash of a long == ``F.xxhash64(lit(v).cast('long'))``."""
    return _to_signed(xxh64(struct.pack("<q", v), seed))


def xxh64_u(s: str, seed: int = SPARK_SEED) -> int:
    """Unsigned variant for PRNG seeding (synthetic graph, FIXTURES.md §2)."""
    return xxh64(s.encode("utf-8"), seed)
