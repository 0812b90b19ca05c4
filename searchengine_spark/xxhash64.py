"""Pure-Python XXH64 (public algorithm, github.com/Cyan4973/xxHash spec)
matching Spark's ``xxhash64`` SQL function (seed 42 over UTF-8 bytes for
strings, little-endian 64-bit words for longs).

Wherever Python must reproduce a hash the JVM computes: the Spark-free
oracle's doc_id = xxhash64(url), the query-side term bucket
(``indexer.term_buckets``), and the doc ids that the Python kernels of
``pagerank.extract_edges`` and ``anchors.anchor_occurrences`` derive
from urls. Equality with Spark's builtin is asserted in tests/test_ids.py.
"""

from __future__ import annotations

_M = (1 << 64) - 1
P1 = 11400714785074694791
P2 = 14029467366897019727
P3 = 1609587929392839161
P4 = 9650029242287828579
P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * P2) & _M
    acc = _rotl(acc, 31)
    return (acc * P1) & _M


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * P1) + P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 digest as an UNSIGNED 64-bit int."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & _M
        v2 = (seed + P2) & _M
        v3 = seed & _M
        v4 = (seed - P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * P1) + P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * P1) & _M
        h = ((_rotl(h, 23) * P2) + P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & _M
        h = (_rotl(h, 11) * P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * P2) & _M
    h ^= h >> 29
    h = (h * P3) & _M
    h ^= h >> 32
    return h


def xxh64_signed(data: bytes, seed: int = 42) -> int:
    """Same, as Java/Spark SIGNED 64-bit (two's complement)."""
    u = xxh64(data, seed)
    return u - (1 << 64) if u >= 1 << 63 else u


def spark_xxhash64_str(s: str) -> int:
    """Spark SQL ``xxhash64(string_col)`` (signed)."""
    return xxh64_signed(s.encode("utf-8"), 42)
