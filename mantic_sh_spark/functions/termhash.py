"""Client-side term-id hashing: a pure-Python xxHash64 bit-identical to
Spark's `F.xxhash64(string_col)` (seed 42).

The index keys posting rows by `tid = xxhash64(term)` — term strings
never travel through the build shuffle and are not stored per posting.
Query paths (the distributed engine's driver, the serving reader —
which has no JVM at all) resolve term → tid with THIS function;
`tests/test_termhash.py` locks the two implementations together over
random unicode strings exactly the way the tokenizer is locked across
its three implementations.

xxHash64 is public domain (Yann Collet); this is the reference
algorithm restated in Python integers. Speed is irrelevant here — it
hashes QUERY terms (a handful per request), never corpus data (the
build hashes JVM-side via the Catalyst expression).
"""

from __future__ import annotations

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

# Spark's XxHash64 expression uses seed 42 when none is given
SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _P1) + _P4) & _M64


def xxhash64(data: bytes, seed: int = SPARK_SEED) -> int:
    """Unsigned xxHash64 of `data`."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little")); i += 8
            v2 = _round(v2, int.from_bytes(data[i:i + 8], "little")); i += 8
            v3 = _round(v3, int.from_bytes(data[i:i + 8], "little")); i += 8
            v4 = _round(v4, int.from_bytes(data[i:i + 8], "little")); i += 8
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
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


def term_tid(term: str) -> int:
    """The SIGNED int64 term id exactly as Spark's
    `F.xxhash64(F.col(term))` produces it — the value stored in the
    index's `tid` columns."""
    h = xxhash64(term.encode("utf-8"))
    return h - (1 << 64) if h >= (1 << 63) else h
