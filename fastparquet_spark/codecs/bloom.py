"""Split-block Bloom filters (parquet spec BloomFilter.md) + XXH64.

The needle-in-a-haystack operator at 100 TB: a point predicate on a
high-cardinality unsorted column (commit hash, doc id) can't be pruned
by min/max stats — every chunk's range covers everything — but a bloom
check answers "definitely not in this row group" from a few KB of
footer-adjacent bytes, no data pages read.  The reference has no bloom
support at all; parquet-java (Spark) both writes and reads this exact
structure, which is the differential oracle the tests use.

Layout (public spec):
- filter = z 256-bit blocks; each block = 8 little-endian uint32 words;
- insert/check of a 64-bit hash h:
  block   = (((h >> 32) * z) >> 32)            (fastrange on high bits)
  word i  gets bit ((uint32(h) * SALT[i]) mod 2^32) >> 27, i = 0..7;
- hash = XXH64(plain-encoded value bytes, seed=0).

XXH64 is implemented twice: a C kernel in codecs/native.py for bulk
arrays and the pure-numpy/python form below (bit-identical; the tests
also check the public XXH64 reference vectors).
"""

from __future__ import annotations

import numpy as np

SALT = np.array([0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
                 0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31],
                dtype=np.uint32)

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """Reference XXH64 (public algorithm), scalar python."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")
                v = _rotl((v + lane * _P2) & _M64, 31) * _P1 & _M64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ (_rotl((v * _P2) & _M64, 31) * _P1 & _M64)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        lane = int.from_bytes(data[i:i + 8], "little")
        h = ((_rotl(h ^ (_rotl((lane * _P2) & _M64, 31) * _P1 & _M64), 27)
              * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i:i + 4], "little")
        h = ((_rotl(h ^ ((lane * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def xxh64_many(lengths: np.ndarray, data: np.ndarray,
               seed: int = 0) -> np.ndarray:
    """XXH64 per variable-length value (concatenated in ``data``).
    Uses the C kernel when available, else the scalar fallback."""
    from fastparquet_spark.codecs import native

    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    data = np.ascontiguousarray(data, dtype=np.uint8)
    out = native.xxh64_many_native(lengths, data, seed)
    if out is not None:
        return out
    res = np.empty(len(lengths), dtype=np.uint64)
    mem = data.tobytes()
    pos = 0
    for i, ln in enumerate(lengths):
        res[i] = xxh64(mem[pos:pos + ln], seed)
        pos += int(ln)
    return res


def hash_values(values, ptype: int, seed: int = 0) -> np.ndarray:
    """XXH64 of each value's PLAIN-encoded bytes (parquet-java's bloom
    input contract).  ``values``: the writer's _extract output — numpy
    numerics, (n, w) uint8 rows, or (lengths, data) for BYTE_ARRAY."""
    if isinstance(values, tuple):
        lengths, data = values
        return xxh64_many(lengths, data, seed)
    v = np.asarray(values)
    if v.ndim == 2:  # FLBA / INT96 rows
        w = v.shape[1]
        lengths = np.full(len(v), w, dtype=np.int64)
        return xxh64_many(lengths, v.reshape(-1), seed)
    from fastparquet_spark.codecs.plain import _NP_BY_TYPE

    dt = np.dtype(_NP_BY_TYPE[ptype])
    raw = np.ascontiguousarray(v).astype(dt, copy=False).view(np.uint8)
    lengths = np.full(len(v), dt.itemsize, dtype=np.int64)
    return xxh64_many(lengths, raw, seed)


def bloom_fpps(bloom_filters: dict | None, nested=()) -> dict:
    """A writer's ``bloom_filters`` ({column: fpp or True}, True = 1%)
    as {column: fpp}.  Blooms are built per flat chunk: a ``nested``
    (LIST, MAP or STRUCT) column named here raises instead of silently
    getting none; a name outside the schema is left alone."""
    bad = set(bloom_filters or ()) & set(nested)
    if bad:
        raise ValueError(
            f"bloom_filters must name flat columns; LIST, MAP or "
            f"STRUCT columns given: {sorted(bad)}")
    return {k: (0.01 if v is True else float(v))
            for k, v in (bloom_filters or {}).items()}


def build_bloom(values, ptype: int, fpp: float) -> "SplitBlockBloom | None":
    """One column chunk's bloom filter over its non-null ``values``
    (``hash_values`` input), sized for the chunk's ACTUAL distinct
    hashes at ``fpp``; None for a BOOLEAN or empty chunk."""
    from fastparquet_spark.codecs.plain import BOOLEAN

    if ptype == BOOLEAN:
        return None
    h = hash_values(values, ptype)
    if not len(h):
        return None
    bf = SplitBlockBloom(SplitBlockBloom.optimal_bytes(len(np.unique(h)), fpp))
    bf.insert(h)
    return bf


class SplitBlockBloom:
    """The spec's SBBF over a uint32 word matrix of shape (z, 8)."""

    def __init__(self, num_bytes: int):
        num_bytes = max(32, 1 << int(np.ceil(np.log2(num_bytes))))
        self.words = np.zeros((num_bytes // 32, 8), dtype=np.uint32)

    @staticmethod
    def optimal_bytes(ndv: int, fpp: float = 0.01) -> int:
        """Spec's size formula: c bits/value for the target fpp, rounded
        up to a power-of-two byte count (min one block)."""
        if ndv <= 0:
            return 32
        bits = -8 * ndv / np.log(1 - fpp ** 0.125)
        return max(32, 1 << int(np.ceil(np.log2(max(bits / 8, 32)))))

    def _addr(self, h: np.ndarray):
        h = np.ascontiguousarray(h, dtype=np.uint64)
        z = np.uint64(len(self.words))
        blk = ((h >> np.uint64(32)) * z) >> np.uint64(32)
        low = h.astype(np.uint32)  # truncates to the low 32 bits
        bits = ((low[:, None] * SALT[None, :]) >> np.uint32(27)).astype(np.uint32)
        return blk.astype(np.int64), np.uint32(1) << bits  # (n,), (n, 8)

    def insert(self, h: np.ndarray) -> None:
        blk, masks = self._addr(h)
        np.bitwise_or.at(self.words, (blk[:, None],
                                      np.arange(8)[None, :]), masks)

    def might_contain(self, h: np.ndarray) -> np.ndarray:
        blk, masks = self._addr(h)
        return ((self.words[blk] & masks) == masks).all(axis=1)

    def tobytes(self) -> bytes:
        return self.words.astype("<u4").tobytes()

    @classmethod
    def frombytes(cls, raw: bytes) -> "SplitBlockBloom":
        obj = cls.__new__(cls)
        obj.words = np.frombuffer(raw, dtype="<u4").reshape(-1, 8).copy()
        return obj
