"""LSB-first bit-packing at arbitrary width, fully vectorized.

Wire format matches the reference's ``encode_bitpacked`` /
``read_bitpacked`` payload (fastparquet/cencoding.pyx:127-167,252-269):
value ``i`` occupies bits ``[i*width, (i+1)*width)`` of the output,
least-significant bit first within each byte.

Implementation: expand to a (n, width) bit matrix and ``np.packbits``
with ``bitorder='little'`` — one pass, no Python loop.
"""

from __future__ import annotations

import numpy as np

from fastparquet_spark.codecs.compression import byte_view


def pack_bits(values: np.ndarray, width: int):
    """Pack non-negative ints into ``width`` bits each, LSB-first;
    returns a bytes-like buffer."""
    if width == 0 or len(values) == 0:
        return b""
    if width > 64:
        raise ValueError(f"width {width} > 64")
    v = np.ascontiguousarray(values, dtype="<u8")
    if width % 8:
        from fastparquet_spark.codecs.native import pack_bits_native

        res = pack_bits_native(v, width)
        if res is not None:
            return byte_view(res)
    if width % 8 == 0:
        # byte-multiple widths: the LSB-first layout IS the low bytes of
        # each little-endian word — slice, no bit matrix (8x less temp)
        nb = width >> 3
        return v.view(np.uint8).reshape(-1, 8)[:, :nb].tobytes()
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def unpack_bits(buf, width: int, count: int, offset: int = 0) -> np.ndarray:
    """Unpack ``count`` values of ``width`` bits from ``buf[offset:]``.

    Returns uint64 ndarray. Tolerates trailing padding bits, mirroring
    the reference reader's clamp (fastparquet/cencoding.pyx:141-167).
    """
    if width == 0 or count == 0:
        return np.zeros(count, dtype=np.uint64)
    nbytes = (count * width + 7) // 8
    if width % 8:
        from fastparquet_spark.codecs.native import unpack_bits_native

        res = unpack_bits_native(buf, width, count, offset)
        if res is not None:
            return res
    if width % 8 == 0:
        nb = width >> 3
        raw = np.frombuffer(buf, dtype=np.uint8, count=count * nb, offset=offset)
        words = np.zeros((count, 8), dtype=np.uint8)
        words[:, :nb] = raw.reshape(count, nb)
        return words.view("<u8").ravel()
    raw = np.frombuffer(buf, dtype=np.uint8, count=nbytes, offset=offset)
    if width <= 57:
        # every value fits in an 8-byte window starting at its first byte:
        # gather the window, view as uint64, shift, mask — no bit matrix
        padded = np.zeros(nbytes + 8, dtype=np.uint8)
        padded[:nbytes] = raw
        bitpos = np.arange(count, dtype=np.int64) * width
        byte0 = bitpos >> 3
        words = np.ascontiguousarray(
            padded[byte0[:, None] + np.arange(8)]).view("<u8").ravel()
        return (words >> (bitpos & 7).astype(np.uint64)) & \
            np.uint64((1 << width) - 1)
    bits = np.unpackbits(raw, bitorder="little")[: count * width]
    weights = (np.uint64(1) << np.arange(width, dtype=np.uint64))
    return bits.reshape(count, width).astype(np.uint64) @ weights
