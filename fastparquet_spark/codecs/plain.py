"""PLAIN encoding for all Parquet physical types, vectorized.

Semantics per the reference (fastparquet/encoding.py:24-41 read;
fastparquet/writer.py:347-353 write; fastparquet/speedups.pyx:55-118
byte-array pack/unpack; bool bit order fastparquet/writer.py:238-265):

- BOOLEAN      -> bit-packed, LSB-first (``np.packbits(bitorder='little')``)
- INT32/INT64/FLOAT/DOUBLE -> raw little-endian buffers
- BYTE_ARRAY   -> concat of ``<uint32 len><bytes>``
- FIXED_LEN_BYTE_ARRAY -> raw concat of fixed-width slots
"""

from __future__ import annotations

import numpy as np

from fastparquet_spark.codecs.compression import byte_view

# Parquet physical type ids (reference parquet_thrift ttypes.py:27-34)
BOOLEAN, INT32, INT64, INT96, FLOAT, DOUBLE, BYTE_ARRAY, FIXED = range(8)

_NP_BY_TYPE = {INT32: "<i4", INT64: "<i8", FLOAT: "<f4", DOUBLE: "<f8"}


def pack_byte_array(lengths: np.ndarray, data: np.ndarray, head=b""):
    """Frame variable-length byte strings as ``<u4 len><bytes>...``.

    ``data`` is the concatenation of all strings (uint8), ``lengths``
    their byte lengths — i.e. exactly an Arrow binary array's buffers.
    ``head`` (a v1 page's level bytes) is written in front of the
    framing in the same buffer.  Returns a bytes-like buffer.

    Implementation: the C framing kernel; without a compiler,
    elementwise C-speed concat via Arrow
    ``binary_join_element_wise`` of a fixed_size_binary(4) prefix array
    (the raw little-endian u4 lengths buffer) with the payload array —
    one pass, no per-row Python and no per-byte scatter (contrast with
    the reference's per-object loop, fastparquet/speedups.pyx:55-89).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(lengths)
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    total_data = int(lengths.sum())
    if n == 0:
        return head
    from fastparquet_spark.codecs.native import pack_byte_array_native

    res = pack_byte_array_native(lengths, np.asarray(data)[:total_data], head)
    if res is not None:
        return byte_view(res)
    # int32 Arrow offsets silently wrap past 2 GiB — switch to the
    # 64-bit-offset types for huge chunks (fat-string row groups)
    large = total_data + 4 * n >= 2**31 - 8
    btype = pa.large_binary() if large else pa.binary()
    odt = np.int64 if large else np.int32
    prefix = pa.Array.from_buffers(
        pa.binary(4), n, [None, pa.py_buffer(lengths.astype("<u4"))],
    ).cast(btype)
    offsets = np.empty(n + 1, dtype=odt)
    offsets[0] = 0
    offsets[1:] = np.cumsum(lengths)  # fits odt by the `large` switch
    payload = pa.Array.from_buffers(
        btype, n,
        [None, pa.py_buffer(offsets),
         pa.py_buffer(np.ascontiguousarray(data[:total_data]))],
    )
    sep = pa.scalar(b"", type=btype)
    joined = pc.binary_join_element_wise(prefix, payload, sep)
    framed = byte_view(joined.buffers()[2])[: 4 * n + total_data]
    return b"".join((head, framed)) if len(head) else framed


def unpack_byte_array(buf, count: int, offset: int = 0) -> tuple[np.ndarray, np.ndarray, int]:
    """Parse ``<u4 len><bytes>`` framing; returns (lengths, data, next_pos).

    The length prefixes are position-dependent so parsing is inherently
    sequential: the C kernel walks them at memcpy speed; the Python
    loop below is the no-compiler fallback.
    """
    from fastparquet_spark.codecs.native import unpack_byte_array_native

    res = unpack_byte_array_native(buf, count, offset)
    if res is not None:
        return res
    mv = memoryview(buf)
    lengths = np.empty(count, dtype=np.int64)
    pos = offset
    for i in range(count):
        ln = int.from_bytes(mv[pos:pos + 4], "little")
        lengths[i] = ln
        pos += 4 + ln
    total = int(lengths.sum())
    data = np.empty(total, dtype=np.uint8)
    src = np.frombuffer(buf, dtype=np.uint8)
    cum = np.concatenate(([0], np.cumsum(lengths)))
    starts = offset + 4 * (np.arange(count, dtype=np.int64) + 1) + cum[:-1]
    if total:
        within = np.arange(total, dtype=np.int64) - np.repeat(cum[:-1], lengths)
        data[:] = src[np.repeat(starts, lengths) + within]
    return lengths, data, pos


def encode_plain(values, ptype: int, head=b""):
    """PLAIN-encode a numpy array (or (lengths, data) pair for BYTE_ARRAY).

    Returns a bytes-like buffer, not a ``bytes`` copy: a view of the
    values themselves where their layout already is PLAIN.  ``head`` (a
    v1 page's level bytes) is written in front of the values in the same
    buffer, so a page body is built in one allocation."""
    if ptype == BYTE_ARRAY:
        lengths, data = values
        return pack_byte_array(np.asarray(lengths),
                               np.asarray(data, dtype=np.uint8), head)
    if ptype == BOOLEAN:
        body = np.packbits(np.ascontiguousarray(values, dtype=np.uint8),
                           bitorder="little")
    elif ptype in _NP_BY_TYPE:
        body = np.ascontiguousarray(values).astype(_NP_BY_TYPE[ptype],
                                                   copy=False)
    elif ptype in (FIXED, INT96):
        # both are fixed-width byte rows ((n, width) uint8); INT96 rows
        # are 12 bytes: nanos-of-day (8B LE) + Julian day (4B LE)
        body = np.ascontiguousarray(values, dtype=np.uint8)
    else:
        raise ValueError(f"unsupported physical type {ptype}")
    return b"".join((head, byte_view(body))) if len(head) else byte_view(body)


def decode_plain(buf, ptype: int, count: int, offset: int = 0, type_length: int = 0):
    """Decode PLAIN values; returns (values, next_pos)."""
    if ptype == BOOLEAN:
        nbytes = (count + 7) // 8
        bits = np.unpackbits(
            np.frombuffer(buf, np.uint8, count=nbytes, offset=offset), bitorder="little"
        )[:count]
        return bits.astype(bool), offset + nbytes
    if ptype in _NP_BY_TYPE:
        dt = np.dtype(_NP_BY_TYPE[ptype])
        vals = np.frombuffer(buf, dtype=dt, count=count, offset=offset)
        return vals, offset + count * dt.itemsize
    if ptype == BYTE_ARRAY:
        lengths, data, pos = unpack_byte_array(buf, count, offset)
        return (lengths, data), pos
    if ptype == FIXED:
        nbytes = count * type_length
        raw = np.frombuffer(buf, np.uint8, count=nbytes, offset=offset)
        return raw.reshape(count, type_length), offset + nbytes
    if ptype == INT96:
        # 12-byte rows: 8 bytes nanos-of-day + 4 bytes Julian day
        # (reference fastparquet/encoding.py:24-41 'S12' path)
        nbytes = count * 12
        raw = np.frombuffer(buf, np.uint8, count=nbytes, offset=offset)
        return raw.reshape(count, 12), offset + nbytes
    raise ValueError(f"unsupported physical type {ptype}")
