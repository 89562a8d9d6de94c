"""Modern parquet value encodings: BYTE_STREAM_SPLIT (9),
DELTA_LENGTH_BYTE_ARRAY (6) and DELTA_BYTE_ARRAY (7, read side).

These are spec encodings the REFERENCE reader does not know
(fastparquet/core.py:130-165 handles PLAIN / dict / RLE /
DELTA_BINARY_PACKED only), so the writer offers them exclusively in
``compat='modern'`` mode or by explicit per-column override — the
default write path stays inside the reference-readable set, preserving
the "fastparquet's own reader reads us" invariant.  The READ side is
unconditional: our reader decodes more of the ecosystem's files than
the reference does (pyarrow/Spark emit these for floats and strings).

- BYTE_STREAM_SPLIT: the k-th bytes of every value are stored together
  (one stream per byte lane).  A no-op by itself; it makes float
  exponent/sign bytes adjacent, which block codecs then compress far
  better — the classic trick for embedding vectors.
- DELTA_LENGTH_BYTE_ARRAY: all lengths as one DELTA_BINARY_PACKED int32
  block, then the concatenated bytes — drops PLAIN's 4-byte-per-value
  framing and separates the (compressible) length stream from payload.
- DELTA_BYTE_ARRAY: prefix-length DELTA block + DELTA_LENGTH suffixes;
  values share prefixes with their predecessor (sorted paths, URLs).
"""

from __future__ import annotations

import numpy as np

from fastparquet_spark.codecs.compression import byte_view
from fastparquet_spark.codecs.delta import delta_decode, delta_encode

# physical type ids (parquet spec, same values as format.metadata.Type)
_INT32, _INT64, _FLOAT, _DOUBLE, _FLBA = 1, 2, 4, 5, 7

_WIDTHS = {_INT32: 4, _INT64: 8, _FLOAT: 4, _DOUBLE: 8}
_DTYPES = {_INT32: "<i4", _INT64: "<i8", _FLOAT: "<f4", _DOUBLE: "<f8"}


def bss_width(ptype: int, type_length: int = 0) -> int:
    return type_length if ptype == _FLBA else _WIDTHS[ptype]


def bss_encode(values, ptype: int, type_length: int = 0):
    """BYTE_STREAM_SPLIT a numpy value array ((n, w) uint8 for FLBA)."""
    w = bss_width(ptype, type_length)
    if ptype == _FLBA:
        rows = np.ascontiguousarray(values, dtype=np.uint8).reshape(-1, w)
    else:
        v = np.ascontiguousarray(values).astype(_DTYPES[ptype], copy=False)
        rows = v.view(np.uint8).reshape(-1, w)
    return byte_view(np.ascontiguousarray(rows.T))


def bss_decode(buf, ptype: int, count: int, offset: int = 0,
               type_length: int = 0):
    """Inverse of :func:`bss_encode`; returns (values, next_pos)."""
    w = bss_width(ptype, type_length)
    raw = np.frombuffer(buf, np.uint8, count=count * w, offset=offset)
    rows = np.ascontiguousarray(raw.reshape(w, count).T)
    if ptype == _FLBA:
        return rows, offset + count * w
    return rows.reshape(-1).view(_DTYPES[ptype]), offset + count * w


def dlba_encode(lengths: np.ndarray, data: np.ndarray) -> bytes:
    """DELTA_LENGTH_BYTE_ARRAY: delta-packed int32 lengths + raw bytes."""
    head = delta_encode(np.asarray(lengths, dtype=np.int64), bit_width=32)
    return b"".join((head, np.ascontiguousarray(data, dtype=np.uint8)))


def dlba_decode(buf, count: int, offset: int = 0):
    """Returns ((lengths, data), next_pos) — the reader's BYTE_ARRAY shape."""
    lengths, pos = delta_decode(buf, offset=offset, count=count, bit_width=32)
    lengths = np.asarray(lengths, dtype=np.int64)
    total = int(lengths.sum())
    data = np.frombuffer(buf, np.uint8, count=total, offset=pos)
    return (lengths, data), pos + total


_DBA_PREFIX_CAP = 64  # bytes of common prefix the encoder looks for


def dba_encode(lengths: np.ndarray, data: np.ndarray) -> bytes:
    """DELTA_BYTE_ARRAY write: per-value common-prefix length vs the
    PREVIOUS value (delta block) + the suffixes as a DELTA_LENGTH block.
    Prefix search is vectorized by comparing the first
    ``_DBA_PREFIX_CAP`` bytes of adjacent values as a padded matrix —
    a shorter-than-maximal prefix is always legal (less compression,
    never wrong), so the cap costs nothing on typical sorted keys and
    keeps the kernel a handful of numpy ops."""
    lengths = np.asarray(lengths, dtype=np.int64)
    data = np.ascontiguousarray(data, dtype=np.uint8)
    n = len(lengths)
    if n == 0 or len(data) == 0:  # empty column / all-empty strings
        return b"".join((delta_encode(np.zeros(n, np.int64), bit_width=32),
                         dlba_encode(lengths, data[:0])))
    starts = np.concatenate(([0], np.cumsum(lengths)))[:-1]
    C = _DBA_PREFIX_CAP
    col = np.arange(C)
    idx = starts[:, None] + col[None, :]
    valid = col[None, :] < lengths[:, None]
    # int16 matrix with -1 padding: padding never equals a real byte,
    # so length differences terminate the prefix automatically
    mat = np.full((n, C), -1, dtype=np.int16)
    np.copyto(mat, data[np.minimum(idx, max(len(data) - 1, 0))],
              where=valid)
    eq = mat[1:] == mat[:-1]
    run = np.cumprod(eq, axis=1, dtype=np.int32)  # 1 while still equal
    prefix = np.zeros(n, dtype=np.int64)
    prefix[1:] = run.sum(axis=1)
    # pad rows identical within the cap: prefix may not exceed len
    np.minimum(prefix, lengths, out=prefix)
    np.minimum(prefix[1:], lengths[:-1], out=prefix[1:])
    suf_lens = lengths - prefix
    total = int(suf_lens.sum())
    within = np.arange(total, dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(suf_lens)))[:-1], suf_lens)
    suf_data = data[np.repeat(starts + prefix, suf_lens) + within]
    return b"".join((delta_encode(prefix, bit_width=32),
                     dlba_encode(suf_lens, suf_data)))


def dba_decode(buf, count: int, offset: int = 0):
    """DELTA_BYTE_ARRAY read: prefix lengths (delta block) + suffixes
    (DELTA_LENGTH block).  Reconstruction is inherently sequential
    (each value references its predecessor), so this is a plain loop —
    a read-compat path for externally-written files, not a hot kernel."""
    prefix, pos = delta_decode(buf, offset=offset, count=count, bit_width=32)
    (suf_lens, suf_data), pos = dlba_decode(buf, count, offset=pos)
    prefix = np.asarray(prefix, dtype=np.int64)
    suf_off = np.concatenate(([0], np.cumsum(suf_lens)))
    sbytes = suf_data.tobytes()
    out: list[bytes] = []
    prev = b""
    for i in range(count):
        prev = prev[: prefix[i]] + sbytes[suf_off[i]:suf_off[i + 1]]
        out.append(prev)
    lengths = np.fromiter((len(v) for v in out), dtype=np.int64, count=count)
    data = np.frombuffer(b"".join(out), dtype=np.uint8)
    return (lengths, data), pos
