"""RLE / bit-packed hybrid encoder + decoder (Parquet "RLE" encoding).

Wire format per the reference reader (fastparquet/cencoding.pyx:22-50,
127-167,190-211):

- run header = ULEB128 varint:
    * ``count << 1``          -> RLE run: value repeated ``count`` times,
      value stored in ``(width+7)//8`` little-endian bytes;
    * ``(groups << 1) | 1``   -> bit-packed run of ``groups*8`` values at
      ``width`` bits, LSB-first.
- optional leading little-endian uint32 byte-length of the run stream
  (used for v1 definition levels and dictionary codes' framing variants).

The reference ENCODER only ever emits one giant bit-packed run
(fastparquet/writer.py:356-366 "write a single block, broken into maximum
8-byte words"); to beat its sizes we do real run detection: long runs of
identical values become RLE runs, gaps between them (padded to groups of
8, as the format requires mid-stream) become bit-packed runs.  The
Python-level loop is over *emitted runs*, never over values.
"""

from __future__ import annotations

import numpy as np

from fastparquet_spark.codecs.bitpack import pack_bits, unpack_bits
from fastparquet_spark.codecs.compression import byte_view
from fastparquet_spark.codecs.varint import uvarint_encode, uvarint_decode

# An RLE run costs ~1-5 header bytes + value bytes; a value inside a
# bit-packed run costs width/8 bytes.  8 is the format's group size and
# the floor (runs must leave the preceding bit-packed run a multiple
# of 8 values).
MIN_RLE_RUN = 8


def _min_rle_run(width: int) -> int:
    """Size break-even run length at ``width``: the RLE run must save
    more bit-packed bytes (run*width/8) than it spends on its own
    header+value plus the extra bit-packed run header the split
    introduces (~4 bytes total).  At width 1 that is 40 values — an
    8-long RLE run there COSTS ~3 bytes to save 1, which is how naive
    run detection emits a LARGER stream than one bit-packed run on
    90%-ones definition levels (measured 299 kB vs 250 kB on 2M
    levels)."""
    return max(MIN_RLE_RUN, -(-8 * ((width + 7) // 8 + 4) // width))


def _rle_run(value: int, count: int, width: int) -> bytes:
    nbytes = (width + 7) // 8
    return uvarint_encode(count << 1) + int(value).to_bytes(nbytes, "little")


def _bp_run(values: np.ndarray, width: int) -> bytes:
    n = len(values)
    groups = (n + 7) // 8
    if n % 8:
        values = np.concatenate([values, np.zeros(groups * 8 - n, dtype=values.dtype)])
    return uvarint_encode((groups << 1) | 1) + pack_bits(values, width)


def encode_hybrid(values: np.ndarray, width: int, prepend_length: bool = False):
    """Encode non-negative ints as an RLE/bit-packed hybrid stream;
    returns a bytes-like buffer."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    parts: list[bytes] = []
    if n:
        if width == 0:
            # all values are 0 and the reader knows it: single RLE run
            parts.append(uvarint_encode(n << 1))
        else:
            min_run = _min_rle_run(width)
            # run-density gate on a bounded sample: when equal-neighbor
            # pairs are rarer than 1/min_run, runs >= min_run are
            # (geometrically) negligible and detection can't pay for
            # its pass — emit ONE bit-packed run, the reference
            # writer's exact scheme (fastparquet/writer.py:356-366),
            # through the C bit packer.  Deterministic, so the native
            # and numpy paths stay bit-identical.
            head = v[:65536]
            eq = int(np.count_nonzero(head[1:] == head[:-1]))
            if len(head) > min_run and eq * min_run < len(head):
                body = _bp_run(v, width)
                if prepend_length:
                    return len(body).to_bytes(4, "little") + body
                return body
            from fastparquet_spark.codecs.native import encode_hybrid_native

            body = encode_hybrid_native(v, width, min_run)
            if body is not None:
                body = byte_view(body)
                if prepend_length:
                    return len(body).to_bytes(4, "little") + body
                return body
            # run detection, vectorized
            change = np.nonzero(np.diff(v))[0] + 1
            starts = np.concatenate(([0], change)).astype(np.int64)
            lengths = np.diff(np.concatenate((starts, [n])))
            long_idx = np.nonzero(lengths >= min_run)[0]
            pos = 0
            for ri in long_idx:
                s, ln = int(starts[ri]), int(lengths[ri])
                # mid-stream bit-packed runs must hold a multiple of 8 real
                # values: steal leading values of the run into the gap
                extra = (-(s - pos)) % 8
                s2, ln2 = s + extra, ln - extra
                if ln2 < min_run:
                    continue
                if s2 > pos:
                    parts.append(_bp_run(v[pos:s2], width))
                parts.append(_rle_run(int(v[s2]), ln2, width))
                pos = s2 + ln2
            if pos < n:
                # trailing run may be zero-padded; readers clamp by count
                parts.append(_bp_run(v[pos:], width))
    body = b"".join(parts)
    if prepend_length:
        return len(body).to_bytes(4, "little") + body
    return body


def decode_hybrid(buf, width: int, count: int, offset: int = 0,
                  length: int | None = None) -> tuple[np.ndarray, int]:
    """Decode up to ``count`` values; returns (uint64 ndarray, next_pos).

    Mirrors ``read_rle_bit_packed_hybrid`` (cencoding.pyx:190-211): if
    ``length`` is None a leading uint32 byte-length is read first.
    """
    pos = offset
    if length is None:
        length = int.from_bytes(bytes(buf[pos:pos + 4]), "little")
        pos += 4
    end = pos + length
    if width == 0:
        # a single-distinct-value dictionary page: parquet-java emits
        # bit-width 0 and may flush <8 buffered indices as a BIT-PACKED
        # run (zero data bytes) — every value is 0 by definition
        return np.zeros(count, dtype=np.uint64), end
    out = np.empty(count, dtype=np.uint64)
    filled = 0
    while pos < end and filled < count:
        header, pos = uvarint_decode(buf, pos)
        if header & 1:
            groups = header >> 1
            nvals = groups * 8
            nbytes = (nvals * width + 7) // 8
            # writers may truncate the final run at the byte holding the
            # last real value (e.g. Impala); clamp like the reference
            # reader (cencoding.pyx:141-167)
            avail = min(nbytes, end - pos)
            nvals = min(nvals, (avail * 8) // width)
            vals = unpack_bits(buf, width, nvals, offset=pos)
            pos += avail
            take = min(nvals, count - filled)
            out[filled:filled + take] = vals[:take]
            filled += take
        else:
            run = header >> 1
            nbytes = (width + 7) // 8
            value = int.from_bytes(bytes(buf[pos:pos + nbytes]), "little")
            pos += nbytes
            take = min(run, count - filled)
            out[filled:filled + take] = value
            filled += take
    if filled < count:
        raise ValueError(f"hybrid stream exhausted: {filled}/{count} values")
    return out, end
