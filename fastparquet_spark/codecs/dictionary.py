"""Dictionary encoding: hash-based build + PLAIN_DICTIONARY page framing.

The reference only dictionary-encodes columns the USER already made
pandas-categorical (fastparquet/writer.py:481-517); our build is
automatic and hash-based (Arrow ``dictionary_encode`` — a vectorized
hash table), per the project north_star.

Data-page framing matches ``encode_dict`` (fastparquet/writer.py:356-366)
as read by ``read_data_page`` (fastparquet/core.py:138-163): one byte of
bit width, then an RLE/bit-packed hybrid stream of codes WITHOUT a
length prefix.  Unlike the reference (single bit-packed run, byte-aligned
widths only) we use the minimal bit width and real RLE runs — strictly
smaller output, still standard-decodable.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from fastparquet_spark.codecs.rle import decode_hybrid, encode_hybrid
from fastparquet_spark.codecs.varint import width_from_max_int


def dict_build(arr: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """Vectorized hash-dictionary build: returns (codes int32, labels).

    Null slots get code -1 (callers strip nulls before paging, like the
    reference's definition-level split, fastparquet/writer.py:444-466).
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    denc = arr.dictionary_encode()
    codes = denc.indices.to_numpy(zero_copy_only=False)
    codes = np.where(np.isnan(codes), -1, codes).astype(np.int32) if codes.dtype.kind == "f" \
        else codes.astype(np.int32)
    return codes, denc.dictionary


def dict_data_page(codes: np.ndarray, num_labels: int) -> bytes:
    """<1 byte width><hybrid runs of codes> (no length prefix)."""
    width = max(1, width_from_max_int(max(num_labels - 1, 0)))
    return bytes([width]) + encode_hybrid(codes.astype(np.uint64), width)


def dict_decode_page(buf, count: int, offset: int = 0, length: int | None = None) -> np.ndarray:
    """Decode a PLAIN_/RLE_DICTIONARY data page body (from ``offset``,
    ``length`` bytes after the width byte, else to the end) back to
    int64 codes, the dtype a dictionary is indexed with."""
    width = buf[offset]
    if length is None:
        length = len(buf) - offset - 1
    codes, _ = decode_hybrid(buf, width, count, offset=offset + 1, length=length)
    return codes.view(np.int64)
