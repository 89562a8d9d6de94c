"""Parquet file writer: Arrow table -> DataPage-v1 parquet bytes.

Layout per the reference's write path (fastparquet/writer.py:672-695
make_part_file, :540-563 v1 page assembly, :414-641 write_column,
:375-408 make_definitions): ``PAR1`` magic, per row group one column
chunk per column (optional dictionary page + one data page v1), then a
thrift-compact ``FileMetaData`` footer, its length, and ``PAR1``.

Chunk emitter contract.  Every column chunk (flat, paged, v2, LIST
element, MAP key/value, STRUCT field) is written by one emitter,
``ParquetWriter._emit_chunk``, as the reference writes every chunk in
its one ``write_column``.  A leaf hands it an optional dictionary page
and its data pages as ``(first_row, rows, nulls, body, levels, stats)``;
the emitter writes them and builds the one ``ColumnChunk`` meta, the
``ColumnResult`` and, when ``page_rows`` splits flat chunks, the
PageIndex entry.  What varies per leaf:

- flat chunks pick their encoding, may carry a dictionary page, chunk
  stats and a bloom filter, and list their encodings sorted.  Without
  ``page_rows`` one page covers the chunk, reuses the chunk's extracted
  values and level bytes, and carries the chunk stats
  (``distinct_count`` included); with it every ``page_rows`` slice is a
  page with its own stats (no ``distinct_count``);
- a v2 page is a flat page whose levels are written uncompressed in
  front of the compressed body (``levels`` not None);
- nested leaves are one v1 PLAIN page behind their rep/def levels, with
  no stats, bloom filter or PageIndex, and list their encodings in
  write order, ``[RLE, PLAIN]``.

Every primitive leaf's schema element comes from ``_schema_leaf``; LIST
and MAP entry levels come from ``_entry_levels``.  The file bytes are
pinned: ``tests/test_page_golden.py`` hashes every assembly path, every
codec and the native-off fallbacks, and ``scripts/writer_identity.py``
prints the files of every engine and api writer path, to diff between
two checkouts.

Differences from the reference, by design:
- encodings are AUTO-SELECTED from sampled stats (selection.py), not
  static PLAIN-unless-categorical;
- dictionary codes use minimal bit width with real RLE runs (smaller
  than the reference's byte-aligned single bit-packed run);
- sorted/near-sorted int columns get DELTA_BINARY_PACKED, which the
  reference can only decode, never write (cencoding.pyx:213-242).

All hot paths are numpy/Arrow-buffer vectorized — this module runs
inside Spark executors via ``mapInArrow``.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from fastparquet_spark.codecs import compression as comp
from fastparquet_spark.codecs.bloom import bloom_fpps, build_bloom
from fastparquet_spark.codecs.delta import delta_encode
from fastparquet_spark.codecs.dictionary import dict_build, dict_data_page
from fastparquet_spark.codecs.plain import encode_plain
from fastparquet_spark.codecs.rle import encode_hybrid
from fastparquet_spark.codecs.selection import parquet_encoding
from fastparquet_spark.codecs.varint import uvarint_encode
from fastparquet_spark.format import thrift
from fastparquet_spark.format.metadata import (
    MAGIC,
    SPECS,
    ConvertedType,
    Encoding,
    PageType,
    Repetition,
    Type,
)
from fastparquet_spark.io import get_fs

CREATED_BY = "fastparquet_spark 0.1.0"


def _crc(*parts) -> int:
    """Spec page checksum: CRC32 of the bytes FOLLOWING the page header
    (the potentially-compressed page body, given as consecutive
    buffers), as a signed i32 for thrift.  parquet-mr writes and
    (optionally) verifies the same field; pyarrow verifies under
    page_checksum_verification=True."""
    c = 0
    for part in parts:
        c = zlib.crc32(part, c)
    return c - (1 << 32) if c >= (1 << 31) else c


def _length_prefixed(*streams) -> bytes:
    """v1 level streams, each behind its u4 byte length, as one head."""
    return b"".join(part for st in streams
                    for part in (len(st).to_bytes(4, "little"), st))


@dataclass
class ColumnResult:
    name: str
    encoding: str
    num_values: int
    null_count: int
    uncompressed_size: int
    compressed_size: int
    dict_entries: int = 0


@dataclass
class FileResult:
    rows: int
    file_bytes: int
    columns: list[ColumnResult] = field(default_factory=list)


# arrow type -> (physical, converted, cast-needed arrow type or None)
def _map_type(t: pa.DataType):
    if pa.types.is_dictionary(t):
        # pandas Categoricals arrive as Arrow dictionary arrays: decode
        # to the value type via the existing cast plumbing and let
        # codec auto-selection re-dictionary-encode (low cardinality
        # always wins the dict admission) — the reference writes
        # categoricals as PLAIN_DICTIONARY chunks the same way
        # (fastparquet/writer.py:481-521)
        ptype, conv, cast = _map_type(t.value_type)
        return ptype, conv, cast or t.value_type
    if pa.types.is_boolean(t):
        return Type.BOOLEAN, None, None
    if pa.types.is_int8(t):
        return Type.INT32, ConvertedType.INT_8, pa.int32()
    if pa.types.is_int16(t):
        return Type.INT32, ConvertedType.INT_16, pa.int32()
    if pa.types.is_int32(t):
        return Type.INT32, None, None
    if pa.types.is_uint8(t):
        return Type.INT32, ConvertedType.UINT_8, pa.int32()
    if pa.types.is_uint16(t):
        return Type.INT32, ConvertedType.UINT_16, pa.int32()
    if pa.types.is_uint32(t):
        # UINT_32 may only annotate physical INT32 (spec); values are
        # bit-reinterpreted, not range-cast — see _extract.
        return Type.INT32, ConvertedType.UINT_32, None
    if pa.types.is_int64(t):
        return Type.INT64, None, None
    if pa.types.is_uint64(t):
        # bit-reinterpret (a checked cast rejects values >= 2^63)
        return Type.INT64, ConvertedType.UINT_64, None
    if pa.types.is_float16(t):
        # parquet has no half float pre-2.x; upcast like the reference
        # (fastparquet/writer.py:35-57 float16 handling)
        return Type.FLOAT, None, pa.float32()
    if pa.types.is_float32(t):
        return Type.FLOAT, None, None
    if pa.types.is_float64(t):
        return Type.DOUBLE, None, None
    if pa.types.is_timestamp(t):
        return Type.INT64, ConvertedType.TIMESTAMP_MICROS, pa.timestamp("us")
    if pa.types.is_date32(t):
        return Type.INT32, ConvertedType.DATE, None
    if pa.types.is_time32(t):
        return Type.INT32, ConvertedType.TIME_MILLIS, pa.time32("ms")
    if pa.types.is_time64(t):
        return Type.INT64, ConvertedType.TIME_MICROS, pa.time64("us")
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return Type.BYTE_ARRAY, ConvertedType.UTF8, None
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return Type.BYTE_ARRAY, None, None
    if pa.types.is_fixed_size_binary(t):
        return Type.FIXED_LEN_BYTE_ARRAY, None, None
    if pa.types.is_duration(t):
        # timedelta -> TIME_MICROS int64, the reference's timedelta64 map
        # (fastparquet/writer.py:203-205); readers see time64[us]/timedelta
        return Type.INT64, ConvertedType.TIME_MICROS, pa.duration("us")
    if pa.types.is_decimal(t):
        if pa.types.is_decimal256(t):
            # 32-byte storage would silently truncate through the
            # 16-byte extract paths — fail loudly
            raise NotImplementedError(
                "decimal256 columns are not supported; cast to "
                "decimal128 (precision <= 38) first")
        if t.precision <= 18:
            # int64-backed DECIMAL, like the reference's decimal map
            # (fastparquet/writer.py:114-154 object-encoding 'decimal')
            return Type.INT64, ConvertedType.DECIMAL, None
        # precision >18: FIXED_LEN_BYTE_ARRAY(16) big-endian two's
        # complement, the layout the reference reads back
        # (fastparquet/converted_types.py:175-188); our reader's
        # FIXED-decimal branch mirrors it (format/reader.py _to_arrow)
        return Type.FIXED_LEN_BYTE_ARRAY, ConvertedType.DECIMAL, None
    raise TypeError(
        f"unsupported arrow type {t} (LIST/STRUCT/MAP of primitives are "
        "handled a level up in ParquetWriter; deeper nesting is out of "
        "scope — the reference writer is flat-only entirely, "
        "fastparquet/writer.py:472)"
    )


def _logical_type(t: pa.DataType) -> dict | None:
    """Modern LogicalType annotation alongside the legacy converted
    type.  The win is the isAdjustedToUTC flag the converted types
    can't express: TIME written with utc=false is readable by Spark
    4.1 as TimeType (``spark.sql.timeType.enabled``) — pyarrow-written
    TIME files are not (pyarrow stamps utc=true, which Spark rejects)
    — and a TimestampNTZ column keeps its NTZ-ness on read instead of
    collapsing to an instant."""
    if pa.types.is_time32(t):
        return {"TIME": {"isAdjustedToUTC": False, "unit": {"MILLIS": {}}}}
    if pa.types.is_time64(t) or pa.types.is_duration(t):
        return {"TIME": {"isAdjustedToUTC": False, "unit": {"MICROS": {}}}}
    if pa.types.is_timestamp(t):
        return {"TIMESTAMP": {"isAdjustedToUTC": t.tz is not None,
                              "unit": {"MICROS": {}}}}
    return None


def _one_array(arr) -> pa.Array:
    """An Array or ChunkedArray as one Array; a lone chunk is returned as
    is (``combine_chunks`` copies even a single chunk)."""
    if not isinstance(arr, pa.ChunkedArray):
        return arr
    return arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()


def _binary_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(lengths, data) from an Arrow binary/string array's buffers, zero-copy."""
    arr = _one_array(arr)
    big = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    odt = np.int64 if big else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=odt, count=len(arr) + 1, offset=arr.offset * np.dtype(odt).itemsize)
    lengths = np.diff(offs).astype(np.int64)
    data = np.frombuffer(bufs[2], np.uint8, count=int(offs[-1] - offs[0]), offset=int(offs[0])) \
        if len(bufs) > 2 and bufs[2] is not None else np.empty(0, np.uint8)
    return lengths, data


def _decimal_unscaled(arr: pa.Array) -> np.ndarray:
    """Unscaled int64 values of a decimal128 array (p<=18 fits the low
    word; the high word is pure sign extension)."""
    arr = _one_array(arr)
    buf = arr.buffers()[1]
    words = np.frombuffer(buf, dtype="<i8", count=2 * (arr.offset + len(arr)))
    return words.reshape(-1, 2)[arr.offset:, 0][: len(arr)].copy()


def _extract(arr: pa.Array, ptype: int):
    """Non-null physical values as numpy (or (lengths, data))."""
    if arr.null_count:
        arr = arr.drop_null()
    if ptype == Type.INT96:
        # legacy Impala/Hive layout the reference emits for times='int96'
        # (fastparquet/writer.py:192-197): 12-byte rows of nanos-of-day
        # (8B LE) + Julian day (4B LE); our reader's inverse is
        # format/reader.py's INT96 branch
        e = arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
        day = e // 86_400_000_000_000  # floor: pre-1970 lands on prior day
        nod = e - day * 86_400_000_000_000
        out = np.empty((len(e), 12), np.uint8)
        out[:, :8] = nod.astype("<i8").view(np.uint8).reshape(-1, 8)
        out[:, 8:] = (day + 2440588).astype("<i4").view(np.uint8).reshape(-1, 4)
        return out
    if ptype == Type.BYTE_ARRAY:
        return _binary_parts(arr)
    if ptype == Type.FIXED_LEN_BYTE_ARRAY:
        if pa.types.is_decimal(arr.type):
            # decimal128 storage is 16B little-endian; the parquet FIXED
            # decimal layout is big-endian two's complement
            arr2 = _one_array(arr)
            raw = np.frombuffer(arr2.buffers()[1], np.uint8,
                                count=(arr2.offset + len(arr2)) * 16)
            le = raw[arr2.offset * 16:].reshape(len(arr2), 16)
            return np.ascontiguousarray(le[:, ::-1])
        width = arr.type.byte_width
        buf = arr.buffers()[1]
        raw = np.frombuffer(buf, np.uint8,
                            count=(arr.offset + len(arr)) * width)
        return raw[arr.offset * width:].reshape(len(arr), width)
    if pa.types.is_decimal(arr.type):
        return _decimal_unscaled(arr)
    if pa.types.is_duration(arr.type):
        arr = arr.cast(pa.int64())
    if pa.types.is_uint32(arr.type):
        return arr.to_numpy(zero_copy_only=False).view(np.int32)
    if pa.types.is_uint64(arr.type):
        return arr.to_numpy(zero_copy_only=False).view(np.int64)
    if pa.types.is_timestamp(arr.type) or pa.types.is_time64(arr.type):
        arr = arr.cast(pa.int64())
    elif pa.types.is_date32(arr.type) or pa.types.is_time32(arr.type):
        arr = arr.cast(pa.int32())
    return arr.to_numpy(zero_copy_only=False)


def _stat_bytes(value, ptype: int):
    """PLAIN-encode a single stat value (sans length prefix for BYTE_ARRAY,
    like fastparquet/writer.py:504-535)."""
    if value is None:
        return None
    if ptype == Type.INT32:
        return struct.pack("<i", int(value))
    if ptype == Type.INT64:
        return struct.pack("<q", int(value))
    if ptype == Type.FLOAT:
        return struct.pack("<f", float(value))
    if ptype == Type.DOUBLE:
        return struct.pack("<d", float(value))
    if ptype == Type.BOOLEAN:
        return b"\x01" if value else b"\x00"
    if ptype == Type.BYTE_ARRAY:
        raw = value if isinstance(value, bytes) else str(value).encode("utf8")
        return raw if len(raw) <= 64 else None  # don't truncate: drop
    return None


def _def_levels(arr: pa.Array, n: int, v2: bool = False):
    """Definition levels (RLE hybrid) for an OPTIONAL column; v1 carries a
    uint32 length prefix, v2 stores the length in the page header instead
    (fastparquet/writer.py:375-408 make_definitions, :564-591 v2 layout).

    Zero-null fast path = single RLE run, exactly the reference's."""
    if arr.null_count == 0:
        body = uvarint_encode(n << 1) + b"\x01"
    else:
        validity = arr.is_valid().to_numpy(zero_copy_only=False).astype(np.uint8)
        body = encode_hybrid(validity, 1)
    return body if v2 else _length_prefixed(body)


def _encode_values(values, ptype: int, encoding: int, head=b""):
    """``head`` (a v1 page's level bytes) followed by the encoded values,
    as one bytes-like page body.  PLAIN writes the values straight
    behind ``head``, so the body costs no copy beyond the encoding."""
    if encoding == Encoding.PLAIN:
        return encode_plain(values, ptype, head)
    if encoding == Encoding.DELTA_BINARY_PACKED:
        data = delta_encode(values, bit_width=32 if ptype == Type.INT32 else 64)
    elif encoding == Encoding.BYTE_STREAM_SPLIT:
        from fastparquet_spark.codecs.split import bss_encode

        tl = values.shape[1] if getattr(values, "ndim", 1) == 2 else 0
        data = bss_encode(values, ptype, type_length=tl)
    elif encoding == Encoding.DELTA_LENGTH_BYTE_ARRAY:
        from fastparquet_spark.codecs.split import dlba_encode

        data = dlba_encode(*values)
    elif encoding == Encoding.DELTA_BYTE_ARRAY:
        from fastparquet_spark.codecs.split import dba_encode

        data = dba_encode(*values)
    else:
        raise ValueError(f"encoding {encoding} handled elsewhere")
    return b"".join((head, data)) if len(head) else data


def _entry_levels(arr: pa.Array, children: list):
    """Dremel levels of a LIST or MAP column's entries (the write-side
    mirror of format/assembly.py's read side).  A non-null, non-empty
    row holds one entry per element; a null or empty row holds one
    placeholder entry.  Returns the rep levels (0 opens a row), each
    entry's def level from its row (0 null row, 1 empty row, 2 entry)
    and ``children`` (the flat child arrays) cut to the entries of the
    non-null rows, in entry order."""
    n = len(arr)
    row_valid = arr.is_valid().to_numpy(zero_copy_only=False)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                         count=n + 1, offset=arr.offset * 4).astype(np.int64)
    lens = np.diff(offs)
    entries = np.maximum(np.where(row_valid, lens, 0), 1)
    row_start = np.zeros(n, dtype=np.int64)
    np.cumsum(entries[:-1], out=row_start[1:])
    reps = np.ones(int(entries.sum()), dtype=np.uint8)
    reps[row_start] = 0
    defs = np.full(len(reps), 2, dtype=np.uint8)
    defs[row_start[~row_valid]] = 0
    defs[row_start[row_valid & (lens == 0)]] = 1
    children = [c.slice(int(offs[0]), int(offs[-1] - offs[0]))
                for c in children]
    if not row_valid.all():
        # drop the child spans of null rows
        keep = pa.array(np.repeat(row_valid, lens))
        children = [c.filter(keep) for c in children]
    return reps, defs, children


def _nested_leaves(arr: pa.Array, kind: str, name: str, leaves: list):
    """Per leaf chunk of a LIST, MAP or STRUCT column: (ColumnResult
    name, path_in_schema, physical type, cast-to type, leaf values, def
    levels, max def level, leading rep-level streams).

    LIST: def 0 null row / 1 empty list / 2 null element / 3 value.  MAP:
    the same entry geometry with two leaves, a REQUIRED key (max def 2)
    and an OPTIONAL value (max def 3).  STRUCT: def 0 struct null / 1
    field null / 2 value, no repetition."""
    if kind == "struct":
        svalid = arr.is_valid().to_numpy(zero_copy_only=False)
        for leaf, ptype, cast in leaves:
            child = arr.field(leaf)
            cvalid = child.is_valid().to_numpy(zero_copy_only=False) & svalid
            defs = np.where(cvalid, 2, np.where(svalid, 1, 0)).astype(np.uint8)
            yield (f"{name}.{leaf}", [name, leaf], ptype, cast,
                   child.filter(pa.array(cvalid)), defs, 2, ())
        return
    if kind == "list":
        if pa.types.is_large_list(arr.type):
            arr = arr.cast(pa.list_(arr.type.value_type))
        group, children = "list", [arr.values]
    else:
        group, children = "key_value", [arr.keys, arr.items]
    reps, defs, children = _entry_levels(arr, children)
    reps = (encode_hybrid(reps, 1),)
    for (leaf, ptype, cast), values in zip(leaves, children):
        path = [name, group, leaf]
        if leaf == "key":
            yield f"{name}.key", path, ptype, cast, values, defs, 2, reps
            continue
        # an OPTIONAL leaf under the entries: a present entry's level 2
        # becomes 3 for a value, stays 2 for a null value
        vdefs = np.where(defs == 2, 3, defs).astype(np.uint8)
        if values.null_count:
            idx = np.nonzero(defs == 2)[0]
            vdefs[idx[~values.is_valid().to_numpy(zero_copy_only=False)]] = 2
        yield (name if kind == "list" else f"{name}.{leaf}", path, ptype,
               cast, values, vdefs, 3, reps)


def _schema_leaf(name: str, t: pa.DataType, rep: int, int96: bool = False,
                 annotation: bytes | None = None):
    """The SchemaElement of one primitive leaf (flat column, LIST
    element, MAP key/value or STRUCT field), with its physical type and
    the Arrow type its values are cast to before extraction.  Every leaf
    carries the same annotation set: converted type, type_length,
    decimal scale/precision and LogicalType."""
    if int96 and pa.types.is_timestamp(t):
        # legacy INT96 timestamps on request (the reference's
        # times='int96', fastparquet/writer.py:192-197; behavioral
        # spec: its Spark-interop matrix test_aroundtrips.py:
        # 112-137).  INT96 is its own physical type — no converted
        # type, no LogicalType annotation.
        return ({"name": name, "type": Type.INT96, "repetition_type": rep},
                Type.INT96, pa.timestamp("ns"))
    ptype, conv, cast = _map_type(t)
    # JSON/BSON annotations (reference fastparquet/writer.py:114-154
    # object-encoding 'json'/'bson') are requested via Arrow field
    # metadata: {"fpsc:annotation": "json"} on a string column or
    # "bson" on a binary column
    if ptype == Type.BYTE_ARRAY and annotation in (b"json", b"bson"):
        conv = ConvertedType.JSON if annotation == b"json" \
            else ConvertedType.BSON
    elem = {"name": name, "type": ptype, "repetition_type": rep}
    if conv is not None:
        elem["converted_type"] = conv
    if ptype == Type.FIXED_LEN_BYTE_ARRAY:
        elem["type_length"] = t.byte_width
    if conv == ConvertedType.DECIMAL:
        elem["scale"] = t.scale
        elem["precision"] = t.precision
    lt = _logical_type(t)
    if lt is not None:
        elem["logicalType"] = lt
    return elem, ptype, cast


def _page_index(pages: list) -> dict:
    """OffsetIndex and ColumnIndex of one paged chunk from its pages'
    (location, rows, nulls, stats).  A non-null page without valid
    bounds (NaN page, all-0xFF truncated max, unsupported stat shape)
    cannot appear in a ColumnIndex as b"" — parquet-mr omits the whole
    ColumnIndex for the chunk in that case, and so do we (ADVICE r4)."""
    idx = {"offset_index": {"page_locations": [p[0] for p in pages]}}
    null_pages, mins, maxs = [], [], []
    for _, rows, nulls, pst in pages:
        lo = (pst or {}).get("min_value")
        hi = (pst or {}).get("max_value")
        all_null = nulls == rows
        if not all_null and (lo is None or hi is None):
            return idx
        null_pages.append(all_null)
        mins.append(b"" if all_null else lo)
        maxs.append(b"" if all_null else hi)
    idx["column_index"] = {"null_pages": null_pages, "min_values": mins,
                           "max_values": maxs, "boundary_order": 0,
                           "null_counts": [p[2] for p in pages]}
    return idx


def write_file(sink, table: pa.Table, compression: str | int = "SNAPPY",
               encodings: dict | None = None, row_group_rows: int | None = None,
               stats: bool = True, data_page_version: int = 1,
               times: str = "int64", compat: str = "reference",
               bloom_filters: dict | None = None,
               page_rows: int | None = None,
               custom_metadata: dict | None = None,
               sorting_columns: list | None = None,
               required_cols=None) -> FileResult:
    """Write an Arrow table as a parquet file to ``sink`` (path or file-like).

    ``encodings``: optional {column: 'plain'|'dict'|'delta'} override;
    anything absent is auto-selected from sampled stats.
    ``data_page_version``: 1 (default, widest compat — the reference's
    default, fastparquet/writer.py:411) or 2 (levels uncompressed outside
    the compressed values section, fastparquet/writer.py:564-591).
    ``times``: 'int64' (default: INT64 + TIMESTAMP_MICROS) or 'int96'
    (legacy 12-byte Impala/Hive layout, the reference's times='int96').
    ``compat``: 'reference' (default — auto-selection stays inside the
    reference reader's encoding set) or 'modern' (BYTE_STREAM_SPLIT /
    DELTA_LENGTH_BYTE_ARRAY admitted on a measured compressed-size win;
    pyarrow/DuckDB/Spark-readable, reference-reader not).
    ``bloom_filters``: {column: fpp or True} — split-block bloom filter
    per column chunk (parquet spec, parquet-java-compatible), enabling
    point-predicate pruning on high-cardinality unsorted columns where
    min/max stats can't discriminate.
    Returns a FileResult with per-column lineage metrics.
    """
    own = isinstance(sink, str)
    f = get_fs(sink).open_write(sink) if own else sink
    try:
        w = ParquetWriter(f, table.schema, compression, encodings,
                          stats=stats, data_page_version=data_page_version,
                          times=times, compat=compat,
                          bloom_filters=bloom_filters, page_rows=page_rows,
                          custom_metadata=custom_metadata,
                          sorting_columns=sorting_columns,
                          required_cols=required_cols)
        rg_rows = row_group_rows or max(table.num_rows, 1)
        for start in range(0, table.num_rows, rg_rows):
            w.write_row_group(table.slice(start, rg_rows))
        return w.close()
    finally:
        if own:
            f.close()


_ENC_NAMES = {Encoding.PLAIN: "plain", Encoding.PLAIN_DICTIONARY: "dict",
              Encoding.DELTA_BINARY_PACKED: "delta",
              Encoding.BYTE_STREAM_SPLIT: "bss",
              Encoding.DELTA_LENGTH_BYTE_ARRAY: "delta_length",
              Encoding.DELTA_BYTE_ARRAY: "delta_byte_array"}
_ENC_BY_NAME = {v: k for k, v in _ENC_NAMES.items()}


class ParquetWriter:
    """Incremental writer: ``write_row_group`` per buffered slice, then
    ``close``.  This is what lets encode tasks stream a partition of any
    size with memory bounded by ONE row group (the reference's analog is
    its paged writer loop, fastparquet/writer.py:930-967); ``write_file``
    is the one-shot convenience on top."""

    def __init__(self, f, schema: pa.Schema, compression: str | int = "SNAPPY",
                 encodings: dict | None = None, stats: bool = True,
                 data_page_version: int = 1, times: str = "int64",
                 compat: str = "reference", bloom_filters: dict | None = None,
                 page_rows: int | None = None,
                 custom_metadata: dict | None = None,
                 sorting_columns: list | None = None,
                 required_cols=None):
        if data_page_version not in (1, 2):
            raise ValueError("data_page_version must be 1 or 2")
        if times not in ("int64", "int96"):
            raise ValueError("times must be 'int64' or 'int96'")
        if compat not in ("reference", "modern"):
            raise ValueError("compat must be 'reference' or 'modern'")
        if page_rows and data_page_version == 2:
            # the PageIndex/page-splitting path is v1-only; silently
            # writing single-page chunks would defeat the page pruning
            # the caller asked for
            raise ValueError(
                "page_rows requires data_page_version=1 (the paged "
                "PageIndex path is v1-only)")
        for col, enc in (encodings or {}).items():
            if enc not in _ENC_BY_NAME:
                raise ValueError(
                    f"unknown encoding {enc!r} for column {col!r}; "
                    f"allowed: {sorted(_ENC_BY_NAME)}")
        # 'reference': auto-selection stays inside the encoding set the
        # reference's own reader decodes (PLAIN/dict/RLE/DELTA —
        # fastparquet/core.py:130-165), preserving the round-trip
        # invariant.  'modern' additionally admits BYTE_STREAM_SPLIT
        # (floats) and DELTA_LENGTH_BYTE_ARRAY (strings) when a
        # compressed-size trial on the first row group says they win.
        # Reader support: pyarrow/DuckDB/our reader decode both; Spark's
        # vectorized reader handles DELTA_LENGTH but rejects BSS in any
        # file (pyarrow-written included) — its row-based reader
        # (spark.sql.parquet.enableVectorizedReader=false) reads BSS.
        # The reference reader decodes neither, hence opt-in.
        self.compat = compat
        self.f = f
        # the reference's per-column compression form ({col: spec,
        # "_default": spec}, writer.py:656-662) — distinguished from a
        # single codec-spec dict by the absence of codec-spec keys.
        # None values mean UNCOMPRESSED (compress_data(None) contract);
        # columns absent from the map fall to _default, else
        # UNCOMPRESSED.  Silently writing everything UNCOMPRESSED for
        # this form was a data-bloat bug.
        self._col_comp = None
        if isinstance(compression, dict) and not (
                {"codec", "type", "level", "args"} & set(compression)):
            self._col_comp = {
                k: comp.codec_spec(v if v is not None else "UNCOMPRESSED")
                for k, v in compression.items()}
            self._default_comp = self._col_comp.get(
                "_default", comp.codec_spec("UNCOMPRESSED"))
            self.codec, self.level = self._default_comp
        else:
            self.codec, self.level = comp.codec_spec(compression)
        self.encodings = encodings or {}
        self.want_stats = stats
        self.page_version = data_page_version
        self.schema_elems = [{"name": "schema", "num_children": len(schema)}]
        # (kind, name, [(leaf, ptype, cast-to)]): kind "flat" (one leaf),
        # "list", "map" or "struct"
        self.col_meta = []
        # REQUIRED flat leaves (the reference's has_nulls=False/'infer'/
        # list contract, fastparquet/writer.py:816 has_nulls): no def
        # levels are written and a null value is a loud error.  Nested
        # columns stay OPTIONAL (their level geometry is fixed).
        self.required = set(required_cols or ())
        nested = {f_.name for f_ in schema
                  if pa.types.is_list(f_.type)
                  or pa.types.is_large_list(f_.type)
                  or pa.types.is_struct(f_.type) or pa.types.is_map(f_.type)}
        bad_req = self.required - {f_.name for f_ in schema} \
            | (self.required & nested)
        if bad_req:
            raise ValueError(
                f"required_cols must name flat schema columns; invalid: "
                f"{sorted(bad_req)}")
        self.bloom_cols = bloom_fpps(bloom_filters, nested)
        for fld in schema:
            t = fld.type
            if pa.types.is_list(t) or pa.types.is_large_list(t):
                # LIST write — BEYOND the reference (its writer is flat
                # only, fastparquet/writer.py:472 'No nested field
                # handling'; only its READER does Dremel).  Standard
                # 3-level layout: optional group (LIST) > repeated
                # group 'list' > optional 'element' leaf; max_def=3,
                # max_rep=1.  Our assembly reader, pyarrow, DuckDB and
                # Spark all reassemble it.
                kind = "list"
                children = [("element", t.value_type, Repetition.OPTIONAL)]
                self.schema_elems += [
                    {"name": fld.name, "repetition_type": Repetition.OPTIONAL,
                     "converted_type": ConvertedType.LIST, "num_children": 1},
                    {"name": "list", "repetition_type": Repetition.REPEATED,
                     "num_children": 1}]
            elif pa.types.is_map(t):
                # MAP write: optional group (MAP) > repeated key_value >
                # required key + optional value; key max_def=2, value
                # max_def=3, max_rep=1 — same entry geometry as LIST
                # with two leaf chunks.
                kind = "map"
                children = [("key", t.key_type, Repetition.REQUIRED),
                            ("value", t.item_type, Repetition.OPTIONAL)]
                self.schema_elems += [
                    {"name": fld.name, "repetition_type": Repetition.OPTIONAL,
                     "converted_type": ConvertedType.MAP, "num_children": 1},
                    {"name": "key_value",
                     "repetition_type": Repetition.REPEATED,
                     "num_children": 2}]
            elif pa.types.is_struct(t):
                # STRUCT write — also beyond the flat-only reference.
                # One leaf chunk per field under an OPTIONAL group;
                # max_def=2 (struct null / field null / value), no rep.
                kind = "struct"
                children = [(sub.name, sub.type, Repetition.OPTIONAL)
                            for sub in t]
                self.schema_elems.append(
                    {"name": fld.name, "repetition_type": Repetition.OPTIONAL,
                     "num_children": t.num_fields})
            else:
                elem, ptype, cast = _schema_leaf(
                    fld.name, t, Repetition.REQUIRED
                    if fld.name in self.required else Repetition.OPTIONAL,
                    int96=times == "int96",
                    annotation=(fld.metadata or {}).get(b"fpsc:annotation"))
                self.schema_elems.append(elem)
                self.col_meta.append(("flat", fld.name,
                                      [(fld.name, ptype, cast)]))
                continue
            leaves = []
            for leaf, leaf_type, rep in children:
                elem, ptype, cast = _schema_leaf(leaf, leaf_type, rep)
                self.schema_elems.append(elem)
                leaves.append((leaf, ptype, cast))
            self.col_meta.append((kind, fld.name, leaves))
        f.write(MAGIC)
        self.pos = len(MAGIC)
        self.row_groups: list[dict] = []
        self.result = FileResult(rows=0, file_bytes=0)
        self._closed = False
        # encoding choice per column, made on the FIRST row group and
        # reused for the rest of the file: the sampling pass
        # (codecs/selection.py) costs ~30% of kernel time, and later
        # row groups of one task share the first's distribution
        self._chosen: dict[str, int] = {}
        self._modern_used = False  # any BSS/DELTA_LENGTH page written
        # split-block bloom filters (parquet spec; parquet-java-compatible,
        # the reference has none), per column CHUNK (``bloom_cols``),
        # serialized before the footer at close, referenced via
        # bloom_filter_offset/length
        self._blooms: list[tuple[dict, object]] = []  # (cmd, filter)
        # page splitting + PageIndex (parquet spec; the reference writes
        # neither): with page_rows set, each flat column chunk becomes
        # ceil(n/page_rows) v1 data pages and the file carries a
        # ColumnIndex (per-page min/max/nulls) + OffsetIndex (page
        # locations) per chunk — parquet-java prunes PAGES on selective
        # predicates instead of whole row groups
        self.page_rows = page_rows
        self._page_index: list[tuple[dict, dict]] = []  # (chunk_entry, idx)
        # footer key/value metadata (the reference's custom_metadata,
        # fastparquet/writer.py:961-965) and declared row-group sort
        # order (spec SortingColumn; readers can exploit it for merge
        # scans).  sorting_columns: names or (name, descending,
        # nulls_first) tuples; unknown names are ignored.
        self.custom_metadata = custom_metadata
        # resolved per row group against the REAL leaf-chunk list:
        # SortingColumn.column_idx indexes the row group's chunks, and a
        # struct/map column ahead of the sort column contributes several
        # chunks — a col_meta (top-level) index would name the wrong
        # leaf
        self._sorting_req = []
        for s in (sorting_columns or []):
            name, desc, nf = (s, False, False) if isinstance(s, str) else s
            self._sorting_req.append((name, bool(desc), bool(nf)))

    def _write_page(self, header: dict, body, levels=b"") -> int:
        """Compress ``body`` and write it as one page behind its header
        (``header`` without the size and crc fields), advancing
        ``self.pos``.  ``levels`` are a v2 page's level bytes, written
        uncompressed in front of the compressed values — as separate
        writes, so no buffer holds the whole page.  Returns the page's
        uncompressed bytes, page header included."""
        comp_body = comp.compress(body, self.codec, self.level)
        size = len(levels) + len(comp_body)
        ph = thrift.write_struct("PageHeader", dict(
            header, uncompressed_page_size=len(levels) + len(body),
            compressed_page_size=size, crc=_crc(levels, comp_body)), SPECS)
        self.f.write(ph)
        if len(levels):
            self.f.write(levels)
        self.f.write(comp_body)
        self.pos += len(ph) + size
        return len(ph) + len(levels) + len(body)

    def _emit_chunk(self, label: str, path: list, ptype: int, encoding: int,
                    num_values: int, null_count: int, pages,
                    dictionary=None, stats: dict | None = None) -> dict:
        """Write one leaf's column chunk at ``self.pos`` and return its
        ColumnChunk entry: the optional ``dictionary`` page (PLAIN label
        bytes, label count), then each of ``pages``, an iterable of
        ``(first_row, rows, nulls, body, levels, page stats)``.  With
        ``levels`` None the page is v1 (its levels already lead
        ``body``); otherwise it is v2.  Records the chunk's ColumnResult
        as ``label`` and, for a flat chunk under ``page_rows``, its
        PageIndex."""
        nested = len(path) > 1  # a LIST/MAP/STRUCT leaf
        start = self.pos
        cmd = {"type": ptype, "path_in_schema": path, "codec": self.codec,
               "num_values": num_values}
        encs = [Encoding.RLE, encoding]
        uncomp = n_dict = 0
        if dictionary is not None:
            labels, n_dict = dictionary
            cmd["dictionary_page_offset"] = self.pos
            uncomp += self._write_page(
                {"type": PageType.DICTIONARY_PAGE,
                 "dictionary_page_header": {
                     "num_values": n_dict,
                     "encoding": Encoding.PLAIN_DICTIONARY}}, labels)
            encs.append(Encoding.PLAIN)
        cmd["data_page_offset"] = self.pos
        located = []  # (OffsetIndex location, rows, nulls, stats) per page
        for first_row, rows, nulls, body, levels, pst in pages:
            at = self.pos
            if levels is None:
                uncomp += self._write_page(
                    {"type": PageType.DATA_PAGE, "data_page_header": {
                        "num_values": rows, "encoding": encoding,
                        "definition_level_encoding": Encoding.RLE,
                        "repetition_level_encoding": Encoding.RLE,
                        "statistics": pst}}, body)
            else:
                # v2: the levels stay uncompressed outside the compressed
                # values (fastparquet/writer.py:564-591)
                uncomp += self._write_page(
                    {"type": PageType.DATA_PAGE_V2, "data_page_header_v2": {
                        "num_values": rows, "num_nulls": nulls,
                        "num_rows": rows, "encoding": encoding,
                        "definition_levels_byte_length": len(levels),
                        "repetition_levels_byte_length": 0,
                        "is_compressed": self.codec != 0,
                        "statistics": pst}}, body, levels)
            located.append(({"offset": at,
                             "compressed_page_size": self.pos - at,
                             "first_row_index": first_row}, rows, nulls, pst))
        written = self.pos - start
        # flat chunks list their encodings sorted, nested leaves in write
        # order (RLE levels, PLAIN values); uncomp counts page headers,
        # per spec
        cmd.update(encodings=encs if nested else sorted(set(encs)),
                   total_uncompressed_size=uncomp,
                   total_compressed_size=written)
        if stats:
            cmd["statistics"] = stats
        entry = {"file_offset": start, "meta_data": cmd}
        if self.page_rows and not nested:
            self._page_index.append((entry, _page_index(located)))
        self.result.columns.append(ColumnResult(
            name=label, encoding=_ENC_NAMES[encoding], num_values=num_values,
            null_count=null_count, uncompressed_size=uncomp,
            compressed_size=written, dict_entries=n_dict))
        return entry

    def _flat_pages(self, arr, values, required: bool, ptype: int,
                    encoding: int, codes, n_dict: int, stats):
        """The data pages of one flat chunk, built one at a time as
        ``_emit_chunk`` consumes them.  Without ``page_rows`` one page
        covers the chunk: it reuses the chunk's ``values`` and carries
        the chunk ``stats``.  With it each ``page_rows`` slice is its
        own page with its own stats; pages are independent units per
        the spec (DELTA/DBA chains restart), so a reader can decode any
        subset, and a dictionary page fronts the chunk for all pages."""
        n = len(arr)
        step = self.page_rows or n
        v2 = self.page_version == 2
        nn_seen = 0
        for start in range(0, n, step):
            whole = step >= n
            parr = arr if whole else arr.slice(start, step)
            rows, nulls = len(parr), parr.null_count
            # REQUIRED columns (max_def=0): readers expect NO level stream
            levels = b"" if required else _def_levels(parr, rows, v2=v2)
            head = b"" if v2 else levels
            pvals = values if whole else None
            if codes is not None:
                nn = rows - nulls
                body = b"".join((head, dict_data_page(
                    codes[nn_seen:nn_seen + nn], n_dict)))
                nn_seen += nn
            else:
                if pvals is None:
                    pvals = _extract(parr, ptype)
                body = _encode_values(pvals, ptype, encoding, head)
            pst = stats
            if self.page_rows:
                # per-page stats need physical values even when the page
                # body is dictionary indices (ADVICE r4)
                pst = _make_stats(
                    parr, _extract(parr, ptype) if pvals is None else pvals,
                    ptype, nulls, 0) if self.want_stats else None
            yield start, rows, nulls, body, levels if v2 else None, pst

    def _write_flat(self, arr, name: str, ptype: int, cast_to) -> dict:
        """One flat column chunk: cast, choose the encoding, then emit
        the optional dictionary page and the data pages with the chunk
        stats, and build the chunk's bloom filter."""
        if cast_to is not None and arr.type != cast_to:
            try:
                arr = arr.cast(cast_to)
            except pa.lib.ArrowInvalid:
                if (pa.types.is_duration(cast_to)
                        or pa.types.is_timestamp(cast_to)
                        or pa.types.is_time64(cast_to)
                        or pa.types.is_time32(cast_to)):
                    # sub-target-unit components truncate like the
                    # reference (fastparquet time_shift floors to
                    # the stored unit) instead of crashing write()
                    import pyarrow.compute as _pc

                    arr = _pc.cast(arr, options=_pc.CastOptions(
                        target_type=cast_to,
                        allow_time_truncate=True))
                else:
                    raise
        n, null_count = len(arr), arr.null_count
        required = name in self.required
        if required and null_count:
            # a null in a REQUIRED column is a loud error rather than
            # silent corruption
            raise ValueError(
                f"column {name!r} was declared non-null "
                f"(has_nulls/required_cols) but the data has "
                f"{null_count} null(s)")
        # values feed encoding choice, stats, the bloom filter and a
        # single page's body
        values = _extract(arr, ptype)
        enc_override = self.encodings.get(name)
        if enc_override is not None:
            encoding = _ENC_BY_NAME[enc_override]
        else:
            if name not in self._chosen:
                self._chosen[name] = parquet_encoding(
                    arr, values, ptype, self.compat == "modern",
                    self.codec, self.level)
            encoding = self._chosen[name]
        if encoding in (Encoding.BYTE_STREAM_SPLIT,
                        Encoding.DELTA_LENGTH_BYTE_ARRAY,
                        Encoding.DELTA_BYTE_ARRAY):
            self._modern_used = True
        codes = dictionary = None
        n_dict = 0
        if encoding == Encoding.PLAIN_DICTIONARY:
            codes, labels = dict_build(arr.drop_null() if null_count else arr)
            n_dict = len(labels)
            dictionary = (encode_plain(_extract(labels, ptype), ptype), n_dict)
        # statistics over non-null values
        stats = _make_stats(arr, values, ptype, null_count, n_dict) \
            if self.want_stats else None
        entry = self._emit_chunk(
            name, [name], ptype, encoding, n, null_count,
            self._flat_pages(arr, values, required, ptype, encoding, codes,
                             n_dict, stats),
            dictionary, stats)
        if name in self.bloom_cols:
            bf = build_bloom(values, ptype, self.bloom_cols[name])
            if bf is not None:
                self._blooms.append((entry["meta_data"], bf))
        return entry

    def write_row_group(self, chunk: pa.Table) -> None:
        """Encode one row group from an Arrow table/batch slice."""
        if self._closed:
            # appending past the footer+magic silently corrupts the
            # whole file for every footer-seeking reader
            raise RuntimeError("write_row_group after close()")
        if isinstance(chunk, pa.RecordBatch):
            chunk = pa.Table.from_batches([chunk])
        if chunk.num_rows == 0:
            return
        self._write_row_group(chunk)
        self.result.rows += chunk.num_rows

    def close(self) -> FileResult:
        """Write footer + magic; returns the accumulated FileResult."""
        if self._closed:
            return self.result
        # bloom filters land between the last page and the footer (the
        # spec allows any placement; parquet-java reads them by offset)
        for cmd, bf in self._blooms:
            raw = bf.tobytes()
            header = thrift.write_struct("BloomFilterHeader", {
                "numBytes": len(raw),
                "algorithm": {"BLOCK": {}},
                "hash": {"XXHASH": {}},
                "compression": {"UNCOMPRESSED": {}},
            }, SPECS)
            cmd["bloom_filter_offset"] = self.pos
            cmd["bloom_filter_length"] = len(header) + len(raw)
            self.f.write(header)
            self.f.write(raw)
            self.pos += len(header) + len(raw)
        self._blooms.clear()
        # PageIndex: all ColumnIndexes, then all OffsetIndexes, each
        # chunk's ColumnChunk entry pointing at its spans (parquet-java's
        # own layout order)
        for entry, idx in self._page_index:
            if "column_index" not in idx:
                continue  # chunk had a non-null page without valid bounds
            blob = thrift.write_struct("ColumnIndex", idx["column_index"],
                                       SPECS)
            entry["column_index_offset"] = self.pos
            entry["column_index_length"] = len(blob)
            self.f.write(blob)
            self.pos += len(blob)
        for entry, idx in self._page_index:
            blob = thrift.write_struct("OffsetIndex", idx["offset_index"],
                                       SPECS)
            entry["offset_index_offset"] = self.pos
            entry["offset_index_length"] = len(blob)
            self.f.write(blob)
            self.pos += len(blob)
        self._page_index.clear()
        # Spark's vectorized reader rejects v2 encodings (BYTE_STREAM_
        # SPLIT etc.) unless FileMetaData.version is 2, so files that
        # used one advertise 2; everything else stays at the reference's
        # version 1 (fastparquet/writer.py footer)
        n_leaves = sum(1 for e in self.schema_elems[1:]
                       if e.get("num_children") is None)
        fmd = {"version": 2 if self._modern_used else 1,
               "schema": self.schema_elems,
               "num_rows": self.result.rows,
               "row_groups": self.row_groups, "created_by": CREATED_BY,
               # TYPE_ORDER per leaf: without it parquet-cpp/-mr ignore
               # the modern min_value/max_value stats entirely
               "column_orders": [{"TYPE_ORDER": {}}] * n_leaves}
        if self.custom_metadata:
            fmd["key_value_metadata"] = [
                {"key": str(k), "value": str(v)}
                for k, v in self.custom_metadata.items()]
        footer = thrift.write_struct("FileMetaData", fmd, SPECS)
        self.f.write(footer)
        self.f.write(len(footer).to_bytes(4, "little"))
        self.f.write(MAGIC)
        self.result.file_bytes = self.pos + len(footer) + 8
        self._closed = True
        return self.result

    def _write_row_group(self, chunk: pa.Table) -> None:
        chunks_cols = []
        for ci, (kind, name, leaves) in enumerate(self.col_meta):
            if self._col_comp is not None:
                # per-column codec: every page of this chunk reads it
                self.codec, self.level = self._col_comp.get(
                    name, self._default_comp)
            arr = _one_array(chunk.column(ci))
            if kind == "flat":
                _, ptype, cast_to = leaves[0]
                chunks_cols.append(self._write_flat(arr, name, ptype, cast_to))
                continue
            for (label, path, ptype, cast_to, values, defs, max_def,
                 reps) in _nested_leaves(arr, kind, name, leaves):
                # one v1 page of PLAIN non-null values behind the levels
                if values.null_count:
                    values = values.drop_null()
                if cast_to is not None and values.type != cast_to:
                    values = values.cast(cast_to)
                body = encode_plain(
                    _extract(values, ptype), ptype,
                    _length_prefixed(*reps, encode_hybrid(defs, 2)))
                chunks_cols.append(self._emit_chunk(
                    label, path, ptype, Encoding.PLAIN, len(defs),
                    int((defs < max_def).sum()),
                    [(0, len(defs), 0, body, None, None)]))
        # spec: total_byte_size is the UNCOMPRESSED column data total
        # (planners size splits/memory from it)
        rg = {"columns": chunks_cols,
              "total_byte_size": sum(
                  cc["meta_data"]["total_uncompressed_size"]
                  for cc in chunks_cols),
              "num_rows": chunk.num_rows}
        if self._sorting_req:
            paths = [cc["meta_data"]["path_in_schema"]
                     for cc in chunks_cols]
            sc = []
            for name, desc, nf in self._sorting_req:
                idxs = [i for i, pth in enumerate(paths)
                        if pth and pth[0] == name]
                # only a FLAT leaf is a declarable sort key
                if len(idxs) == 1 and len(paths[idxs[0]]) == 1:
                    sc.append({"column_idx": idxs[0], "descending": desc,
                               "nulls_first": nf})
            if sc:
                rg["sorting_columns"] = sc
        self.row_groups.append(rg)


def _make_stats(arr: pa.Array, values, ptype: int, null_count: int, n_dict: int):
    st = {"null_count": null_count}
    if n_dict:
        st["distinct_count"] = n_dict
    try:
        if ptype in (Type.FIXED_LEN_BYTE_ARRAY, Type.INT96):
            # FIXED-backed (incl. decimal38) and INT96: deprecated/
            # byte-order-fraught stat shapes — null_count only.
            # INT32/INT64-backed DECIMALs fall through: their unscaled
            # ints are valid spec stats (signed sort order) and enable
            # logical-space pruning
            return st
        if ptype in (Type.FLOAT, Type.DOUBLE) and len(arr) - null_count > 0 \
                and bool(np.isnan(values).any()):
            # NaN poisons min/max ordering (NaN compares false everywhere),
            # making engines' stats pushdown skip valid rows — the spec tells
            # writers to omit min/max for pages containing NaN.
            return st
        if len(arr) - null_count > 0:
            if ptype == Type.BYTE_ARRAY:
                mm = pa.compute.min_max(arr)
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                if isinstance(lo, str):
                    lo, hi = lo.encode("utf8"), hi.encode("utf8")
                if len(lo) > 64 or len(hi) > 64:
                    # TRUNCATED bounds (spec is_*_value_exact, parquet-mr
                    # behavior): min -> 64-byte prefix (a valid lower
                    # bound), max -> prefix with its last non-0xFF byte
                    # incremented (a strict upper bound).  Only the
                    # modern min_value/max_value fields carry inexact
                    # bounds — the legacy min/max pair is omitted, since
                    # its consumers assume exactness.  Long content
                    # columns keep prefix-range pruning instead of
                    # losing stats entirely.
                    if len(lo) <= 64:
                        st["min_value"], st["is_min_value_exact"] = lo, True
                    else:
                        st["min_value"] = lo[:64]
                        st["is_min_value_exact"] = False
                    if len(hi) <= 64:
                        st["max_value"], st["is_max_value_exact"] = hi, True
                    else:
                        p = bytearray(hi[:64])
                        while p and p[-1] == 0xFF:
                            p.pop()
                        if p:  # all-0xFF prefix -> no finite upper bound
                            p[-1] += 1
                            st["max_value"] = bytes(p)
                            st["is_max_value_exact"] = False
                    return st
            elif pa.types.is_unsigned_integer(arr.type):
                # values are the signed bit-reinterpretation; min/max must
                # use UNSIGNED order, stored as the same reinterpreted bits.
                # Only the MODERN fields: the deprecated min/max pair is
                # defined as signed order, so legacy readers would decode
                # 2**63+5 as negative and mis-prune (parquet-mr omits the
                # pair for non-signed sort orders)
                u = values.view(np.uint32 if ptype == Type.INT32 else np.uint64)
                fmt = "<I" if ptype == Type.INT32 else "<Q"
                lob = struct.pack(fmt, int(u.min()))
                hib = struct.pack(fmt, int(u.max()))
                st.update(min_value=lob, max_value=hib)
                return st
            else:
                v = values
                lo, hi = v.min(), v.max()
            lob, hib = _stat_bytes(lo, ptype), _stat_bytes(hi, ptype)
            if lob is not None and hib is not None:
                st.update(min_value=lob, max_value=hib)
                if ptype != Type.BYTE_ARRAY:
                    # legacy pair is signed/ill-defined order for byte
                    # arrays (parquet-mr omits it there)
                    st.update(min=lob, max=hib)
    except (pa.ArrowNotImplementedError, TypeError, ValueError,
            AttributeError):
        pass
    return st
