"""Parquet file writer: Arrow table -> DataPage-v1 parquet bytes.

Layout per the reference's write path (fastparquet/writer.py:672-695
make_part_file, :540-563 v1 page assembly, :414-641 write_column,
:375-408 make_definitions): ``PAR1`` magic, per row group one column
chunk per column (optional dictionary page + one data page v1), then a
thrift-compact ``FileMetaData`` footer, its length, and ``PAR1``.

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
from fastparquet_spark.codecs.delta import delta_encode
from fastparquet_spark.codecs.dictionary import dict_build, dict_data_page
from fastparquet_spark.codecs.plain import encode_plain
from fastparquet_spark.codecs.rle import encode_hybrid
from fastparquet_spark.codecs.selection import (
    choose_encoding,
    column_stats,
    column_stats_arrow,
)
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
    null_count = arr.null_count
    if null_count == 0:
        body = uvarint_encode(n << 1) + b"\x01"
    else:
        validity = arr.is_valid().to_numpy(zero_copy_only=False).astype(np.uint8)
        body = encode_hybrid(validity, 1)
    return (body if v2 else _length_prefixed(body)), int(null_count)


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
    if data_page_version not in (1, 2):
        raise ValueError("data_page_version must be 1 or 2")
    own = isinstance(sink, (str, bytes))
    f = open(sink, "wb") if own else sink
    try:
        return _write(f, table, compression, encodings or {}, row_group_rows,
                      stats, data_page_version, times, compat, bloom_filters,
                      page_rows, custom_metadata, sorting_columns,
                      required_cols)
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
        self.col_meta = []  # (ptype, cast-to, name); ptype "list" = nested
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
        for fld in schema:
            if pa.types.is_list(fld.type) or pa.types.is_large_list(fld.type):
                # LIST write — BEYOND the reference (its writer is flat
                # only, fastparquet/writer.py:472 'No nested field
                # handling'; only its READER does Dremel).  Standard
                # 3-level layout: optional group (LIST) > repeated
                # group 'list' > optional 'element' leaf; max_def=3,
                # max_rep=1.  Our assembly reader, pyarrow, DuckDB and
                # Spark all reassemble it.
                etype = fld.type.value_type
                eptype, econv, ecast = _map_type(etype)
                self.schema_elems.append(
                    {"name": fld.name, "repetition_type": Repetition.OPTIONAL,
                     "converted_type": ConvertedType.LIST, "num_children": 1})
                self.schema_elems.append(
                    {"name": "list", "repetition_type": Repetition.REPEATED,
                     "num_children": 1})
                eelem = {"name": "element", "type": eptype,
                         "repetition_type": Repetition.OPTIONAL}
                if econv is not None:
                    eelem["converted_type"] = econv
                if eptype == Type.FIXED_LEN_BYTE_ARRAY:
                    eelem["type_length"] = etype.byte_width
                if econv == ConvertedType.DECIMAL:
                    eelem["scale"] = etype.scale
                    eelem["precision"] = etype.precision
                lt = _logical_type(etype)
                if lt is not None:
                    eelem["logicalType"] = lt
                self.schema_elems.append(eelem)
                self.col_meta.append(("list", (eptype, ecast), fld.name))
                continue
            if pa.types.is_map(fld.type):
                # MAP write: optional group (MAP) > repeated key_value >
                # required key + optional value; key max_def=2, value
                # max_def=3, max_rep=1 — same entry geometry as LIST
                # with two leaf chunks.
                kptype, kconv, kcast = _map_type(fld.type.key_type)
                vptype, vconv, vcast = _map_type(fld.type.item_type)
                self.schema_elems.append(
                    {"name": fld.name, "repetition_type": Repetition.OPTIONAL,
                     "converted_type": ConvertedType.MAP, "num_children": 1})
                self.schema_elems.append(
                    {"name": "key_value",
                     "repetition_type": Repetition.REPEATED,
                     "num_children": 2})
                def _leaf_elem(name, rep, t, ptype_, conv_):
                    # same annotation set as the LIST path: omitting
                    # type_length/scale/precision/logicalType made
                    # decimal or fixed-size-binary map entries
                    # unreadable
                    e = {"name": name, "type": ptype_,
                         "repetition_type": rep}
                    if conv_ is not None:
                        e["converted_type"] = conv_
                    if ptype_ == Type.FIXED_LEN_BYTE_ARRAY:
                        e["type_length"] = t.byte_width
                    if conv_ == ConvertedType.DECIMAL:
                        e["scale"] = t.scale
                        e["precision"] = t.precision
                    lt_ = _logical_type(t)
                    if lt_ is not None:
                        e["logicalType"] = lt_
                    return e

                self.schema_elems.append(_leaf_elem(
                    "key", Repetition.REQUIRED, fld.type.key_type,
                    kptype, kconv))
                self.schema_elems.append(_leaf_elem(
                    "value", Repetition.OPTIONAL, fld.type.item_type,
                    vptype, vconv))
                self.col_meta.append(
                    ("map", ((kptype, kcast), (vptype, vcast)), fld.name))
                continue
            if pa.types.is_struct(fld.type):
                # STRUCT write — also beyond the flat-only reference.
                # One leaf chunk per field under an OPTIONAL group;
                # max_def=2 (struct null / field null / value), no rep.
                leaves = []
                self.schema_elems.append(
                    {"name": fld.name, "repetition_type": Repetition.OPTIONAL,
                     "num_children": fld.type.num_fields})
                for sub in fld.type:
                    sptype, sconv, scast = _map_type(sub.type)
                    selem = {"name": sub.name, "type": sptype,
                             "repetition_type": Repetition.OPTIONAL}
                    if sconv is not None:
                        selem["converted_type"] = sconv
                    if sptype == Type.FIXED_LEN_BYTE_ARRAY:
                        selem["type_length"] = sub.type.byte_width
                    if sconv == ConvertedType.DECIMAL:
                        selem["scale"] = sub.type.scale
                        selem["precision"] = sub.type.precision
                    lt = _logical_type(sub.type)
                    if lt is not None:
                        selem["logicalType"] = lt
                    self.schema_elems.append(selem)
                    leaves.append((sub.name, sptype, scast))
                self.col_meta.append(("struct", leaves, fld.name))
                continue
            if times == "int96" and pa.types.is_timestamp(fld.type):
                # legacy INT96 timestamps on request (the reference's
                # times='int96', fastparquet/writer.py:192-197; behavioral
                # spec: its Spark-interop matrix test_aroundtrips.py:
                # 112-137).  INT96 is its own physical type — no converted
                # type, no LogicalType annotation.
                self.schema_elems.append(
                    {"name": fld.name, "type": Type.INT96,
                     "repetition_type": Repetition.REQUIRED
                     if fld.name in self.required
                     else Repetition.OPTIONAL})
                self.col_meta.append((Type.INT96, pa.timestamp("ns"), fld.name))
                continue
            ptype, conv, cast_to = _map_type(fld.type)
            # JSON/BSON annotations (reference fastparquet/writer.py:114-154
            # object-encoding 'json'/'bson') are requested via Arrow field
            # metadata: {"fpsc:annotation": "json"} on a string column or
            # "bson" on a binary column
            ann = (fld.metadata or {}).get(b"fpsc:annotation")
            if ann == b"json" and ptype == Type.BYTE_ARRAY:
                conv = ConvertedType.JSON
            elif ann == b"bson" and ptype == Type.BYTE_ARRAY:
                conv = ConvertedType.BSON
            elem = {"name": fld.name, "type": ptype,
                    "repetition_type": Repetition.REQUIRED
                    if fld.name in self.required else Repetition.OPTIONAL}
            lt = _logical_type(fld.type)
            if lt is not None:
                elem["logicalType"] = lt
            if conv is not None:
                elem["converted_type"] = conv
            if ptype == Type.FIXED_LEN_BYTE_ARRAY:
                elem["type_length"] = fld.type.byte_width
            if conv == ConvertedType.DECIMAL:
                elem["scale"] = fld.type.scale
                elem["precision"] = fld.type.precision
            self.schema_elems.append(elem)
            self.col_meta.append((ptype, cast_to, fld.name))
        f.write(MAGIC)
        self.pos = len(MAGIC)
        self.row_groups: list[dict] = []
        self.result = FileResult(rows=0, file_bytes=0)
        self._closed = False
        # encoding choice per column, made on the FIRST row group and
        # reused for the rest of the file: the sampling pass
        # (selection.column_stats) costs ~30% of kernel time, and later
        # row groups of one task share the first's distribution
        self._chosen: dict[str, int] = {}
        self._modern_used = False  # any BSS/DELTA_LENGTH page written
        # split-block bloom filters (parquet spec; parquet-java-compatible,
        # the reference has none): {column: fpp or True}.  Built per column
        # CHUNK from the non-null value hashes, serialized before the
        # footer at close, referenced via bloom_filter_offset/length.
        self.bloom_cols = {
            k: (0.01 if v is True else float(v))
            for k, v in (bloom_filters or {}).items()}
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

    def _write_list_column(self, arr: pa.Array, name: str, meta, pos: int):
        """One LIST column chunk: vectorized Dremel level GENERATION
        (the write-side mirror of format/assembly.py's read side) + a
        PLAIN-encoded element page.  Levels: null row -> def 0, empty
        list -> 1, null element -> 2, value -> 3; rep 0 starts a row."""
        import pyarrow.compute as pc

        eptype, ecast = meta
        if pa.types.is_large_list(arr.type):
            arr = arr.cast(pa.list_(arr.type.value_type))
        n = len(arr)
        row_valid = arr.is_valid().to_numpy(zero_copy_only=False)
        offs = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                             count=n + 1, offset=arr.offset * 4).astype(np.int64)
        lens = np.diff(offs)
        lens_v = np.where(row_valid, lens, 0)
        entries = np.maximum(lens_v, 1)        # null/empty rows carry 1 entry
        total = int(entries.sum())
        row_start = np.zeros(n, dtype=np.int64)
        np.cumsum(entries[:-1], out=row_start[1:])
        reps = np.ones(total, dtype=np.uint8)
        reps[row_start] = 0
        defs = np.full(total, 3, dtype=np.uint8)
        defs[row_start[~row_valid]] = 0
        defs[row_start[row_valid & (lens == 0)]] = 1
        flat = pc.list_flatten(arr)            # elements of non-null lists
        if flat.null_count:
            elem_mask = np.ones(total, dtype=bool)
            elem_mask[row_start[~row_valid]] = False
            elem_mask[row_start[row_valid & (lens == 0)]] = False
            idx = np.nonzero(elem_mask)[0]
            evalid = flat.is_valid().to_numpy(zero_copy_only=False)
            defs[idx[~evalid]] = 2
            flat = flat.drop_null()
        if ecast is not None and flat.type != ecast:
            flat = flat.cast(ecast)
        head = _length_prefixed(encode_hybrid(reps, 1), encode_hybrid(defs, 2))
        written, uncomp = self._write_data_page(
            encode_plain(_extract(flat, eptype), eptype, head), total)
        cmd = {"type": eptype, "encodings": [Encoding.RLE, Encoding.PLAIN],
               "path_in_schema": [name, "list", "element"],
               "codec": self.codec, "num_values": total,
               "total_uncompressed_size": uncomp,
               "total_compressed_size": written,
               "data_page_offset": pos}
        nulls = int((defs < 3).sum())
        colres = ColumnResult(
            name=name, encoding="plain", num_values=total,
            null_count=nulls, uncompressed_size=uncomp,
            compressed_size=written)
        return written, {"file_offset": pos, "meta_data": cmd}, colres

    def _write_map_column(self, arr: pa.Array, name: str, meta, pos: int):
        """Two leaf chunks (key, value) sharing one LIST-shaped entry
        geometry.  Key defs: 0 null map / 1 empty / 2 entry (REQUIRED
        key); value defs add 3 = non-null value.  rep 0 opens a row."""
        (kptype, kcast), (vptype, vcast) = meta
        n = len(arr)
        row_valid = arr.is_valid().to_numpy(zero_copy_only=False)
        offs = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                             count=n + 1, offset=arr.offset * 4).astype(np.int64)
        lens = np.diff(offs)
        lens_v = np.where(row_valid, lens, 0)
        entries = np.maximum(lens_v, 1)
        total = int(entries.sum())
        row_start = np.zeros(n, dtype=np.int64)
        np.cumsum(entries[:-1], out=row_start[1:])
        reps = np.ones(total, dtype=np.uint8)
        reps[row_start] = 0
        elem_mask = np.ones(total, dtype=bool)
        elem_mask[row_start[~row_valid]] = False
        elem_mask[row_start[row_valid & (lens == 0)]] = False
        kdefs = np.full(total, 2, dtype=np.uint8)
        kdefs[row_start[~row_valid]] = 0
        kdefs[row_start[row_valid & (lens == 0)]] = 1
        keys = arr.keys.slice(int(offs[0]), int(offs[-1] - offs[0]))
        items = arr.items.slice(int(offs[0]), int(offs[-1] - offs[0]))
        # non-null rows' entries in order == flattened children minus the
        # spans of null rows
        if not row_valid.all():
            keep = np.repeat(row_valid, lens)
            keys = keys.filter(pa.array(keep))
            items = items.filter(pa.array(keep))
        vdefs = np.where(kdefs == 2, 3, kdefs).astype(np.uint8)
        if items.null_count:
            idx = np.nonzero(elem_mask)[0]
            ivalid = items.is_valid().to_numpy(zero_copy_only=False)
            vdefs[idx[~ivalid]] = 2
            items_nn = items.drop_null()
        else:
            items_nn = items
        if kcast is not None and keys.type != kcast:
            keys = keys.cast(kcast)
        if vcast is not None and items_nn.type != vcast:
            items_nn = items_nn.cast(vcast)
        rep_b = encode_hybrid(reps, 1)
        written_total = 0
        entries_out = []
        colres_out = []
        for leaf, defs, leaf_arr, lptype in (
                ("key", kdefs, keys, kptype),
                ("value", vdefs, items_nn, vptype)):
            head = _length_prefixed(rep_b, encode_hybrid(defs, 2))
            written, uncomp = self._write_data_page(
                encode_plain(_extract(leaf_arr, lptype), lptype, head), total)
            cmd = {"type": lptype,
                   "encodings": [Encoding.RLE, Encoding.PLAIN],
                   "path_in_schema": [name, "key_value", leaf],
                   "codec": self.codec, "num_values": total,
                   "total_uncompressed_size": uncomp,
                   "total_compressed_size": written,
                   "data_page_offset": pos + written_total}
            entries_out.append({"file_offset": pos + written_total,
                                "meta_data": cmd})
            colres_out.append(ColumnResult(
                name=f"{name}.{leaf}", encoding="plain", num_values=total,
                null_count=int((defs < (2 if leaf == "key" else 3)).sum()),
                uncompressed_size=uncomp, compressed_size=written))
            written_total += written
        return written_total, entries_out, colres_out

    def _write_struct_leaf(self, arr: pa.Array, name: str, leaf: str,
                           sptype: int, scast, pos: int):
        """One leaf chunk of a STRUCT column: def levels 0 (struct
        null) / 1 (field null) / 2 (value), no repetition, PLAIN
        values of the doubly-valid entries."""
        svalid = arr.is_valid().to_numpy(zero_copy_only=False)
        child = arr.field(leaf)
        cvalid = child.is_valid().to_numpy(zero_copy_only=False) & svalid
        defs = np.where(cvalid, 2, np.where(svalid, 1, 0)).astype(np.uint8)
        leaf_nn = child.filter(pa.array(cvalid))
        if scast is not None and leaf_nn.type != scast:
            leaf_nn = leaf_nn.cast(scast)
        n = len(arr)
        written, uncomp = self._write_data_page(
            encode_plain(_extract(leaf_nn, sptype), sptype,
                         _length_prefixed(encode_hybrid(defs, 2))), n)
        cmd = {"type": sptype, "encodings": [Encoding.RLE, Encoding.PLAIN],
               "path_in_schema": [name, leaf], "codec": self.codec,
               "num_values": n,
               "total_uncompressed_size": uncomp,
               "total_compressed_size": written, "data_page_offset": pos}
        colres = ColumnResult(
            name=f"{name}.{leaf}", encoding="plain", num_values=n,
            null_count=int((~cvalid).sum()), uncompressed_size=uncomp,
            compressed_size=written)
        return written, {"file_offset": pos, "meta_data": cmd}, colres

    def _modern_trial(self, ptype: int, values) -> int:
        """compat='modern' admission: compress a bounded sample of the
        column both ways and keep the modern encoding only on a >2%
        compressed-size win (the same hysteresis the FSST selection
        uses) — so the choice is measured, never assumed.  Runs once per
        column per file (the result lands in ``_chosen``)."""
        from fastparquet_spark.codecs.split import (
            bss_encode, dba_encode, dlba_encode,
        )

        cap = 65_536
        if ptype in (Type.FLOAT, Type.DOUBLE):
            sample = values[:cap]
            if len(sample) < 64:
                return Encoding.PLAIN
            cands = [(Encoding.BYTE_STREAM_SPLIT, bss_encode(sample, ptype))]
            plain = encode_plain(sample, ptype)
        elif ptype == Type.BYTE_ARRAY:
            lengths, data = values
            if len(lengths) < 64:
                return Encoding.PLAIN
            ln = np.asarray(lengths[:cap])
            dt = np.asarray(data[: int(ln.sum())])
            plain = encode_plain((ln, dt), ptype)
            cands = [(Encoding.DELTA_LENGTH_BYTE_ARRAY, dlba_encode(ln, dt)),
                     (Encoding.DELTA_BYTE_ARRAY, dba_encode(ln, dt))]
        else:
            return Encoding.PLAIN
        base = len(comp.compress(plain, self.codec, self.level))
        best, best_sz = Encoding.PLAIN, base
        for enc, alt in cands:
            sz = len(comp.compress(alt, self.codec, self.level))
            if sz < 0.98 * base and sz < best_sz:
                best, best_sz = enc, sz
        return best

    def _level_bytes(self, arr, n: int, name: str,
                     v2: bool = False) -> tuple[bytes, int]:
        """Definition levels for one (page-)slice of ``name`` — empty
        for REQUIRED columns (max_def=0: readers expect NO level
        stream), where a null value is a loud error rather than silent
        corruption."""
        if name in self.required:
            if arr.null_count:
                raise ValueError(
                    f"column {name!r} was declared non-null "
                    f"(has_nulls/required_cols) but the data has "
                    f"{arr.null_count} null(s)")
            return b"", 0
        return _def_levels(arr, n, v2=v2)

    def _maybe_build_bloom(self, cmd, values, name: str, ptype: int,
                           n_nonnull: int) -> None:
        """Chunk bloom shared by the paged and single-page paths (the
        two inline copies drifted once already): sized
        from the chunk's ACTUAL ndv; skipped for BOOLEAN/all-null/
        unconfigured columns."""
        if name not in self.bloom_cols or n_nonnull <= 0 \
                or ptype == Type.BOOLEAN:
            return
        from fastparquet_spark.codecs.bloom import (
            SplitBlockBloom, hash_values,
        )

        h = hash_values(values, ptype)
        bf = SplitBlockBloom(SplitBlockBloom.optimal_bytes(
            len(np.unique(h)), self.bloom_cols[name]))
        bf.insert(h)
        self._blooms.append((cmd, bf))

    def _write_page(self, header: dict, body, levels=b"") -> tuple[int, int]:
        """Compress ``body`` and write it as one page behind its header
        (``header`` without the size and crc fields).  ``levels`` are a
        v2 page's level bytes, written uncompressed in front of the
        compressed values — as separate writes, so no buffer holds the
        whole page.  Returns (bytes written, uncompressed bytes), both
        including the page header."""
        comp_body = comp.compress(body, self.codec, self.level)
        size = len(levels) + len(comp_body)
        ph = thrift.write_struct("PageHeader", dict(
            header, uncompressed_page_size=len(levels) + len(body),
            compressed_page_size=size, crc=_crc(levels, comp_body)), SPECS)
        self.f.write(ph)
        if len(levels):
            self.f.write(levels)
        self.f.write(comp_body)
        return len(ph) + size, len(ph) + len(levels) + len(body)

    def _write_data_page(self, body, num_values: int,
                         encoding: int = Encoding.PLAIN,
                         stats: dict | None = None) -> tuple[int, int]:
        """One v1 data page (RLE levels inside ``body``); see _write_page."""
        dph = {"num_values": num_values, "encoding": encoding,
               "definition_level_encoding": Encoding.RLE,
               "repetition_level_encoding": Encoding.RLE}
        if stats:
            dph["statistics"] = stats
        return self._write_page(
            {"type": PageType.DATA_PAGE, "data_page_header": dph}, body)

    def _emit_dict_page(self, dict_page_bytes, n_dict: int) -> tuple[int, int]:
        """Compress and write one PLAIN dictionary page; see _write_page."""
        return self._write_page(
            {"type": PageType.DICTIONARY_PAGE,
             "dictionary_page_header": {
                 "num_values": n_dict,
                 "encoding": Encoding.PLAIN_DICTIONARY}},
            dict_page_bytes)

    def _write_flat_pages(self, arr, name: str, ptype: int, encoding: int,
                          pos: int, values):
        """Multi-page emission of one flat column chunk (v1 pages) plus
        the per-page metadata the PageIndex needs.  Pages are
        independent units per the spec (DELTA/DBA chains restart), so a
        reader can decode any subset; a dictionary page, when the chunk
        is dict-encoded, fronts the chunk and is shared by all pages."""
        n = len(arr)
        chunk_offset = pos
        dict_off = None
        written = 0
        uncomp_total = 0
        n_dict = 0
        codes = None
        if encoding == Encoding.PLAIN_DICTIONARY:
            nonnull = arr.drop_null() if arr.null_count else arr
            codes, labels = dict_build(nonnull)
            n_dict = len(labels)
            dict_off = pos
            written, uncomp_total = self._emit_dict_page(
                encode_plain(_extract_labels(labels, ptype), ptype), n_dict)
            pos += written

        locs, null_pages, mins, maxs, null_counts = [], [], [], [], []
        index_ok = True
        data_off = None
        total_nulls = 0
        nn_seen = 0
        for start in range(0, n, self.page_rows):
            parr = arr.slice(start, self.page_rows)
            pn = len(parr)
            defs, nulls = self._level_bytes(parr, pn, name, v2=False)
            total_nulls += nulls
            pvals = None
            if codes is not None:
                nn = pn - nulls
                body = b"".join((defs, dict_data_page(
                    codes[nn_seen:nn_seen + nn], n_dict)))
                nn_seen += nn
                if self.want_stats and nn:
                    # stats need physical values even when the page body is
                    # dictionary indices (ADVICE r4: pvals=None crashed
                    # _make_stats for numeric columns)
                    pvals = _extract(parr, ptype)
            else:
                pvals = _extract(parr, ptype)
                body = _encode_values(pvals, ptype, encoding, head=defs)
            pst = _make_stats(parr, pvals, ptype, nulls, 0) \
                if self.want_stats and pn else None
            page_bytes, page_uncomp = self._write_data_page(
                body, pn, encoding, pst)
            if data_off is None:
                data_off = pos
            locs.append({"offset": pos,
                         "compressed_page_size": page_bytes,
                         "first_row_index": start})
            all_null = nulls == pn
            null_pages.append(all_null)
            lob = (pst or {}).get("min_value")
            hib = (pst or {}).get("max_value")
            if not all_null and (lob is None or hib is None):
                # a non-null page without valid bounds (NaN page, all-0xFF
                # truncated max, unsupported stat shape) cannot appear in a
                # ColumnIndex as b"" — parquet-mr omits the whole index for
                # the chunk in that case, and so do we (ADVICE r4)
                index_ok = False
            mins.append(b"" if all_null or lob is None else lob)
            maxs.append(b"" if all_null or hib is None else hib)
            null_counts.append(nulls)
            written += page_bytes
            uncomp_total += page_uncomp
            pos += page_bytes

        st = _make_stats(arr, values, ptype, total_nulls, n_dict) \
            if self.want_stats and n else None
        enc_list = sorted({Encoding.RLE, encoding} |
                          ({Encoding.PLAIN} if codes is not None else set()))
        cmd = {"type": ptype, "encodings": enc_list,
               "path_in_schema": [name], "codec": self.codec,
               "num_values": n,
               "total_uncompressed_size": uncomp_total,
               "total_compressed_size": written,
               "data_page_offset": data_off}
        if dict_off is not None:
            cmd["dictionary_page_offset"] = dict_off
        if st:
            cmd["statistics"] = st
        idx = {"offset_index": {"page_locations": locs}}
        if index_ok:
            idx["column_index"] = {"null_pages": null_pages,
                                   "min_values": mins, "max_values": maxs,
                                   "boundary_order": 0,
                                   "null_counts": null_counts}
        colres = ColumnResult(
            name=name, encoding=_ENC_NAMES[encoding], num_values=n,
            null_count=total_nulls, uncompressed_size=uncomp_total,
            compressed_size=written, dict_entries=n_dict)
        return written, chunk_offset, cmd, idx, colres, values, total_nulls

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
        encodings = self.encodings
        want_stats = self.want_stats
        page_version = self.page_version
        pos = self.pos
        chunks_cols = []
        for ci, (ptype, cast_to, name) in enumerate(self.col_meta):
            if self._col_comp is not None:
                # per-column codec: every page of this chunk reads it
                self.codec, self.level = self._col_comp.get(
                    name, self._default_comp)
            arr = _one_array(chunk.column(ci))
            if ptype == "list":
                written, cmd_entry, colres = self._write_list_column(
                    arr, name, cast_to, pos)
                chunks_cols.append(cmd_entry)
                self.result.columns.append(colres)
                pos += written
                continue
            if ptype == "map":
                written, entries, colres_list = self._write_map_column(
                    arr, name, cast_to, pos)
                chunks_cols.extend(entries)
                self.result.columns.extend(colres_list)
                pos += written
                continue
            if ptype == "struct":
                for leaf_name, sptype, scast in cast_to:
                    written, cmd_entry, colres = self._write_struct_leaf(
                        arr, name, leaf_name, sptype, scast, pos)
                    chunks_cols.append(cmd_entry)
                    self.result.columns.append(colres)
                    pos += written
                continue
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
            n = len(arr)
            # values feed encoding choice / stats / blooms either way;
            # the full-column def-level RLE is only the SINGLE-page
            # path's — the paged branch regenerates levels per page and
            # would throw this away (pure O(n) waste on the
            # throughput path)
            values = _extract(arr, ptype)
            if not (self.page_rows and page_version == 1):
                defs, null_count = self._level_bytes(
                    arr, n, name, v2=page_version == 2)

            enc_override = encodings.get(name)
            if enc_override is not None:
                encoding = _ENC_BY_NAME[enc_override]
            elif ptype in (Type.FIXED_LEN_BYTE_ARRAY, Type.INT96) \
                    or pa.types.is_decimal(arr.type):
                encoding = Encoding.PLAIN
            elif name in self._chosen:
                encoding = self._chosen[name]
            else:
                if ptype == Type.BYTE_ARRAY:
                    nonnull = arr.drop_null() if arr.null_count else arr
                    st = column_stats_arrow(nonnull)
                else:
                    st = column_stats(values, ptype)
                encoding = choose_encoding(st, ptype, parquet_compat=True)
                if self.compat == "modern" and encoding == Encoding.PLAIN:
                    encoding = self._modern_trial(ptype, values)
                self._chosen[name] = encoding

            if encoding in (Encoding.BYTE_STREAM_SPLIT,
                            Encoding.DELTA_LENGTH_BYTE_ARRAY,
                            Encoding.DELTA_BYTE_ARRAY):
                self._modern_used = True
            if self.page_rows and page_version == 1:
                (written, chunk_offset, cmd, idx, colres, values,
                 null_count) = self._write_flat_pages(
                    arr, name, ptype, encoding, pos, values)
                self._maybe_build_bloom(cmd, values, name, ptype,
                                        n - null_count)
                entry = {"file_offset": chunk_offset, "meta_data": cmd}
                self._page_index.append((entry, idx))
                chunks_cols.append(entry)
                self.result.columns.append(colres)
                pos += written
                continue
            # v1: the levels lead the page body and are compressed with
            # it; v2: they stay uncompressed outside the compressed
            # values (fastparquet/writer.py:564-591)
            v1 = page_version == 1
            head = defs if v1 else b""
            n_dict = 0
            chunk_offset = pos
            dict_off = None
            written = uncomp_total = 0
            if encoding == Encoding.PLAIN_DICTIONARY:
                nonnull = arr.drop_null() if arr.null_count else arr
                codes, labels = dict_build(nonnull)
                n_dict = len(labels)
                dict_off = pos
                written, uncomp_total = self._emit_dict_page(
                    encode_plain(_extract_labels(labels, ptype), ptype),
                    n_dict)
                pos += written
                body = b"".join((head, dict_data_page(codes, n_dict)))
            else:
                body = _encode_values(values, ptype, encoding, head)

            # statistics over non-null values
            st = None
            if want_stats and n:
                st = _make_stats(arr, values, ptype, null_count, n_dict)
            if v1:
                page_bytes, page_uncomp = self._write_data_page(
                    body, n, encoding, st)
            else:
                dph = {"num_values": n, "num_nulls": null_count,
                       "num_rows": n, "encoding": encoding,
                       "definition_levels_byte_length": len(defs),
                       "repetition_levels_byte_length": 0,
                       "is_compressed": self.codec != 0}
                if st:
                    dph["statistics"] = st
                page_bytes, page_uncomp = self._write_page(
                    {"type": PageType.DATA_PAGE_V2,
                     "data_page_header_v2": dph}, body, levels=defs)
            data_off = pos
            written += page_bytes
            uncomp_total += page_uncomp  # incl. page headers, per spec
            pos += page_bytes
            enc_list = sorted({Encoding.RLE, encoding} |
                              ({Encoding.PLAIN}
                               if dict_off is not None else set()))
            cmd = {"type": ptype, "encodings": enc_list,
                   "path_in_schema": [name], "codec": self.codec,
                   "num_values": n,
                   "total_uncompressed_size": uncomp_total,
                   "total_compressed_size": written,
                   "data_page_offset": data_off}
            if dict_off is not None:
                cmd["dictionary_page_offset"] = dict_off
            if st:
                cmd["statistics"] = st
            self._maybe_build_bloom(cmd, values, name, ptype,
                                    n - null_count)
            chunks_cols.append({"file_offset": chunk_offset, "meta_data": cmd})
            self.result.columns.append(ColumnResult(
                name=name, encoding=_ENC_NAMES[encoding], num_values=n,
                null_count=null_count, uncompressed_size=uncomp_total,
                compressed_size=written, dict_entries=n_dict))
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
        self.pos = pos


def _write(f, table, compression, encodings, row_group_rows, want_stats,
           page_version=1, times="int64", compat="reference",
           bloom_filters=None, page_rows=None, custom_metadata=None,
           sorting_columns=None, required_cols=None):
    n_rows = table.num_rows
    rg_rows = row_group_rows or max(n_rows, 1)
    w = ParquetWriter(f, table.schema, compression, encodings,
                      stats=want_stats, data_page_version=page_version,
                      times=times, compat=compat, bloom_filters=bloom_filters,
                      page_rows=page_rows, custom_metadata=custom_metadata,
                      sorting_columns=sorting_columns,
                      required_cols=required_cols)
    for start in range(0, n_rows, rg_rows):
        w.write_row_group(table.slice(start, rg_rows))
    return w.close()


def _extract_labels(labels: pa.Array, ptype: int):
    return _extract(labels, ptype)


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
