"""The one parquet reader.

Mirrors the reference's decode pipeline (fastparquet/core.py:415-555
read_col page loop; :108-166 v1 page dispatch; api.py:164-190 footer
parse) over numpy buffers, returning a pyarrow Table.  It serves
``read_file`` / ``read_row_groups`` / ``iter_row_groups`` / ``head``,
the api facade's ``ParquetFile``, the page-skipping
``dataset.read_pages`` and the selective units of ``paged_read`` and
the fps data source; match-all engine scans stream through pyarrow's
C++ reader instead (engine/scan_job.py).

One path behind every read:

- one byte source, :class:`_ByteSource` (bytes, a path through the fs
  seam, or a file object) with one validated footer read — a footer
  length that does not fit raises ``ValueError``;
- one chunk fetch, :func:`_fetch_chunk`: the whole chunk in one
  ranged read, or its dictionary page plus the pages a ColumnIndex
  kept, both starting where :func:`_chunk_start` says (a
  ``dictionary_page_offset`` of 0 means no dictionary);
- one page loop, :func:`_read_column_chunk`;
- one row-group decoder, :func:`_read_row_group`, whose Table carries
  the row group's (or the kept pages') row count even when no column
  is decoded, so a zero-column projection keeps its cardinality.

Covers the encodings both we and the reference emit/read — PLAIN,
PLAIN_DICTIONARY / RLE_DICTIONARY, RLE booleans, DELTA_BINARY_PACKED,
plus BYTE_STREAM_SPLIT and the DELTA byte-array encodings — over v1
and v2 pages, flat AND nested schemas (LIST/MAP/struct via
format/assembly.py Dremel assembly); projections move only the
selected columns' bytes.
"""

from __future__ import annotations

import os
from contextlib import closing

import numpy as np
import pyarrow as pa

from fastparquet_spark.codecs import compression as comp
from fastparquet_spark.codecs.delta import delta_decode
from fastparquet_spark.codecs.dictionary import dict_decode_page
from fastparquet_spark.codecs.plain import decode_plain
from fastparquet_spark.codecs.rle import decode_hybrid
from fastparquet_spark.format import thrift
from fastparquet_spark.format.metadata import (
    MAGIC,
    SPECS,
    ConvertedType,
    Encoding,
    PageType,
    Type,
)
from fastparquet_spark.io import get_fs, read_tail


def read_footer(buf: bytes) -> dict:
    """Parse the FileMetaData footer of a whole file held in memory
    (fastparquet/api.py:164-190 semantics)."""
    if buf[:4] != MAGIC or buf[-4:] != MAGIC:
        raise ValueError("not a parquet file (missing PAR1 magic)")
    return read_footer_tail(buf)


def read_footer_tail(buf: bytes) -> dict:
    """Parse a footer from a TAIL slice (footer + u4 length + magic) —
    what :func:`fastparquet_spark.io.read_tail_footer` returns, so
    metadata operators never load page data.  A footer length that
    does not fit ``buf`` raises ``ValueError``."""
    if buf[-4:] != MAGIC:
        raise ValueError("missing trailing PAR1 magic")
    flen = int.from_bytes(buf[-8:-4], "little")
    if flen + 8 > len(buf):
        raise ValueError(
            f"footer length {flen} exceeds the {len(buf)} bytes read")
    fmd, _ = thrift.read_struct("FileMetaData", buf, len(buf) - 8 - flen, SPECS)
    return fmd


def _lt_unit(member: dict) -> str:
    u = member.get("unit") or {}
    if "MILLIS" in u:
        return "ms"
    if "NANOS" in u:
        return "ns"
    return "us"


def _arrow_type(elem: dict) -> pa.DataType:
    conv = elem.get("converted_type")
    pt = elem["type"]
    # modern LogicalType wins over the legacy converted type when both
    # are present (parquet-format compat rule; it carries utc/unit
    # information the converted types cannot express)
    lt = elem.get("logicalType") or {}
    if "TIMESTAMP" in lt:
        ts = lt["TIMESTAMP"]
        return pa.timestamp(_lt_unit(ts),
                            "UTC" if ts.get("isAdjustedToUTC") else None)
    if "TIME" in lt:
        unit = _lt_unit(lt["TIME"])
        return pa.time32("ms") if unit == "ms" else pa.time64(unit)
    # modern logical-only annotations (parquet-format 2.4+ writers may
    # omit the legacy converted type entirely)
    if conv is None:
        if "STRING" in lt or "ENUM" in lt or "JSON" in lt:
            return pa.string()
        if "DECIMAL" in lt:
            d = lt["DECIMAL"]
            return pa.decimal128(d.get("precision", 18), d.get("scale", 0))
        if "INTEGER" in lt:
            i = lt["INTEGER"]
            bw, signed = i.get("bitWidth", 32), i.get("isSigned", True)
            return {(8, True): pa.int8(), (16, True): pa.int16(),
                    (32, True): pa.int32(), (64, True): pa.int64(),
                    (8, False): pa.uint8(), (16, False): pa.uint16(),
                    (32, False): pa.uint32(),
                    (64, False): pa.uint64()}[(bw, signed)]
    if conv == ConvertedType.DECIMAL:
        return pa.decimal128(elem.get("precision", 18), elem.get("scale", 0))
    if conv == ConvertedType.INTERVAL:
        # FIXED(12): (months, days, millis) uint32 LE triples
        # (reference fastparquet/converted_types.py:244-247)
        return pa.month_day_nano_interval()
    if pt == Type.FIXED_LEN_BYTE_ARRAY:
        return pa.binary(elem.get("type_length", 1))
    if conv == ConvertedType.UTF8:
        return pa.string()
    if conv == ConvertedType.TIMESTAMP_MICROS:
        return pa.timestamp("us")
    if conv == ConvertedType.TIMESTAMP_MILLIS:
        return pa.timestamp("ms")
    if conv == ConvertedType.DATE:
        return pa.date32()
    if conv == ConvertedType.TIME_MILLIS:
        return pa.time32("ms")
    if conv == ConvertedType.TIME_MICROS:
        return pa.time64("us")
    if conv == ConvertedType.JSON:
        return pa.string()  # JSON annotates utf8 byte arrays
    if conv == ConvertedType.BSON:
        return pa.binary()
    if conv in (ConvertedType.INT_8,):
        return pa.int8()
    if conv in (ConvertedType.INT_16,):
        return pa.int16()
    if conv in (ConvertedType.UINT_8,):
        return pa.uint8()
    if conv in (ConvertedType.UINT_16,):
        return pa.uint16()
    if conv in (ConvertedType.UINT_32,):
        return pa.uint32()
    if conv in (ConvertedType.UINT_64,):
        return pa.uint64()
    return {Type.BOOLEAN: pa.bool_(), Type.INT32: pa.int32(),
            Type.INT64: pa.int64(), Type.INT96: pa.timestamp("ns"),
            Type.FLOAT: pa.float32(),
            Type.DOUBLE: pa.float64(), Type.BYTE_ARRAY: pa.binary()}[pt]


def _read_column_chunk(buf: bytes, cmd: dict, type_length: int = 0,
                       max_def: int = 1, max_rep: int = 0):
    """Returns (def_levels, rep_levels_or_None, non-null decoded values)
    of the ``cmd["num_values"]`` values whose pages start at byte 0 of
    ``buf`` (what :func:`_fetch_chunk` returns).

    ``max_def=0`` -> no definition levels precede
    the values (e.g. Impala-written REQUIRED columns,
    fastparquet/test/test_read.py:70-127 interop matrix).  ``max_rep>0``
    reads repetition levels too (nested columns — assembled by
    format/assembly.py)."""
    buf = memoryview(buf)  # page slices below are views, not copies
    ptype = cmd["type"]
    codec = cmd["codec"]
    n_total = cmd["num_values"]
    def_width = int(max_def).bit_length()
    rep_width = int(max_rep).bit_length()
    pos = 0

    dictionary = None
    all_defs: list[np.ndarray] = []
    all_reps: list[np.ndarray] = []
    pieces: list = []
    seen = 0
    while seen < n_total:
        ph, pos = thrift.read_struct("PageHeader", buf, pos, SPECS)
        page = buf[pos:pos + ph["compressed_page_size"]]
        pos += ph["compressed_page_size"]
        if ph["type"] == PageType.DICTIONARY_PAGE:
            raw = comp.decompress(page, codec, ph["uncompressed_page_size"])
            nd = ph["dictionary_page_header"]["num_values"]
            dictionary, _ = decode_plain(raw, ptype, nd, type_length=type_length)
            continue
        if ph["type"] == PageType.DATA_PAGE:
            raw = comp.decompress(page, codec, ph["uncompressed_page_size"])
            dph = ph["data_page_header"]
            # validate only the level streams actually PRESENT (writers
            # stamp BIT_PACKED on absent streams of flat columns):
            # legacy BIT_PACKED levels have no length prefix — decoding
            # them as length-prefixed hybrid produces silent garbage
            for lvl_key, present in (
                    ("definition_level_encoding", max_def > 0),
                    ("repetition_level_encoding", max_rep > 0)):
                enc_lvl = dph.get(lvl_key, Encoding.RLE)
                if present and enc_lvl != Encoding.RLE:
                    raise NotImplementedError(
                        f"{lvl_key}={enc_lvl} (only RLE levels are "
                        f"supported)")
            n = dph["num_values"]
            off = 0
            reps = None
            if max_rep:
                # u4-length-prefixed hybrid (fastparquet/core.py:108-143)
                reps, off = decode_hybrid(raw, rep_width, n, offset=off,
                                          length=None)
            if max_def:
                levels, off = decode_hybrid(raw, def_width, n, offset=off,
                                            length=None)
            else:
                levels = np.full(n, max_def, dtype=np.uint64)
        elif ph["type"] == PageType.DATA_PAGE_V2:
            # levels sit uncompressed ahead of the (separately compressed)
            # values section (fastparquet/core.py:195-412)
            dph = ph["data_page_header_v2"]
            n = dph["num_values"]
            rlen = dph.get("repetition_levels_byte_length", 0)
            dlen = dph.get("definition_levels_byte_length", 0)
            reps = None
            if rlen and max_rep:
                reps, _ = decode_hybrid(page, rep_width, n, offset=0,
                                        length=rlen)
            if dlen and max_def:
                levels, _ = decode_hybrid(page, def_width, n, offset=rlen,
                                          length=dlen)
            else:
                levels = np.full(n, max_def, dtype=np.uint64)
            vals_part = page[rlen + dlen:]
            if dph.get("is_compressed", True) and codec != 0:
                raw = comp.decompress(vals_part, codec,
                                      ph["uncompressed_page_size"] - rlen - dlen)
            else:
                raw = vals_part
            off = 0
        else:
            raise NotImplementedError(f"page type {ph['type']}")
        n_nonnull = int((levels == max_def).sum()) if max_def else n
        enc = dph["encoding"]
        if enc == Encoding.PLAIN:
            vals, off = decode_plain(raw, ptype, n_nonnull, offset=off,
                                     type_length=type_length)
        elif enc in (Encoding.PLAIN_DICTIONARY, Encoding.RLE_DICTIONARY):
            vals = ("codes", dict_decode_page(raw, n_nonnull, offset=off))
        elif enc == Encoding.DELTA_BINARY_PACKED:
            vals, off = delta_decode(raw, offset=off, count=n_nonnull,
                                     bit_width=32 if ptype == Type.INT32 else 64)
        elif enc == Encoding.RLE and ptype == Type.BOOLEAN:
            # RLE-encoded boolean values (length-prefixed hybrid, width 1)
            bits, off = decode_hybrid(raw, 1, n_nonnull, offset=off, length=None)
            vals = bits.astype(bool)
        elif enc == Encoding.BYTE_STREAM_SPLIT:
            # modern encodings (codecs/split.py) — BEYOND the reference's
            # read set (fastparquet/core.py:130-165): pyarrow/Spark emit
            # these for float and string columns
            from fastparquet_spark.codecs.split import bss_decode

            vals, off = bss_decode(raw, ptype, n_nonnull, offset=off,
                                   type_length=type_length)
        elif enc == Encoding.DELTA_LENGTH_BYTE_ARRAY and ptype == Type.BYTE_ARRAY:
            from fastparquet_spark.codecs.split import dlba_decode

            vals, off = dlba_decode(raw, n_nonnull, offset=off)
        elif enc == Encoding.DELTA_BYTE_ARRAY and ptype in (
                Type.BYTE_ARRAY, Type.FIXED_LEN_BYTE_ARRAY):
            from fastparquet_spark.codecs.split import dba_decode

            vals, off = dba_decode(raw, n_nonnull, offset=off)
            if ptype == Type.FIXED_LEN_BYTE_ARRAY:
                lengths, data = vals
                vals = data.reshape(n_nonnull, type_length) if n_nonnull \
                    else data.reshape(0, type_length)
        else:
            raise NotImplementedError(f"encoding {enc}")
        all_defs.append(np.asarray(levels, dtype=np.int64))
        if max_rep:
            all_reps.append(np.asarray(
                reps if reps is not None else np.zeros(n, np.uint64),
                dtype=np.int64))
        # accumulate pieces; ONE concatenate after the loop — a
        # per-page running _concat copies O(pages^2) bytes and made
        # multi-page chunk reads quadratic (r6 profile: 0.9s of a
        # 1.3s chunk read in np.concatenate at 80 pages)
        pieces.append(_materialize(vals, dictionary, ptype))
        seen += n
    if not pieces:
        out_vals = None
    elif len(pieces) == 1:
        out_vals = pieces[0]
    elif ptype == Type.BYTE_ARRAY:
        out_vals = (np.concatenate([p[0] for p in pieces]),
                    np.concatenate([p[1] for p in pieces]))
    else:
        out_vals = np.concatenate(pieces)
    defs = np.concatenate(all_defs) if all_defs else np.zeros(0, np.int64)
    reps_out = np.concatenate(all_reps) if (max_rep and all_reps) else None
    return defs, reps_out, out_vals


def _materialize(vals, dictionary, ptype):
    if isinstance(vals, tuple) and len(vals) == 2 and isinstance(vals[0], str) and vals[0] == "codes":
        codes = vals[1]
        if ptype == Type.BYTE_ARRAY:
            # Arrow's take gathers the strings in C; 64-bit offsets so
            # an expansion past 2 GiB cannot wrap
            lengths, data = dictionary
            offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
            np.cumsum(lengths, out=offsets[1:])
            labels = pa.Array.from_buffers(
                pa.large_binary(), len(lengths),
                [None, pa.py_buffer(offsets), pa.py_buffer(data)])
            out = labels.take(pa.array(codes, pa.int64()))
            out_offs = np.frombuffer(out.buffers()[1], np.int64,
                                     count=len(out) + 1)
            return np.diff(out_offs), np.frombuffer(
                out.buffers()[2], np.uint8, count=int(out_offs[-1]))
        return np.asarray(dictionary)[codes]
    return vals


def _fill_rows(validity: np.ndarray, vals, nulls: bool, dtype,
               row_shape: tuple = ()) -> np.ndarray:
    """The non-null ``vals`` at their rows of a zero-filled array — or
    ``vals`` themselves, uncopied, when no row is null (copied only if
    they sit misaligned in their page: Arrow wants aligned values)."""
    if not nulls and vals is not None:
        return np.require(vals, dtype, ("C", "A"))
    full = np.zeros((len(validity),) + row_shape, dtype=dtype)
    if vals is not None:
        full[validity] = vals
    return full


def _binary_array(validity: np.ndarray, nulls: bool, vals, text: bool,
                  vbuf, null_count: int) -> pa.Array:
    """String (``text``) or binary array over decoded (lengths, data);
    64-bit offsets only when the data passes what int32 offsets hold."""
    lengths, data = vals
    n = len(validity)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(_fill_rows(validity, lengths, nulls, np.int64), out=offsets[1:])
    if int(offsets[-1]) >= 2**31:  # int32 offsets would wrap
        typ = pa.large_utf8() if text else pa.large_binary()
    else:
        typ = pa.utf8() if text else pa.binary()
        offsets = offsets.astype(np.int32)
    return pa.Array.from_buffers(
        typ, n, [vbuf, pa.py_buffer(offsets),
                 pa.py_buffer(np.ascontiguousarray(data))],
        null_count=null_count)


def _to_arrow(validity: np.ndarray, vals, elem: dict) -> pa.Array:
    """Arrow array over the decoded buffers: ``pa.py_buffer`` wraps the
    NumPy arrays without copying them."""
    at = _arrow_type(elem)
    n = len(validity)
    nulls = not validity.all()
    vbuf_ = pa.py_buffer(np.packbits(validity, bitorder="little")) if nulls else None
    nc_ = int((~validity).sum()) if nulls else 0
    if pa.types.is_decimal(at):
        if vals is not None and getattr(vals, "ndim", 1) == 2:
            # FIXED-backed decimal: big-endian two's complement bytes ->
            # 16-byte little-endian decimal128 storage with sign extension
            w = vals.shape[1]
            sign = np.where(vals[:, 0] >= 128, 255, 0).astype(np.uint8)
            full16 = np.repeat(sign[:, None], 16, axis=1)
            full16[:, :w] = vals[:, ::-1]
            storage = _fill_rows(validity, full16, nulls, np.uint8, (16,))
            return pa.Array.from_buffers(
                at, n, [vbuf_, pa.py_buffer(storage)], null_count=nc_)
        if isinstance(vals, tuple) and len(vals) == 2:
            # variable-length BINARY decimal (parquet-avro/-java emit
            # these): big-endian two's complement unscaled bytes per
            # value — rare foreign path, decoded per value
            import decimal as _dec

            lengths, data = vals
            scale = elem.get("scale", 0)
            cum = np.concatenate(([0], np.cumsum(lengths)))
            dbytes = memoryview(np.ascontiguousarray(data))
            out = [None] * n
            vi = 0
            for i in range(n):
                if validity[i]:
                    u = int.from_bytes(
                        dbytes[cum[vi]:cum[vi + 1]], "big", signed=True)
                    out[i] = _dec.Decimal(u).scaleb(-scale)
                    vi += 1
            return pa.array(out, type=at)
        # int64 unscaled -> decimal128 storage (low word + sign extension)
        low = _fill_rows(validity, vals, nulls, np.int64)
        words = np.empty((n, 2), dtype=np.int64)
        words[:, 0] = low
        words[:, 1] = low >> 63
        return pa.Array.from_buffers(at, n, [vbuf_, pa.py_buffer(words)],
                                     null_count=nc_)
    if at == pa.month_day_nano_interval():
        # FIXED(12) LE (months, days, millis) -> arrow's 16-byte
        # (int32 months, int32 days, int64 nanoseconds) storage
        st = np.zeros((n, 16), dtype=np.uint8)
        if vals is not None and len(vals):
            raw = np.ascontiguousarray(vals, dtype=np.uint8)
            k = len(raw)
            part = np.zeros((k, 16), dtype=np.uint8)
            part[:, :8] = raw[:, :8]  # months + days pass through
            ns = raw[:, 8:12].copy().view("<u4").ravel().astype("<i8") * 1_000_000
            part[:, 8:] = ns.view(np.uint8).reshape(k, 8)
            st[validity] = part
        return pa.Array.from_buffers(at, n, [vbuf_, pa.py_buffer(st)],
                                     null_count=nc_)
    if elem["type"] == Type.FIXED_LEN_BYTE_ARRAY:
        full = _fill_rows(validity, vals, nulls, np.uint8, (at.byte_width,))
        return pa.Array.from_buffers(at, n, [vbuf_, pa.py_buffer(full)],
                                     null_count=nc_)
    if elem["type"] == Type.INT96:
        # INT96 -> datetime64[ns]: nanos-of-day (low 8B LE) + Julian day
        # (reference fastparquet/converted_types.py:159-162)
        stamps = None
        if vals is not None and len(vals):
            raw = np.ascontiguousarray(vals, dtype=np.uint8)
            nanos = raw[:, :8].copy().view("<i8").ravel()
            julian = raw[:, 8:].copy().view("<i4").ravel().astype(np.int64)
            stamps = (julian - 2440588) * 86_400_000_000_000 + nanos
        full = _fill_rows(validity, stamps, nulls, np.int64)
        return pa.Array.from_buffers(pa.timestamp("ns"), n,
                                     [vbuf_, pa.py_buffer(full)],
                                     null_count=nc_)
    if elem["type"] == Type.BYTE_ARRAY:
        if vals is None:
            vals = (np.zeros(0, np.int64), np.zeros(0, np.uint8))
        return _binary_array(validity, nulls, vals, at == pa.string(),
                             vbuf_, nc_)
    np_dtype = {pa.bool_(): np.bool_, pa.int32(): np.int32, pa.int64(): np.int64,
                pa.float32(): np.float32, pa.float64(): np.float64}.get(at)
    if pa.types.is_timestamp(at) or pa.types.is_time64(at):
        np_dtype = np.int64
    elif pa.types.is_date32(at) or pa.types.is_time32(at):
        np_dtype = np.int32
    elif np_dtype is None:
        np_dtype = np.dtype(at.to_pandas_dtype())
    full = _fill_rows(validity, vals, nulls, np_dtype)
    if at == pa.bool_():
        full = np.packbits(full, bitorder="little")
    return pa.Array.from_buffers(at, n, [vbuf_, pa.py_buffer(full)],
                                 null_count=nc_)


class _ByteSource:
    """Ranged access to one parquet file — in-memory bytes, a path read
    through the fs seam, or an open file object — behind every read:
    one validated footer read, then ranged fetches (page index spans,
    whole column chunks or their kept pages), so reading one projected
    column from a 10 GB file moves only that column's bytes (+ the
    footer), never the file."""

    def __init__(self, source, fs=None):
        self.name = getattr(source, "name", "<file-like>")
        self._own = False  # close only a handle opened here
        if isinstance(source, (bytes, bytearray, memoryview)):
            # ranges are views of the one immutable copy
            self._buf = memoryview(bytes(source))
            self._f = None
        elif isinstance(source, (str, os.PathLike)):
            self.name = source = os.fspath(source)
            self._buf = None
            self._f = get_fs(source, fs).open_read(source)
            self._own = True
        else:  # file-like: must support seek/read; the caller's to close
            self._buf = None
            self._f = source

    def range(self, start: int, size: int) -> bytes:
        if self._buf is not None:
            return self._buf[start:start + size]
        self._f.seek(start)
        return self._f.read(size)

    def footer(self) -> dict:
        """The footer, validated (a length that does not fit the file
        raises ``ValueError``); sets ``data_end``, the footer's start.
        A file is read with the tail routine every footer read shares,
        :func:`fastparquet_spark.io.read_tail`."""
        if self._buf is not None:
            fmd = read_footer(self._buf)
            self.data_end = len(self._buf) - 8 - int.from_bytes(
                self._buf[-8:-4], "little")
            return fmd
        self._f.seek(0, 2)
        size = self._f.tell()
        tail = read_tail(self._f, size, self.name)
        self.data_end = size - len(tail)
        return read_footer_tail(tail)

    def close(self):
        if self._own:
            self._f.close()


def _chunk_start(cmd: dict) -> int:
    # dictionary_page_offset == 0 is a NO-DICTIONARY sentinel some
    # writers emit (parquet-mr guards with > 0); trusting it put the
    # chunk start at byte 0 and parsed the PAR1 magic as a PageHeader
    dpo = cmd.get("dictionary_page_offset")
    if dpo is not None and dpo > 0:
        return min(dpo, cmd["data_page_offset"])
    return cmd["data_page_offset"]


def _chunk_bounds(fmd: dict, data_end: int) -> dict[int, int]:
    """chunk start -> end offset, derived from the NEXT chunk's start
    (or the footer) rather than ``total_compressed_size`` — some writers
    (incl. the reference, fastparquet/writer.py:633-641) under-report
    that field, and page loops must never read truncated bytes."""
    starts = sorted({_chunk_start(cc["meta_data"])
                     for rg in fmd["row_groups"] for cc in rg["columns"]})
    bounds = {}
    for i, s in enumerate(starts):
        bounds[s] = starts[i + 1] if i + 1 < len(starts) else data_end
    return bounds


def _fetch_chunk(src: _ByteSource, cmd: dict, bounds: dict[int, int],
                 locs=None, keep=None) -> bytes:
    """The one chunk fetch, its first page at byte 0: the whole chunk,
    from :func:`_chunk_start` to its end in ``bounds``
    (:func:`_chunk_bounds`) in one ranged read; or, given
    the chunk's OffsetIndex page ``locs`` and a kept-page mask
    ``keep``, the bytes ahead of its first indexed page (the
    dictionary page) plus the kept pages."""
    start = _chunk_start(cmd)
    if keep is None:
        return src.range(start, bounds[start] - start)
    spans = [(start, locs[0]["offset"] - start)] + [
        (loc["offset"], loc["compressed_page_size"])
        for loc, k in zip(locs, keep) if k]
    return b"".join(src.range(at, size) for at, size in spans if size)


def _table(children, arrays, num_rows: int) -> pa.Table:
    """Table of the top-level ``children``'s decoded ``arrays``; with
    no array, ``num_rows`` rows of no column."""
    if not arrays:
        return pa.table([pa.nulls(num_rows)], names=[""]).select([])
    return pa.Table.from_arrays(arrays, schema=pa.schema(
        [pa.field(c.name, a.type, nullable=c.repetition != 0)
         for c, a in zip(children, arrays)]))


def _concat(parts: list[pa.Table]) -> pa.Table:
    """``parts`` as one Table, keeping the row count of zero-column
    parts (``concat_tables`` drops it); permissive: a string column can
    promote to large_utf8 in only the row groups whose byte total
    crosses 2 GiB."""
    if not parts[0].num_columns:
        return _table([], [], sum(p.num_rows for p in parts))
    return pa.concat_tables(parts, promote_options="permissive")


def _read_row_group(src: _ByteSource, rg, tree, columns=None,
                    bounds: dict[int, int] | None = None,
                    pages=None) -> pa.Table:
    """One row group as a Table — the one row-group decoder behind
    every read: ``read_file``, ``read_row_groups``, ``iter_row_groups``,
    ``head``, the api facade and ``dataset.read_pages``.  ``columns``
    projects top-level columns (None: all).  ``pages`` is ``(index,
    grid, keep)``: the group's page index (one entry or None per
    chunk), its pages' first rows and a kept-page mask; the kept pages
    alone are decoded when every projected column is a flat leaf whose
    index has that grid, else every page.  The Table has the decoded
    rows' count even when no column is projected."""
    from fastparquet_spark.format.assembly import assemble_column, leaves

    pos = {tuple(cc["meta_data"]["path_in_schema"]): i
           for i, cc in enumerate(rg["columns"])}
    children = [c for c in tree.children
                if columns is None or c.name in columns]
    n = rg["num_rows"]
    if pages is not None:
        # every decoded column must share the kept-page row set, or
        # column lengths diverge: one column without an index on the
        # grid (e.g. a NaN page omitted it) decodes the whole group
        index, grid, keep = pages
        if all(c.is_leaf and c.r == 0
               and (ix := index[pos[(c.name,)]]) is not None
               and [loc["first_row_index"] for loc in ix["locations"]]
               == grid for c in children):
            n = sum(b - a for a, b, k in zip(grid, grid[1:] + [n], keep)
                    if k)
        else:
            pages = None

    def chunk(path, leaf):
        i = pos[path]
        cmd = rg["columns"][i]["meta_data"]
        if pages is None:
            blob = _fetch_chunk(src, cmd, bounds)
        else:
            blob = _fetch_chunk(src, cmd, bounds, index[i]["locations"],
                                keep)
            cmd = dict(cmd, num_values=n)
        return _read_column_chunk(blob, cmd, leaf.elem.get("type_length", 0),
                                  max_def=leaf.d, max_rep=leaf.r)

    arrays = []
    for child in children:
        if child.is_leaf and child.r == 0:
            # flat column: the common fast path (no assembly layer)
            defs, _reps, vals = chunk((child.name,), child)
            validity = defs.astype(bool) if child.d else \
                np.ones(n, dtype=bool)
            arrays.append(_to_arrow(validity, vals, child.elem))
        else:
            arrays.append(assemble_column(
                child, {path: chunk(path, leaf) for path, leaf in leaves(tree)
                        if path[0] == child.name}, _to_arrow))
    return _table(children, arrays, n)


def _empty_table(tree, columns=None) -> pa.Table:
    """Zero-row table with the footer schema's REAL Arrow types — a
    zero-row-group file must not degrade to null-typed columns (they
    fail pa.concat_tables against populated parts)."""
    from fastparquet_spark.format.assembly import assemble_column, leaves

    children = [c for c in tree.children
                if columns is None or c.name in columns]
    arrays = []
    for child in children:
        if child.is_leaf and child.r == 0:
            arrays.append(_to_arrow(np.zeros(0, dtype=bool), None,
                                    child.elem))
        else:
            arrays.append(assemble_column(child, {
                path: (np.zeros(0, np.int32), np.zeros(0, np.int32), None)
                for path, _leaf in leaves(tree) if path[0] == child.name},
                _to_arrow))
    return _table(children, arrays, 0)


def _row_groups(source, indices, columns):
    """The readers' one open-and-loop body: open ``source``, read its
    footer and schema tree, yield the tree, then decode and
    yield one Table per row group in ``indices`` (every group when
    None).  The source closes when the generator ends or is closed."""
    from fastparquet_spark.format.assembly import build_tree

    src = _ByteSource(source)
    try:
        fmd = src.footer()
        tree = build_tree(fmd["schema"])
        yield tree
        bounds = _chunk_bounds(fmd, src.data_end)
        rgs = fmd["row_groups"]
        for i in range(len(rgs)) if indices is None else indices:
            yield _read_row_group(src, rgs[i], tree, columns, bounds)
    finally:
        src.close()


def iter_row_groups(source, columns=None):
    """Yield one pyarrow Table per row group — the reference's streaming
    chunk iteration (fastparquet/api.py:321-337 iter_row_groups), with
    column projection (only the selected chunks are decoded,
    fastparquet/core.py:570-577)."""
    groups = _row_groups(source, None, columns)
    next(groups)
    yield from groups


def read_file(source, columns=None) -> pa.Table:
    """Read a parquet file (path, bytes or file-like) into a pyarrow
    Table, optionally projecting — flat columns plus nested
    LIST/MAP/struct schemas (Dremel assembly, format/assembly.py).
    Paths are read through the fs seam with one ranged fetch per column
    chunk (footer tail first), so a projection of a huge file moves only
    the selected columns' bytes."""
    return read_row_groups(source, None, columns)


def read_row_groups(source, indices, columns=None) -> pa.Table:
    """Read only the selected row groups (the reference's ``__getitem__``
    slicing, fastparquet/api.py:252-276; ``indices`` None reads them
    all) — ranged chunk reads, so unselected row groups move zero
    bytes."""
    with closing(_row_groups(source, indices, columns)) as groups:
        tree = next(groups)
        parts = list(groups)
    return _concat(parts) if parts else _empty_table(tree, columns)


def head(source, n: int = 5, columns=None) -> pa.Table:
    """First ``n`` rows (the reference's ``head``, fastparquet/
    api.py:231-250): decodes row groups only until ``n`` rows exist."""
    got = []
    have = 0
    for tbl in iter_row_groups(source, columns):
        got.append(tbl.slice(0, n - have))
        have += got[-1].num_rows
        if have >= n:
            break
    if not got:
        return read_file(source, columns).slice(0, 0)
    return _concat(got)
