"""Single-threaded per-layer probes on a workload's own columns: the
``codecs`` kernels and the ``format`` file/container writer and reader.
Only the traced run calls these."""

from __future__ import annotations

import io
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from harness import MB, median

REPEATS = 3


def _timed(tracer, name: str, fn, repeats: int = REPEATS):
    """Median seconds of ``repeats`` calls (each one span) and the last
    result."""
    secs, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        with tracer.span(name):
            out = fn()
        secs.append(time.perf_counter() - t0)
    return median(secs), out


def _string_parts(arr: pa.Array):
    """(lengths int64, data uint8) of a string array without nulls."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    offs = np.frombuffer(arr.buffers()[1], np.int32, count=len(arr) + 1,
                         offset=arr.offset * 4)
    data = np.frombuffer(arr.buffers()[2], np.uint8)[offs[0]:offs[-1]]
    return np.diff(offs).astype(np.int64), data


def codec_layer(tracer, tbl: pa.Table) -> dict:
    """The public kernels on ``tbl``'s columns: the widest string column
    for byte-array/FSST/zstd, the lowest-cardinality string column for
    dictionary + RLE, the first integer column (else the widest string
    column's offsets) for delta."""
    from fastparquet_spark.codecs import (
        compress, decompress, delta_decode, delta_encode, dict_build,
        encode_hybrid, fsst_decode, fsst_encode, fsst_train,
        pack_byte_array, unpack_byte_array, width_from_max_int,
    )
    from fastparquet_spark.codecs.compression import codec_id
    from fastparquet_spark.codecs.plain import BYTE_ARRAY, INT64
    from fastparquet_spark.codecs.selection import (
        choose_encoding, column_stats, column_stats_arrow,
    )

    strings = [c for c in tbl.column_names
               if pa.types.is_string(tbl.schema.field(c).type)]
    ints = [c for c in tbl.column_names
            if pa.types.is_integer(tbl.schema.field(c).type)]
    wide = max(strings, key=lambda c: tbl.column(c).nbytes)
    narrow = min(strings, key=lambda c: pc.count_distinct(tbl.column(c)).as_py())
    lengths, data = _string_parts(tbl.column(wide).combine_chunks())
    if ints:
        ivals = tbl.column(ints[0]).to_numpy().astype(np.int64)
    else:
        ivals = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int64)

    def select():
        for c in tbl.column_names:
            arr = tbl.column(c)
            if pa.types.is_string(arr.type):
                choose_encoding(column_stats_arrow(arr), BYTE_ARRAY)
            elif pa.types.is_integer(arr.type):
                choose_encoding(column_stats(arr.to_numpy().astype(np.int64), INT64), INT64)

    m = {}
    m["codecs.select_s"], _ = _timed(tracer, "codecs.select", select)
    narrow_arr = tbl.column(narrow).combine_chunks()
    s, (codes, _labels) = _timed(tracer, "codecs.dict_build",
                                 lambda: dict_build(narrow_arr))
    m["codecs.dict_build_mbps"] = narrow_arr.nbytes / MB / s
    width = max(1, width_from_max_int(int(codes.max())))
    s, _ = _timed(tracer, "codecs.rle_encode", lambda: encode_hybrid(codes, width))
    m["codecs.rle_encode_mbps"] = codes.nbytes / MB / s
    s, dblob = _timed(tracer, "codecs.delta_encode", lambda: delta_encode(ivals))
    m["codecs.delta_encode_mbps"] = ivals.nbytes / MB / s
    s, _ = _timed(tracer, "codecs.delta_decode",
                  lambda: delta_decode(dblob, count=len(ivals)))
    m["codecs.delta_decode_mbps"] = ivals.nbytes / MB / s
    s, packed = _timed(tracer, "codecs.byte_array_pack",
                       lambda: pack_byte_array(lengths, data))
    m["codecs.byte_array_pack_mbps"] = data.nbytes / MB / s
    s, _ = _timed(tracer, "codecs.byte_array_unpack",
                  lambda: unpack_byte_array(packed, len(lengths)))
    m["codecs.byte_array_unpack_mbps"] = data.nbytes / MB / s
    m["codecs.fsst_train_s"], table = _timed(tracer, "codecs.fsst_train",
                                             lambda: fsst_train(data))
    s, blob = _timed(tracer, "codecs.fsst_encode", lambda: fsst_encode(data, table))
    m["codecs.fsst_encode_mbps"] = data.nbytes / MB / s
    blob = np.frombuffer(blob, np.uint8)
    s, _ = _timed(tracer, "codecs.fsst_decode", lambda: fsst_decode(blob, table))
    m["codecs.fsst_decode_mbps"] = data.nbytes / MB / s
    zstd = codec_id("ZSTD")
    s, comp = _timed(tracer, "codecs.zstd_compress", lambda: compress(packed, zstd))
    m["codecs.zstd_compress_mbps"] = len(packed) / MB / s
    s, _ = _timed(tracer, "codecs.zstd_decompress",
                  lambda: decompress(comp, zstd, len(packed)))
    m["codecs.zstd_decompress_mbps"] = len(packed) / MB / s
    return m


def format_layer(tracer, bench, tbl: pa.Table) -> dict:
    """Our parquet writer/reader and FPSC container writer/reader on
    ``tbl`` in memory; each round trip is checked."""
    from fastparquet_spark.format import read_file, write_file
    from fastparquet_spark.format.container import read_container, write_container

    def write_parquet():
        buf = io.BytesIO()
        write_file(buf, tbl, compression="ZSTD")
        return buf.getvalue()

    def write_fpsc():
        buf = io.BytesIO()
        write_container(buf, tbl, compression="ZSTD")
        return buf.getvalue()

    m = {}
    m["format.write_file_s"], pq_bytes = _timed(tracer, "format.write_file", write_parquet)
    m["format.read_file_s"], back = _timed(tracer, "format.read_file",
                                           lambda: read_file(pq_bytes))
    m["format.write_container_s"], c_bytes = _timed(tracer, "format.write_container",
                                                    write_fpsc)
    m["format.read_container_s"], back_c = _timed(tracer, "format.read_container",
                                                  lambda: read_container(c_bytes))
    for what, got in (("format.read_file", back), ("format.read_container", back_c)):
        bench.check(what, got.equals(tbl), "round trip differs from the written table")
    return m
