"""FPSC — the engine's own column-container format (internal path).

FSST is not a Parquet-standard encoding, so FSST-coded columns cannot
live in the parquet-compat output (SURVEY.md §7.4).  This container is
the dual-mode answer: same codec kernels, own framing, used only where
we control both ends (intermediate shuffle spills, cache tiers).

Layout:
    b"FPSC"
    per column chunk: raw encoded blocks (see below)
    utf8 JSON footer {columns: [...], nrows}
    <u4 footer length> b"FPSC"

Per column:
    strings/binary -> FSST(table + blob) over the concatenated payload
                      (symbol matches may span row boundaries — decode
                      restores the exact byte stream, then re-splits by
                      the stored lengths), lengths DELTA_BINARY_PACKED,
                      optional zstd on top when it still helps;
    ints/timestamps -> PLAIN or DELTA (auto-selected), zstd;
    floats/bools    -> PLAIN, zstd;
    validity        -> RLE/bit-packed hybrid (the parquet def-levels
                      kernel, reused).

Everything is numpy/Arrow-buffer vectorized; runs inside mapInArrow.
"""

from __future__ import annotations

import io
import json
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from fastparquet_spark.codecs import compression as comp
from fastparquet_spark.codecs.bloom import bloom_fpps, build_bloom
from fastparquet_spark.codecs.delta import delta_decode, delta_encode
from fastparquet_spark.codecs.fsst import FsstTable, fsst_decode, fsst_train
from fastparquet_spark.codecs.plain import decode_plain, encode_plain
from fastparquet_spark.codecs.rle import decode_hybrid, encode_hybrid
from fastparquet_spark.codecs.selection import column_stats, delta_wins, fsst_trial
from fastparquet_spark.format.metadata import ConvertedType, Type
from fastparquet_spark.format.predicate import _apply_row_filter_dnf
from fastparquet_spark.format.reader import _binary_array, _fill_rows, _table
from fastparquet_spark.format.writer import _binary_parts, _map_type, _one_array
from fastparquet_spark.io import get_fs, read_tail

MAGIC = b"FPSC"


@dataclass
class ColumnBlock:
    name: str
    codec: str            # 'fsst' | 'plain' | 'delta'
    arrow_type: str       # serialized arrow type name
    n: int
    null_count: int
    raw_bytes: int
    enc_bytes: int


def _arrow_type_name(t: pa.DataType) -> str:
    if pa.types.is_list(t):
        # canonical child field name: Spark's Arrow batches say
        # "list<element: T>", pyarrow says "list<item: T>"
        return f"list<item: {_arrow_type_name(t.value_type)}>"
    return str(t)


_SIMPLE_TYPES = {
    "string": pa.string(), "large_string": pa.large_string(),
    "binary": pa.binary(), "large_binary": pa.large_binary(),
    "bool": pa.bool_(),
    "int8": pa.int8(), "int16": pa.int16(), "int32": pa.int32(),
    "int64": pa.int64(),
    "uint8": pa.uint8(), "uint16": pa.uint16(), "uint32": pa.uint32(),
    "uint64": pa.uint64(),
    "float": pa.float32(), "double": pa.float64(),
    "date32[day]": pa.date32(),
}


def _type_from_name(name: str) -> pa.DataType:
    if name in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[name]
    if name.startswith("list<item: ") and name.endswith(">"):
        return pa.list_(_type_from_name(name[len("list<item: "):-1]))
    if name.startswith("timestamp[") and name.endswith("]"):
        # "timestamp[us]" or "timestamp[us, tz=UTC]", as str() spells them
        unit, _, tz = name[len("timestamp["):-1].partition(", tz=")
        if unit in ("s", "ms", "us", "ns"):
            return pa.timestamp(unit, tz or None)
    raise ValueError(f"unsupported container type {name}")


def _fsst_table(fsst_cache: dict | None, name: str, data) -> FsstTable:
    """``name``'s symbol table: from ``fsst_cache`` when it holds one,
    else trained on ``data`` (and cached)."""
    ftab = None if fsst_cache is None else fsst_cache.get(name)
    if ftab is None:
        ftab = fsst_train(data)
        if fsst_cache is not None:
            fsst_cache[name] = ftab
    return ftab


def decide_string_codecs(table: pa.Table, fsst_cache: dict,
                         compression: str = "ZSTD") -> dict:
    """The fsst-vs-plain decision per string/binary column — run ONCE
    on the driver over a small head sample (the same sample that
    pretrains the FSST tables, cached in ``fsst_cache``), shipped to
    every encode task so workers never pay the losing codec's
    full-column trial.  It is ``selection.fsst_trial``, the trial
    ``write_container`` runs on an undecided column, with only the
    decision kept; the escape byte makes a 'fsst' decision safe for
    unseen data, and a sample-vs-full flip costs only ratio, never
    correctness."""
    codec = comp.codec_id(compression)
    out: dict[str, str] = {}
    for field in table.schema:
        if not (pa.types.is_string(field.type)
                or pa.types.is_large_string(field.type)
                or pa.types.is_binary(field.type)
                or pa.types.is_large_binary(field.type)):
            continue
        arr = _one_array(table.column(field.name))
        if arr.null_count:
            arr = arr.drop_null()
        if len(arr) == 0:
            continue
        lengths, data = _binary_parts(arr)
        out[field.name], _ = fsst_trial(
            lengths, data, codec, _fsst_table(fsst_cache, field.name, data))
    return out


def write_container(sink, table: pa.Table, compression: str = "ZSTD",
                    fsst_cache: dict | None = None,
                    bloom_filters: dict | None = None,
                    codec_decisions: dict | None = None) -> list[ColumnBlock]:
    """Write an Arrow table as an FPSC container; returns per-column lineage.

    ``fsst_cache`` ({column: FsstTable}) reuses symbol tables across
    containers of the same stream — training is the expensive half of
    FSST, and a table trained on the first chunk stays valid for later
    chunks (the escape byte covers anything unseen; only the ratio can
    drift).  The cache is consulted AND populated.

    Every codec choice is ``codecs/selection.py``'s: int columns go
    DELTA where ``delta_wins``, string columns through ``fsst_trial``.

    ``bloom_filters`` ({column: fpp or True}): append a split-block
    bloom filter (codecs/bloom.py, the same parquet-spec structure and
    the same builder as the parquet writer's) per listed non-boolean
    column and record its span in the footer — the container's
    point-lookup pruning path, probed by the scan planner
    (``dataset.filter_row_groups``) for ==/in predicates that min/max
    stats cannot discriminate.  A LIST column raises.

    ``codec_decisions`` ({column: 'fsst' | 'plain'}): pre-made string
    codec choices (from :func:`decide_string_codecs` on a driver-side
    sample) — the named column runs ONLY the winning path instead of
    the full dual trial (plain+compress AND fsst-encode+compress of the
    whole column), which was the dominant kernel cost of the container
    throughput path (r4 verdict #9: container kernel_secs 9.72 vs
    parquet 2.59 on identical input).  Undecided columns keep the
    measured dual trial."""
    own = isinstance(sink, str)
    f = get_fs(sink).open_write(sink) if own else sink
    codec = comp.codec_id(compression)
    try:
        f.write(MAGIC)
        pos = 4
        cols_meta = []
        blocks: list[ColumnBlock] = []
        blooms = bloom_fpps(bloom_filters, [
            fld.name for fld in table.schema if pa.types.is_list(fld.type)])
        built: dict[str, object] = {}  # name -> bloom filter
        for field in table.schema:
            arr = _one_array(table.column(field.name))
            # fail fast: anything the read path can't restore is rejected at
            # write time instead of producing an unreadable container
            _type_from_name(_arrow_type_name(field.type))
            if pa.types.is_list(field.type) and (
                    pa.types.is_list(field.type.value_type)
                    or pa.types.is_struct(field.type.value_type)
                    or pa.types.is_map(field.type.value_type)):
                raise ValueError(
                    f"unsupported container type {field.type}: lists of "
                    f"primitives only")
            n = len(arr)
            null_count = arr.null_count
            validity_b = b""
            if null_count:
                validity = arr.is_valid().to_numpy(zero_copy_only=False).astype(np.uint8)
                validity_b = encode_hybrid(validity, 1, prepend_length=True)
                arr_nn = arr.drop_null()
            else:
                arr_nn = arr
            if pa.types.is_list(field.type):
                # composite LIST block: row validity + delta-coded list
                # lengths + child validity + plain+codec child values
                parts, meta_extra, raw_bytes = _write_list_block(
                    arr_nn, validity_b, codec)
                size = _write_parts(f, parts)
                cols_meta.append({"name": field.name, "codec": "list",
                                  "arrow_type": _arrow_type_name(field.type),
                                  "ptype": _map_type(field.type.value_type)[0],
                                  "n": n, "null_count": null_count,
                                  "offset": pos, "size": size,
                                  "block_codec": codec, **meta_extra})
                blocks.append(ColumnBlock(field.name, "list",
                                          _arrow_type_name(field.type), n,
                                          null_count, raw_bytes, size))
                pos += size
                continue
            ptype, _, cast_to = _map_type(field.type)
            if (cast_to is not None and arr_nn.type != cast_to
                    and ptype != Type.BYTE_ARRAY
                    and not pa.types.is_timestamp(arr_nn.type)):
                # timestamps keep their native unit (int64 either way);
                # parquet's cast-to-µs would truncate ns and is not needed here
                arr_nn = arr_nn.cast(cast_to)

            parts = [validity_b]
            if ptype == Type.BYTE_ARRAY:
                lengths, data = _binary_parts(arr_nn)
                values = (lengths, data)
                raw_bytes = int(lengths.sum()) + 8 * len(lengths)
                # a pre-made decision skips the losing path's
                # full-column encode+compress entirely
                decision = (codec_decisions or {}).get(field.name)
                codec_name, sections = fsst_trial(
                    lengths, data, codec,
                    None if decision == "plain"
                    else _fsst_table(fsst_cache, field.name, data),
                    decision)
                parts += sections
            else:
                if pa.types.is_timestamp(arr_nn.type):
                    arr_nn = arr_nn.cast(pa.int64())
                elif pa.types.is_date32(arr_nn.type):
                    arr_nn = arr_nn.cast(pa.int32())
                values = vals = arr_nn.to_numpy(zero_copy_only=False)
                if vals.dtype == np.uint32:
                    vals = vals.view(np.int32)  # bit-reinterpret, like parquet
                elif vals.dtype == np.uint64:
                    vals = vals.view(np.int64)
                raw_bytes = vals.nbytes
                if ptype in (Type.INT32, Type.INT64) \
                        and delta_wins(column_stats(vals, ptype)):
                    codec_name = "delta"
                    raw = delta_encode(vals, bit_width=32 if ptype == Type.INT32 else 64)
                else:
                    codec_name = "plain"
                    raw = encode_plain(vals, ptype)
                body = comp.compress(raw, codec)
                parts += [len(raw).to_bytes(8, "little"),
                          len(body).to_bytes(8, "little"), body]
            if field.name in blooms:
                bf = build_bloom(values, ptype, blooms[field.name])
                if bf is not None:
                    built[field.name] = bf

            size = _write_parts(f, parts)
            cols_meta.append({"name": field.name, "codec": codec_name,
                              "arrow_type": _arrow_type_name(field.type),
                              "ptype": ptype, "n": n, "null_count": null_count,
                              "offset": pos, "size": size,
                              "block_codec": codec,
                              **_column_stats_meta(arr_nn, ptype)})
            blocks.append(ColumnBlock(field.name, codec_name,
                                      _arrow_type_name(field.type), n,
                                      null_count, raw_bytes, size))
            pos += size
        if built:
            by_name = {m["name"]: m for m in cols_meta}
            for name, bf in built.items():
                raw = bf.tobytes()
                f.write(raw)
                by_name[name]["bloom_offset"] = pos
                by_name[name]["bloom_bytes"] = len(raw)
                pos += len(raw)
        footer = json.dumps({"columns": cols_meta, "nrows": table.num_rows}).encode()
        f.write(footer)
        f.write(len(footer).to_bytes(4, "little"))
        f.write(MAGIC)
        return blocks
    finally:
        if own:
            f.close()


def _write_parts(f, parts) -> int:
    """Write a column block's sections back to back (no joined copy of
    the block); returns its size."""
    for part in parts:
        f.write(part)
    return sum(len(part) for part in parts)


def _write_list_block(arr_nn: pa.Array, validity_b,
                      codec: int) -> tuple[list, dict, int]:
    """The sections of a LIST column (non-null rows already selected):
    <row validity> <u4 + delta lengths> <u1 child-nulls flag [+ child
    validity]> <u8 raw + u8 comp + plain child values>."""
    import pyarrow.compute as pc

    from fastparquet_spark.format.writer import _extract

    offs = np.frombuffer(arr_nn.buffers()[1], dtype=np.int32,
                         count=len(arr_nn) + 1,
                         offset=arr_nn.offset * 4).astype(np.int64)
    lengths = np.diff(offs)
    lens_b = delta_encode(lengths)
    flat = pc.list_flatten(arr_nn)
    child_nulls = flat.null_count
    parts = [validity_b, len(lens_b).to_bytes(4, "little"), lens_b,
             bytes([1 if child_nulls else 0])]
    if child_nulls:
        cval = flat.is_valid().to_numpy(zero_copy_only=False).astype(np.uint8)
        parts.append(encode_hybrid(cval, 1, prepend_length=True))
        flat_nn = flat.drop_null()
    else:
        flat_nn = flat
    eptype, _, ecast = _map_type(flat_nn.type)
    if ecast is not None and flat_nn.type != ecast \
            and not pa.types.is_timestamp(flat_nn.type):
        # same exemption as the top-level path: timestamps keep their
        # NATIVE unit (int64 either way) — the parquet-style cast to µs
        # re-labeled list<timestamp[ms|ns]> values 1000x off on read
        #
        flat_nn = flat_nn.cast(ecast)
    raw = encode_plain(_extract(flat_nn, eptype), eptype)
    body = comp.compress(raw, codec)
    parts += [len(raw).to_bytes(8, "little"),
              len(body).to_bytes(8, "little"), body]
    return parts, {"child_n": len(flat), "child_null_count": child_nulls}, \
        int(lengths.sum()) * 8 + len(lengths) * 8


def _column_stats_meta(arr_nn: pa.Array, ptype: int) -> dict:
    """JSON-safe min/max for the footer (file-level pruning).  Omitted
    for NaN-containing floats (NaN ordering poisons pruning) and for
    strings longer than 64 chars (never truncated-and-kept)."""
    try:
        if len(arr_nn) == 0 or pa.types.is_boolean(arr_nn.type):
            return {}
        import pyarrow.compute as pc

        if pa.types.is_floating(arr_nn.type):
            if pc.any(pc.is_nan(arr_nn)).as_py():
                return {}
        mm = pc.min_max(arr_nn)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if isinstance(lo, str):
            if len(lo) > 64 or len(hi) > 64:
                return {}
        elif isinstance(lo, bytes):
            return {}
        elif not isinstance(lo, (int, float)):
            # timestamps/dates: store epoch ints for JSON
            mm = pc.min_max(arr_nn.cast(
                pa.int64() if arr_nn.type.bit_width == 64 else pa.int32()))
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
        return {"min": lo, "max": hi}
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, TypeError):
        return {}


def _open(source, fs=None):
    """``(file object, size, name)`` of a container given as bytes or
    as a path/URI (through the fs seam)."""
    if isinstance(source, (bytes, bytearray, memoryview)):
        buf = bytes(source)  # bytes stay uncopied
        return io.BytesIO(buf), len(buf), "<FPSC bytes>"
    fs = get_fs(source, fs)
    return fs.open_read(source), fs.size(source), source


def _footer(f, size: int, name: str) -> dict:
    return json.loads(read_tail(f, size, name, MAGIC)[:-8])


class FpscFormat:
    """The FPSC container format, under the format contract of
    ``format.dataset.ParquetFormat``: ``.fpsc`` files whose tails end
    in the FPSC magic, no sidecar, each chunk its own container.

    A container reads as ONE row group (``footer``); ``read`` fetches
    the projected columns with ranged reads and inflates them with the
    vectorized decoders (FSST expansion, delta prefix-sum, validity
    reassembly), and with ``exact`` runs the residual filter on the
    predicate columns too.  An instance writes: its FSST tables start
    from ``pretrained`` and are reused across the containers it writes
    (one task: each task unpickles its own); ``decisions`` fixes
    fsst-vs-plain per string column."""

    name, suffix, magic, sidecar = "FPSC", ".fpsc", MAGIC, False
    file_per_chunk = True

    def __init__(self, compression: str = "ZSTD", pretrained=None,
                 decisions=None, bloom_filters: dict | None = None):
        self.compression = compression
        self.fsst_cache = dict(pretrained or {})
        self.decisions = decisions
        self.bloom_filters = bloom_filters

    @classmethod
    def trained(cls, sample: pa.Table | None,
                compression: str = "ZSTD") -> FpscFormat:
        """The one pretrain step: tables trained and fsst-vs-plain fixed
        on a driver ``sample``, so tasks skip training and the losing
        codec's trial (the escape byte keeps unseen bytes correct; only
        the ratio can drift).  ``sample=None`` leaves both to each
        task."""
        pretrained: dict = {}
        decisions = {} if sample is None else decide_string_codecs(
            sample, pretrained, compression=compression)
        return cls(compression, pretrained, decisions)

    @staticmethod
    def footer(tail: bytes) -> dict:
        """footer -> meta: the container as a parquet-shaped footer of
        ONE row group.  Each column is a flat schema element (a LIST
        column too: the container decodes it whole) carrying its
        physical type, the unsigned annotation the bloom probe encodes
        by, and its container ``arrow_type`` (``dataset.leaf_type``);
        each chunk carries the footer's min/max (already values),
        null and value counts and bloom span."""
        meta = json.loads(tail[:-8])
        elems, chunks = [], []
        for cm in meta["columns"]:
            unsigned = cm["arrow_type"].startswith("uint")
            elems.append({
                "name": cm["name"], "type": cm["ptype"],
                "converted_type": (ConvertedType.UINT_32
                                   if cm["ptype"] == Type.INT32
                                   else ConvertedType.UINT_64)
                if unsigned else None,
                "arrow_type": cm["arrow_type"]})
            md = {"path_in_schema": [cm["name"]], "num_values": cm["n"],
                  "statistics": {"min": cm.get("min"), "max": cm.get("max"),
                                 "null_count": cm["null_count"]}}
            if "bloom_offset" in cm:
                md["bloom_filter_offset"] = cm["bloom_offset"]
                md["bloom_filter_length"] = cm["bloom_bytes"]
            chunks.append({"meta_data": md})
        n = meta["nrows"]
        return {"schema": [{"name": "schema", "num_children": len(elems)},
                           *elems],
                "num_rows": n, "row_groups": [{"num_rows": n,
                                               "columns": chunks}]}

    @staticmethod
    def bloom(blob: bytes, path: str, offset: int, fs):
        """A container bloom span is the bare bitset."""
        from fastparquet_spark.codecs.bloom import SplitBlockBloom

        return SplitBlockBloom.frombytes(blob)

    @staticmethod
    def read(path, ris, fclauses, cols, exact):
        if not (exact and all(fclauses)):
            yield read_container(path, columns=cols)
            return
        want = list(dict.fromkeys(
            [*cols, *(col for cl in fclauses for col, _op, _v in cl)]))
        yield _apply_row_filter_dnf(
            read_container(path, columns=want), fclauses).select(cols)

    def open(self, sink, schema):
        blocks = []

        def write(chunk: pa.Table):
            blocks.extend(write_container(
                sink, chunk, compression=self.compression,
                fsst_cache=self.fsst_cache, bloom_filters=self.bloom_filters,
                codec_decisions=self.decisions))
        return write, lambda: ({b.name: b.codec for b in blocks}, sink.tell())


def check_container_append(path: str, schema: pa.Schema) -> None:
    """The append check of ``format("fpsc")``: the containers under
    ``path`` plus one written with ``schema`` must pass the read's own
    union rule (``dataset.union_leaf_elems``), so a column that a
    container holds with another type raises ``ValueError`` before any
    task runs, and a new column is accepted (reads fill it with typed
    nulls).  A zone-aware timestamp is written in the task's session
    zone, unknown here; the union rule takes every zone of one unit as
    one type.  A path that is no directory takes any schema."""
    from fastparquet_spark.format.dataset import (
        load_dataset_metas, union_leaf_elems,
    )

    fs = get_fs(path)
    if not fs.isdir(path):
        return
    metas = load_dataset_metas(path, fs, FpscFormat)[1]
    new = [{"name": f.name, "arrow_type": _arrow_type_name(f.type)}
           for f in schema]
    union_leaf_elems([*metas, {"file": "the append", "fmd": {"schema": [
        {"name": "schema", "num_children": len(new)}, *new]}}])


def read_container_footer(source, fs=None) -> dict:
    """Footer-only read of an FPSC container (path/URI/bytes): the tail
    fetch every footer read shares, ``io.read_tail``, never data."""
    f, size, name = _open(source, fs)
    with f:
        return _footer(f, size, name)


def read_container(source, fs=None, columns=None) -> pa.Table:
    """Decode an FPSC container (path/URI/bytes) into an Arrow table.

    One footer read, then one ranged read and decode per column: with
    ``columns`` (a projection, kept in the caller's order; a name the
    container lacks raises ``KeyError``) only those columns' byte spans
    are fetched and inflated, never the whole container — the same
    contract as parquet column chunks.  A projection of no column
    returns the container's rows with no column."""
    f, size, name = _open(source, fs)
    with f:
        meta = _footer(f, size, name)
        by_name = {cm["name"]: cm for cm in meta["columns"]}
        names = list(by_name) if columns is None else list(columns)
        missing = set(names) - set(by_name)
        if missing:
            raise KeyError(f"columns not in container: {sorted(missing)}")
        arrays = {}
        for n in names:
            cm = by_name[n]
            f.seek(cm["offset"])
            arrays[n] = _decode_column(f.read(cm["size"]), cm)
    if not arrays:
        return _table([], [], meta["nrows"])
    return pa.table(arrays)


def _decode_column(buf, cm: dict) -> pa.Array:
    """Inflate one column from ``buf``, the column's byte span."""
    buf = memoryview(buf)  # block slices below are views, not copies
    pos = 0
    n = cm["n"]
    ptype = cm["ptype"]
    null_count = cm["null_count"]
    bcodec = cm["block_codec"]
    validity = np.ones(n, dtype=bool)
    if null_count:
        levels, pos = decode_hybrid(buf, 1, n, offset=pos)
        validity = levels.astype(bool)
    n_nn = int(validity.sum())
    if cm["codec"] == "list":
        return _decode_list_column(buf, cm, pos, validity, n_nn)
    if cm["codec"] == "fsst":
        tlen = int.from_bytes(buf[pos:pos + 4], "little"); pos += 4
        ftab, _ = FsstTable.deserialize(buf, pos); pos += tlen
        llen = int.from_bytes(buf[pos:pos + 4], "little"); pos += 4
        lengths, _ = delta_decode(buf[pos:pos + llen], count=n_nn); pos += llen
        blen = int.from_bytes(buf[pos:pos + 8], "little"); pos += 8
        slen = int.from_bytes(buf[pos:pos + 8], "little"); pos += 8
        bcodec2 = int.from_bytes(buf[pos:pos + 4], "little"); pos += 4
        stream = comp.decompress(buf[pos:pos + slen], bcodec2, blen) \
            if bcodec2 else buf[pos:pos + slen]
        data = fsst_decode(np.frombuffer(stream, np.uint8, count=blen), ftab)
        vals = (lengths, data)
    else:
        rawlen = int.from_bytes(buf[pos:pos + 8], "little"); pos += 8
        blen = int.from_bytes(buf[pos:pos + 8], "little"); pos += 8
        body = comp.decompress(buf[pos:pos + blen], bcodec, rawlen)
        if cm["codec"] == "delta":
            vals, _ = delta_decode(body, count=n_nn,
                                   bit_width=32 if ptype == Type.INT32 else 64)
        else:
            vals, _ = decode_plain(body, ptype, n_nn)
    return _assemble(validity, vals, cm)


def _decode_list_column(buf, cm: dict, pos: int, validity: np.ndarray,
                        n_nn: int) -> pa.Array:
    """Inflate a composite LIST block back to an arrow ListArray."""
    list_type = _type_from_name(cm["arrow_type"])
    n = cm["n"]
    lenlens = int.from_bytes(buf[pos:pos + 4], "little"); pos += 4
    lengths, _ = delta_decode(buf[pos:pos + lenlens], count=n_nn); pos += lenlens
    has_child_nulls = buf[pos]; pos += 1
    child_n = cm["child_n"]
    cvalidity = np.ones(child_n, dtype=bool)
    if has_child_nulls:
        levels, pos = decode_hybrid(buf, 1, child_n, offset=pos)
        cvalidity = levels.astype(bool)
    rawlen = int.from_bytes(buf[pos:pos + 8], "little"); pos += 8
    blen = int.from_bytes(buf[pos:pos + 8], "little"); pos += 8
    body = comp.decompress(buf[pos:pos + blen], cm["block_codec"], rawlen)
    vals, _ = decode_plain(body, cm["ptype"], int(cvalidity.sum()))
    child = _assemble(cvalidity, vals, {
        "ptype": cm["ptype"],
        "arrow_type": _arrow_type_name(list_type.value_type)})
    full_lens = np.zeros(n, dtype=np.int64)
    full_lens[validity] = lengths
    offsets = np.concatenate(([0], np.cumsum(full_lens))).astype(np.int32)
    nulls = not validity.all()
    vbuf = pa.py_buffer(np.packbits(validity, bitorder="little")) \
        if nulls else None
    return pa.Array.from_buffers(
        list_type, n, [vbuf, pa.py_buffer(offsets)],
        null_count=int((~validity).sum()) if nulls else 0,
        children=[child])


def _assemble(validity: np.ndarray, vals, cm: dict) -> pa.Array:
    """Arrow array over the decoded buffers, without copying them."""
    at = _type_from_name(cm["arrow_type"])
    n = len(validity)
    nulls = not validity.all()
    vbuf = pa.py_buffer(np.packbits(validity, bitorder="little")) if nulls else None
    nc = int((~validity).sum()) if nulls else 0
    if cm["ptype"] == Type.BYTE_ARRAY:
        text = at in (pa.string(), pa.large_string())
        return _binary_array(validity, nulls, vals, text, vbuf, nc).cast(at)
    if at == pa.bool_():
        full = _fill_rows(validity, vals, nulls, np.bool_)
        dbuf = pa.py_buffer(np.packbits(full, bitorder="little"))
        return pa.Array.from_buffers(at, n, [vbuf, dbuf], null_count=nc)
    np_dt = {pa.int8(): np.int8, pa.int16(): np.int16, pa.int32(): np.int32,
             pa.int64(): np.int64, pa.float32(): np.float32,
             pa.float64(): np.float64,
             pa.uint8(): np.uint8, pa.uint16(): np.uint16,
             pa.uint32(): np.uint32, pa.uint64(): np.uint64}.get(at, np.int64)
    if pa.types.is_timestamp(at):
        np_dt = np.int64
    elif at == pa.date32():
        np_dt = np.int32
    full = _fill_rows(validity, vals, nulls, np_dt)
    return pa.Array.from_buffers(at, n, [vbuf, pa.py_buffer(full)],
                                 null_count=nc)
