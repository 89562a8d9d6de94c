#!/usr/bin/env python
"""Read a fixed file matrix through every parquet read entry point and
print one hash per (file, call), so two checkouts can be compared.

    python scripts/reader_identity.py /tmp/rid > rids.jsonl

Spark-free, ~20 s.  Files: our v1, v2, paged+bloom, dictionary,
REQUIRED and LIST/MAP/STRUCT files, a pyarrow file with a page index,
a pyarrow file whose columns' page grids do not line up, a paged file
whose non-dictionary chunks carry the ``dictionary_page_offset == 0``
sentinel, and a two-partition hive dataset.  Calls: ``read_file``
(path and bytes), ``read_row_groups`` (subsets, one column, no
column), ``iter_row_groups``, ``head``, ``read_pages`` (three filters x
exact True/False x projections None / one column / none x row-group
subsets), ``filter_pages`` and ``api.ParquetFile`` ``to_pandas`` /
``count``.  FPSC containers (nulls, a LIST column, fsst, plain and
delta blocks, bloom filters, an empty container) go through
``read_container`` (path and bytes, whole and projected, a missing
column) and ``read_container_footer`` (path and bytes).  A Table hashes as its schema, row count and one combined
IPC batch, a DataFrame as its dtypes and its Arrow form; a call that
raises prints the exception's type.  ``<out>`` is emptied first; each
file's own sha256 is printed too, so a writer difference cannot pass
for a reader one.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

N = 1000
FILTERS = [[("i", "<", 150)],
           [[("i", ">=", 900)], [("i", "in", [5, 407])]],
           []]


def _flat(n=N):
    return pa.table({
        "i": pa.array(range(n), pa.int64()),
        "x": pa.array([None if i % 7 == 0 else i * 3 for i in range(n)],
                      pa.int64()),
        "f": pa.array([i / 4 for i in range(n)], pa.float64()),
        "s": pa.array([f"v{i % 13}" if i % 11 else None for i in range(n)]),
        "b": pa.array([bytes([i % 256]) * (i % 5) for i in range(n)],
                      pa.binary()),
        "d": pa.array([datetime.date(2020, 1, 1)
                       + datetime.timedelta(days=i) for i in range(n)]),
        "t": pa.array([i * 1_000_003 for i in range(n)], pa.timestamp("us")),
        "m": pa.array([decimal.Decimal(i).scaleb(-2) for i in range(n)],
                      pa.decimal128(9, 2)),
        "o": pa.array([i % 3 == 0 for i in range(n)]),
    })


def _nested(n=N):
    return pa.table({
        "i": pa.array(range(n), pa.int64()),
        "lst": pa.array([None if i % 9 == 0 else list(range(i % 4))
                         for i in range(n)], pa.list_(pa.int64())),
        "mp": pa.array([[(f"k{i % 3}", i)] if i % 5 else None
                        for i in range(n)], pa.map_(pa.string(), pa.int64())),
        "st": pa.array([None if i % 6 == 0 else {"a": i, "b": f"s{i}"}
                        for i in range(n)],
                       pa.struct([("a", pa.int64()), ("b", pa.string())])),
    })


def _sentinel(src: str, dst: str):
    """``src`` with ``dictionary_page_offset`` 0 on every chunk that has
    no dictionary page, the footer re-serialized (pages untouched)."""
    from fastparquet_spark.format import thrift
    from fastparquet_spark.format.metadata import MAGIC, SPECS
    from fastparquet_spark.format.reader import read_footer

    blob = open(src, "rb").read()
    fmd = read_footer(blob)
    flen = int.from_bytes(blob[-8:-4], "little")
    for rg in fmd["row_groups"]:
        for cc in rg["columns"]:
            cc["meta_data"].setdefault("dictionary_page_offset", 0)
    body = thrift.write_struct("FileMetaData", fmd, SPECS)
    with open(dst, "wb") as f:
        f.write(blob[:len(blob) - 8 - flen] + body
                + len(body).to_bytes(4, "little") + MAGIC)


def build(out: str) -> dict[str, str]:
    from fastparquet_spark.format.writer import write_file

    flat = _flat()
    files = {}

    def ours(name, tbl, **kw):
        files[name] = os.path.join(out, name + ".parquet")
        write_file(files[name], tbl, row_group_rows=300, **kw)

    ours("v1", flat, compression="ZSTD")
    ours("v2", flat, data_page_version=2)
    ours("paged_bloom", flat, page_rows=64,
         bloom_filters={"s": 0.01, "i": True})
    ours("dictionary", flat, encodings={"s": "dict", "i": "dict",
                                        "x": "dict"})
    ours("required", flat.drop_columns(["x", "s"]), required_cols=["i", "b"],
         page_rows=100)
    ours("nested", _nested())
    ours("paged100", flat, page_rows=100)
    files["sentinel"] = os.path.join(out, "sentinel.parquet")
    _sentinel(files.pop("paged100"), files["sentinel"])
    for name, size in (("pyarrow_index", 2048), ("unaligned", 256)):
        files[name] = os.path.join(out, name + ".parquet")
        pq.write_table(flat, files[name], row_group_size=400,
                       write_page_index=True, data_page_size=size,
                       use_dictionary=name == "pyarrow_index")
    hive = os.path.join(out, "hive")
    for k in ("a", "b"):
        os.makedirs(os.path.join(hive, f"k={k}"))
        write_file(os.path.join(hive, f"k={k}", "part-0.parquet"),
                   flat.slice(0 if k == "a" else 500, 500),
                   row_group_rows=200, page_rows=50)
    files["hive"] = hive
    return files


def build_fpsc(out: str) -> dict[str, str]:
    """FPSC containers: one with the codecs chosen by size, one with
    every string column pinned to fsst, one pinned to plain, and an
    empty one."""
    from fastparquet_spark.format.container import write_container

    tbl = _flat().drop_columns(["m"]).append_column(
        "lst", _nested().column("lst"))
    files = {}
    for name, kw in (
            ("fpsc_auto", {"bloom_filters": {"s": 0.01, "i": True}}),
            ("fpsc_fsst", {"codec_decisions": {"s": "fsst", "b": "fsst"},
                           "compression": "SNAPPY"}),
            ("fpsc_plain", {"codec_decisions": {"s": "plain", "b": "plain"},
                            "bloom_filters": {"x": True}}),
            ("fpsc_empty", {})):
        files[name] = os.path.join(out, name + ".fpsc")
        write_container(files[name], tbl.slice(0, 0)
                        if name == "fpsc_empty" else tbl, **kw)
    return files


def fpsc_calls(path: str):
    """(label, thunk) of every container read call on one file."""
    from fastparquet_spark.format.container import (
        read_container, read_container_footer,
    )

    blob = open(path, "rb").read()
    for src, label in ((path, "path"), (blob, "bytes")):
        yield f"read_container({label})", lambda src=src: read_container(src)
        for cols in (["i"], ["s", "i"], ["lst", "x", "t"], ["i", "zz"],
                     ["zz"]):
            yield (f"read_container({label}){cols}",
                   lambda src=src, cols=cols: read_container(src,
                                                             columns=cols))
        yield (f"read_container_footer({label})",
               lambda src=src: read_container_footer(src))


def digest(obj) -> str:
    """sha256 of a Table (schema, rows, one combined IPC batch), a
    DataFrame (dtypes, index names and its Arrow form), or anything
    else's repr."""
    h = hashlib.sha256()
    if isinstance(obj, pa.Table):
        h.update(str(obj.schema).encode() + str(obj.num_rows).encode())
        if obj.num_columns:
            one = pa.Table.from_arrays(
                [c.combine_chunks() for c in obj.columns], schema=obj.schema)
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, one.schema) as w:
                w.write_table(one, max_chunksize=1 << 30)
            h.update(sink.getvalue().to_pybytes())
    elif hasattr(obj, "to_json"):
        h.update(repr(list(obj.dtypes.items())).encode())
        h.update(repr(list(obj.index.names)).encode())
        try:
            h.update(digest(pa.Table.from_pandas(obj)).encode())
        except pa.ArrowException:  # a MAP column reads back as tuples
            h.update(repr(obj.to_dict("list")).encode())
    else:
        h.update(repr(obj).encode())
    return h.hexdigest()[:16]


def calls(path: str):
    """(label, thunk) of every read call on one file."""
    from fastparquet_spark import api
    from fastparquet_spark.format.dataset import filter_pages, read_pages
    from fastparquet_spark.format.reader import (
        head, iter_row_groups, read_file, read_row_groups,
    )

    one = ["i"]
    yield "read_file", lambda: read_file(path)
    yield "read_file(bytes)", lambda: read_file(open(path, "rb").read())
    yield "read_file[i]", lambda: read_file(path, columns=one)
    yield "read_file[]", lambda: read_file(path, columns=[])
    yield "read_row_groups[1]", lambda: read_row_groups(path, [1])
    yield "read_row_groups[0,2][i]", lambda: read_row_groups(path, [0, 2],
                                                             columns=one)
    yield "read_row_groups[1][]", lambda: read_row_groups(path, [1],
                                                          columns=[])
    yield "read_row_groups(None)[]", lambda: read_row_groups(path, None,
                                                             columns=[])
    yield "iter_row_groups", lambda: [digest(t) for t in iter_row_groups(path)]
    yield "iter_row_groups[i]", lambda: [
        digest(t) for t in iter_row_groups(path, columns=one)]
    yield "head5", lambda: head(path, 5)
    yield "head500[i]", lambda: head(path, 500, columns=one)
    for fi, flt in enumerate(FILTERS):
        yield f"filter_pages f{fi}", lambda flt=flt: filter_pages(path, flt)
        for exact in (False, True):
            for cols in (None, one, []):
                for rgs in (None, {0, 2}):
                    yield (f"read_pages f{fi} exact={exact} cols={cols} "
                           f"rgs={sorted(rgs) if rgs else None}",
                           lambda flt=flt, exact=exact, cols=cols, rgs=rgs:
                           read_pages(path, flt, columns=cols, exact=exact,
                                      row_groups=rgs))
    yield "pf.to_pandas", lambda: api.ParquetFile(path).to_pandas()
    yield "pf.to_pandas[i] f0 row_filter", lambda: api.ParquetFile(
        path).to_pandas(columns=one, filters=FILTERS[0], row_filter=True)
    yield "pf.count", lambda: api.ParquetFile(path).count()
    yield "pf.count f1", lambda: api.ParquetFile(path).count(FILTERS[1])
    yield "pf.count f1 row_filter", lambda: api.ParquetFile(path).count(
        FILTERS[1], row_filter=True)


def hive_calls(root: str):
    from fastparquet_spark import api

    yield "pf.to_pandas", lambda: api.ParquetFile(root).to_pandas()
    yield "pf.to_pandas[k]", lambda: api.ParquetFile(root).to_pandas(
        columns=["k"])
    yield "pf.to_pandas[k] f0 row_filter", lambda: api.ParquetFile(
        root).to_pandas(columns=["k"], filters=FILTERS[0], row_filter=True)
    yield "pf.count", lambda: api.ParquetFile(root).count()
    yield "pf.count f1 row_filter", lambda: api.ParquetFile(root).count(
        FILTERS[1], row_filter=True)


def main(out: str):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, path in build(out).items():
        if os.path.isfile(path):
            print(json.dumps({"file": name, "sha256": hashlib.sha256(
                open(path, "rb").read()).hexdigest()[:16]}))
        for label, thunk in (hive_calls(path) if name == "hive"
                             else calls(path)):
            try:
                h = digest(thunk())
            except Exception as e:  # noqa: BLE001 - recorded, not hidden
                h = f"raises {type(e).__name__}"
            print(json.dumps({"file": name, "call": label, "hash": h}))
    for name, path in build_fpsc(out).items():
        print(json.dumps({"file": name, "sha256": hashlib.sha256(
            open(path, "rb").read()).hexdigest()[:16]}))
        for label, thunk in fpsc_calls(path):
            try:
                h = digest(thunk())
            except Exception as e:  # noqa: BLE001 - recorded, not hidden
                h = f"raises {type(e).__name__}"
            print(json.dumps({"file": name, "call": label, "hash": h}))


if __name__ == "__main__":
    main(sys.argv[1])
