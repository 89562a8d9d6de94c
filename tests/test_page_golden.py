"""Golden bytes for every page-assembly path of the writers.

One fixed seeded table goes through each way the parquet writer and the
FPSC container writer assemble page bodies (v1 single page, v2, v1
paged with a bloom filter, dictionary / PLAIN / DELTA columns, LIST /
MAP / STRUCT leaves, INT96 times, REQUIRED columns, the modern
encodings, every block codec).  Each output's sha256 must equal the
value recorded before the page buffers stopped being Python ``bytes``:
how a page is built in memory may change, the file bytes may not.
Spark-free.
"""

from __future__ import annotations

import hashlib
import io

import numpy as np
import pyarrow as pa
import pytest

from fastparquet_spark.codecs.compression import CODECS
from fastparquet_spark.format import read_file, write_file
from fastparquet_spark.format.container import read_container, write_container

N = 3000


def _table() -> pa.Table:
    rng = np.random.default_rng(20240917)
    valid = rng.random(N) > 0.1
    words = np.array([f"word{i:03d}" for i in range(40)])
    text = ["".join(rng.choice(list("abcdefgh ijk"), rng.integers(0, 60)))
            for _ in range(N)]
    list_lens = rng.integers(0, 4, N)
    list_vals = rng.integers(-50, 50, int(list_lens.sum()))
    list_offs = np.concatenate(([0], np.cumsum(list_lens)))
    lists = [None if i % 17 == 0 else
             list_vals[list_offs[i]:list_offs[i + 1]].tolist()
             for i in range(N)]
    maps = [None if i % 13 == 0 else
            [(f"k{j}", int(i * 3 + j)) for j in range(i % 3)]
            for i in range(N)]
    structs = [None if i % 11 == 0 else
               {"a": int(i), "b": None if i % 5 == 0 else f"s{i % 9}"}
               for i in range(N)]
    ts = np.datetime64("2021-03-04", "us") + \
        rng.integers(0, 10**12, N).astype("timedelta64[us]")
    return pa.table({
        "id": pa.array(np.arange(N, dtype=np.int64) * 7 + 1000),
        "cat": pa.array(rng.choice(words, N), mask=~valid),
        "text": pa.array(text),
        "score": pa.array(rng.normal(0, 1, N)),
        "small": pa.array(rng.integers(-2**31, 2**31 - 1, N)
                          .astype(np.int32), mask=~valid),
        "flag": pa.array(rng.random(N) < 0.5),
        "ts": pa.array(ts, mask=rng.random(N) < 0.05),
        "lst": pa.array(lists, pa.list_(pa.int64())),
        "mp": pa.array(maps, pa.map_(pa.string(), pa.int32())),
        "st": pa.array(structs, pa.struct([("a", pa.int32()),
                                           ("b", pa.string())])),
    })


def _write(**kw) -> bytes:
    buf = io.BytesIO()
    write_file(buf, _table(), **kw)
    return buf.getvalue()


def _container() -> bytes:
    buf = io.BytesIO()
    t = _table().drop_columns(["mp", "st"])
    write_container(buf, t, compression="ZSTD", bloom_filters={"id": True})
    return buf.getvalue()


def _container_pretrained() -> bytes:
    """A container written as an engine task writes it: FSST tables and
    string codec decisions fixed on a head sample, then applied."""
    from fastparquet_spark.format.container import FpscFormat

    t = _table().drop_columns(["mp", "st"])
    fmt = FpscFormat.trained(t.slice(0, 500))
    buf = io.BytesIO()
    write_container(buf, t, compression="ZSTD", fsst_cache=fmt.fsst_cache,
                    codec_decisions=fmt.decisions,
                    bloom_filters={"cat": 0.05})
    return buf.getvalue()


# one entry per page-assembly path; the codec matrix is below
PATHS = {
    "v1": lambda: _write(compression="ZSTD"),
    "v1_rowgroups": lambda: _write(compression="SNAPPY", row_group_rows=1000),
    "v2": lambda: _write(compression="ZSTD", data_page_version=2),
    "v2_uncompressed": lambda: _write(compression="UNCOMPRESSED",
                                      data_page_version=2),
    "v1_paged_bloom": lambda: _write(compression="ZSTD", page_rows=700,
                                     bloom_filters={"id": True, "cat": 0.05}),
    "forced_encodings": lambda: _write(
        compression="ZSTD",
        encodings={"id": "plain", "cat": "plain", "text": "dict",
                   "small": "delta"}),
    "int96": lambda: _write(compression="ZSTD", times="int96"),
    "required": lambda: _write(compression="ZSTD",
                               required_cols=["id", "text", "score"]),
    "modern": lambda: _write(compression="ZSTD", compat="modern"),
    "v1_paged_required_modern": lambda: _write(
        compression="ZSTD", page_rows=700, compat="modern",
        required_cols=["id", "text", "score"],
        encodings={"small": "delta", "text": "dict"}),
    "column_codecs": lambda: _write(
        compression={"_default": "ZSTD", "text": "SNAPPY", "lst": None,
                     "mp": "GZIP"}),
    "fpsc": _container,
    "fpsc_pretrained": _container_pretrained,
}

GOLDEN = {
    "column_codecs": "13060f4a101112b853230154d039f089ce8cf18ebf377c629c03224bcba9dfdd",
    "forced_encodings": "de309cac9435eac8a66cb991fa125220aedf5a2b3355a50eb53e763512dd8a46",
    "fpsc": "9de1ea6a9e274d25645c2e5b19b5cdf6e52b8058c7a79dd55a3eccf298a353aa",
    "fpsc_pretrained": "0408a68130b69e37a991224170eccd1690c60d36409989fe1892b41c5d26b398",
    "int96": "135890a6b34ca7995bdf3d89631f07a0ce29ac356dbac3b17b0ee7401f7ba25a",
    "modern": "92b6ec664a91a9b66fdeba81979aac30d664c3cdaa755844387e4b57236d2ee8",
    "required": "82db2a46701495db52da62d5b8d8ffb33c7d9de3038bf87b6f926a5d5c3ece75",
    "v1": "35bf600b112ead7c7ac2b5443397060072ad64d92c9888a2ff4033f52cb56d22",
    "v1_paged_bloom": "20038438360f2215a64e686da2a943241d4199b2568b8c9e877f8c4bed128faa",
    "v1_paged_required_modern": "700028eca04bd93bcf439277c3b7c501e9733b0dbc397023c08676eaec76a21a",
    "v1_rowgroups": "346c64e29a27ab66dbd7f49ef5d3da5787c7ecd81375ff7bf7907f8635015624",
    "v2": "4c0b4b3ad7e95df23ceba974932334aed5cea6afbc2208491cf89ed88a89e324",
    "v2_uncompressed": "a9d7532c15b55b9b6ef1bad7cdecdcb8bae56af8b216ff609dad086a9b480fd2",
}

GOLDEN_CODECS = {
    "BROTLI": "16cfb6485ea8280c53ada1c91b74badaabbedd40c889c0557261217075dde415",
    "GZIP": "40d924674ae779c8b910bcc575b0fc3151bc515c808605d73a7aeda80f654b57",
    "LZ4": "d898803337ad487a912e2d9e0ee6e296ab99f10d06a4452687c94ad3bf5055d9",
    "LZ4_RAW": "45ecc0cb4bee9c0fc9317d4e08f53bf82e52cf31746177197c37512ccc9ed74f",
    "NONE": "475a1eb5df9dfddc7ca06c6950da665e96ef5f6caf76b123ec63debfb22be592",
    "SNAPPY": "eb4f04d64a76afdd0f72b66277335a235ea1bd64e925cf9a1a37091a2f782674",
    "UNCOMPRESSED": "475a1eb5df9dfddc7ca06c6950da665e96ef5f6caf76b123ec63debfb22be592",
    "ZSTD": "35bf600b112ead7c7ac2b5443397060072ad64d92c9888a2ff4033f52cb56d22",
}


def _sha(blob: bytes) -> str:
    return hashlib.sha256(blob).hexdigest()


@pytest.mark.parametrize("path", sorted(PATHS))
def test_golden_bytes_per_assembly_path(path):
    assert _sha(PATHS[path]()) == GOLDEN[path]


@pytest.mark.parametrize("codec", sorted(CODECS))
def test_golden_bytes_per_codec(codec):
    assert _sha(_write(compression=codec)) == GOLDEN_CODECS[codec]


def test_golden_bytes_without_native_kernels(monkeypatch):
    """The numpy/Arrow fallbacks of the C kernels assemble the same
    bytes."""
    import fastparquet_spark.codecs.native as native

    monkeypatch.setenv("FPS_DISABLE_NATIVE", "1")
    monkeypatch.setattr(native, "_lib", None)
    monkeypatch.setattr(native, "_lib_tried", False)
    for path in ("v1", "v2", "v1_paged_bloom", "fpsc"):
        assert _sha(PATHS[path]()) == GOLDEN[path], path


def test_golden_table_covers_every_encoding_and_reads_back():
    """The fixed table really exercises dictionary, PLAIN and DELTA
    columns, and every golden file decodes to the written table."""
    t = _table()
    res = write_file(io.BytesIO(), t, compression="ZSTD")
    assert {"dict", "plain", "delta"} <= {c.encoding for c in res.columns}
    for path in ("v1", "v1_rowgroups", "v2", "v2_uncompressed",
                 "v1_paged_bloom", "forced_encodings", "required", "int96",
                 "modern", "v1_paged_required_modern", "column_codecs"):
        assert read_file(PATHS[path]()).cast(t.schema).equals(t), path
    back = read_container(_container())
    assert back.equals(t.drop_columns(["mp", "st"]))
