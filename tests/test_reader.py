"""The one parquet reader (format/reader.py), Spark-free: every footer
read validates its length, and every read keeps the row count of a
zero-column projection."""

from __future__ import annotations

import io

import pyarrow as pa
import pytest

from fastparquet_spark import api
from fastparquet_spark.format.container import (
    read_container_footer, write_container,
)
from fastparquet_spark.format.dataset import filter_pages, read_pages
from fastparquet_spark.format.reader import (
    head, iter_row_groups, read_file, read_row_groups,
)
from fastparquet_spark.format.writer import write_file

TABLE = pa.table({"i": pa.array(range(200), pa.int64()),
                  "s": pa.array([f"v{i % 7}" for i in range(200)])})


def _parquet() -> bytes:
    buf = io.BytesIO()
    write_file(buf, TABLE, row_group_rows=50, page_rows=10)
    return buf.getvalue()


def _container() -> bytes:
    buf = io.BytesIO()
    write_container(buf, TABLE)
    return buf.getvalue()


# a footer length past the file's start, the two magics alone, and the
# tail of a good file cut short of its footer
BAD = {
    "bogus_length": lambda good: good[:-8]
    + (2 * len(good)).to_bytes(4, "little") + good[-4:],
    "magics_only": lambda good: good[-4:] * 2,
    "last_40_bytes": lambda good: good[-40:],
}


def _at(tmp_path, blob: bytes, name: str) -> str:
    path = tmp_path / name
    path.write_bytes(blob)
    return str(path)


READERS = {
    "read_file(bytes)": lambda blob, tmp: read_file(blob),
    "read_file(path)": lambda blob, tmp: read_file(
        _at(tmp, blob, "bad.parquet")),
    "read_pages": lambda blob, tmp: read_pages(
        _at(tmp, blob, "bad.parquet"), [("i", "<", 5)]),
    "ParquetFile(file object)": lambda blob, tmp: api.ParquetFile(
        io.BytesIO(blob)),
}


@pytest.mark.parametrize("reader", [*READERS, "read_container_footer"])
@pytest.mark.parametrize("bad", BAD)
def test_bad_footer_length_raises_value_error(tmp_path, bad, reader):
    if reader == "read_container_footer":
        path = _at(tmp_path, BAD[bad](_container()), "bad.fpsc")
        with pytest.raises(ValueError):
            read_container_footer(path)
        return
    with pytest.raises(ValueError):
        READERS[reader](BAD[bad](_parquet()), tmp_path)


def test_zero_column_reads_keep_the_row_count(tmp_path):
    path = _at(tmp_path, _parquet(), "t.parquet")
    assert read_file(path, columns=[]).num_rows == 200
    assert read_row_groups(path, None, columns=[]).num_rows == 200
    assert read_row_groups(path, [1, 3], columns=[]).num_rows == 100
    assert [t.num_rows for t in iter_row_groups(path, columns=[])] == \
        [50] * 4
    assert head(path, 70, columns=[]).num_rows == 70
    flt = [("i", "<", 25)]
    kept = sum(n for _rg, _first, n in filter_pages(path, flt))
    assert kept == 30  # three 10-row pages of row group 0
    assert read_pages(path, flt, columns=[], exact=False).num_rows == kept
    assert read_pages(path, flt, columns=[], exact=True).num_rows == 25
    assert read_pages(path, [], columns=[], row_groups=[2]).num_rows == 50
    got = read_pages(path, flt, columns=[], exact=False)
    assert got.num_columns == 0


def test_a_callers_file_object_stays_open():
    """The reader closes only the handles it opened itself: a file
    object the caller passes in can be read again afterwards."""
    f = io.BytesIO(_parquet())
    first = read_file(f)
    assert not f.closed
    assert read_file(f).equals(first)
    assert not f.closed
    assert first.equals(TABLE)
