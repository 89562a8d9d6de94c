"""The facade's one Arrow -> pandas conversion (``ParquetFile._frame``):
every read surface returns the written frame; a column whose every
chunk is dictionary-encoded, and a hive partition column, come back
with one Python object per distinct value; a PLAIN-stored column
comes back with a fresh object per row; and ``count(row_filter=True)``
counts Arrow rows without building a frame.  Spark-free."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fastparquet_spark.api import ParquetFile, write
from fastparquet_spark.format.metadata import Encoding

N = 600
DICT_ENCS = {Encoding.PLAIN_DICTIONARY, Encoding.RLE_DICTIONARY}


def _frame(n=N):
    rng = np.random.default_rng(11)
    return pd.DataFrame({
        "lang": [["py", "rust", "golang"][i % 3] for i in range(n)],
        "uniq": [f"row-{i:05d}-{int(v)}"
                 for i, v in enumerate(rng.integers(0, 1 << 30, n))],
        "name": [None if i % 5 == 0 else ["alpha", "beta"][i % 2]
                 for i in range(n)],
        "blob": [None if i % 7 == 0 else f"b-{i % 4}".encode()
                 for i in range(n)],
        "rep": [f"value-{i % 3}" for i in range(n)],
        "i": pd.array([None if i % 4 == 0 else i << 40 for i in range(n)],
                      dtype="Int64"),
        "b": pd.array([None if i % 3 == 0 else i % 2 == 0
                       for i in range(n)], dtype="boolean"),
        # the facade stores times as microseconds
        "t": pd.date_range("2024-03-01", periods=n, freq="h",
                           tz="Europe/Berlin", unit="us"),
        "d": [datetime.date(2020, 1, 1) + datetime.timedelta(days=i)
              for i in range(n)],
        "td": pd.to_timedelta(np.arange(n), unit="s").astype(
            "timedelta64[us]"),
        "cat": pd.Categorical([["x", "y"][i % 2] for i in range(n)]),
    })


def _encodings(pf):
    """Column -> set of encodings over every chunk of the footers."""
    out: dict[str, set] = {}
    for rg in pf.row_groups:
        for ch in rg["columns"]:
            md = ch["meta_data"]
            out.setdefault(md["path_in_schema"][0], set()).update(
                md["encodings"])
    return out


def _shares(s: pd.Series) -> bool:
    """At most one object per distinct value (None included)."""
    return s.map(id).nunique() <= s.nunique(dropna=False)


@pytest.fixture
def one_file(tmp_path):
    df = _frame()
    path = str(tmp_path / "one.parquet")
    # ``rep`` repeats three values but is stored PLAIN
    write(path, df, row_group_offsets=100, encodings={"rep": "plain"})
    # DATE columns read back as datetime64 (reference
    # converted_types.py:189-191)
    return ParquetFile(path), df.assign(d=pd.to_datetime(df["d"]))


def test_every_surface_returns_the_written_frame(one_file):
    pf, want = one_file
    encs = _encodings(pf)
    for c in ("lang", "name", "blob", "cat"):
        assert encs[c] & DICT_ENCS, c
    for c in ("uniq", "rep"):
        assert not encs[c] & DICT_ENCS, c
    assert len(pf.row_groups) == 6

    pd.testing.assert_frame_equal(pf.to_pandas(), want)
    pd.testing.assert_frame_equal(pf.to_pandas(categories=["cat"]), want)
    pd.testing.assert_frame_equal(
        pd.concat(list(pf.iter_row_groups()), ignore_index=True), want)
    pd.testing.assert_frame_equal(
        pd.concat([pf.read_row_group_file(rg) for rg in pf.row_groups],
                  ignore_index=True), want)
    pd.testing.assert_frame_equal(pf.head(250), want.iloc[:250])
    cols = ["uniq", "lang", "i"]
    pd.testing.assert_frame_equal(pf.to_pandas(columns=cols), want[cols])
    # an empty result carries the same dtypes
    none = pf.to_pandas(filters=[("lang", "==", "cobol")], row_filter=True)
    assert len(none) == 0
    assert none.dtypes.astype(str).equals(want.dtypes.astype(str))


def test_dictionary_columns_share_objects_plain_ones_do_not(one_file):
    pf, want = one_file
    got = pf.to_pandas()
    # dictionary-stored: one object per distinct value, across all six
    # row groups (the memory the reference's shared labels save)
    for c in ("lang", "name", "blob"):
        assert _shares(got[c]), c
    # PLAIN-stored: a fresh object per row, even for repeated values
    assert got["rep"].map(id).nunique() == N
    assert got["uniq"].map(id).nunique() == N
    for df in pf.iter_row_groups():
        assert _shares(df["lang"]) and _shares(df["blob"])


def test_hive_partition_column_shares_objects(tmp_path):
    df = _frame()[["lang", "uniq", "rep"]]
    df["k"] = np.arange(N, dtype=np.int64)
    df["part"] = [["north", "south"][i % 2] for i in range(N)]
    out = str(tmp_path / "ds")
    write(out, df, row_group_offsets=100, file_scheme="hive",
          partition_on=["part"])
    pf = ParquetFile(out)
    # hive files hold their rows in key order, the partition column last
    want = pd.concat([df[df.part == p] for p in ("north", "south")],
                     ignore_index=True)
    got = pf.to_pandas()
    pd.testing.assert_frame_equal(got, want)
    assert _shares(got["part"]) and _shares(got["lang"])
    assert got["uniq"].map(id).nunique() == N
    pd.testing.assert_frame_equal(
        pd.concat(list(pf.iter_row_groups()), ignore_index=True), want)
    pd.testing.assert_frame_equal(
        pd.concat([pf.read_row_group_file(rg) for rg in pf.row_groups],
                  ignore_index=True), want)
    pd.testing.assert_frame_equal(pf.head(420), want.iloc[:420])


def test_pyarrow_dictionary_fallback_reads_back_equal(tmp_path):
    """A pyarrow chunk that starts dictionary-encoded and falls back to
    PLAIN pages mid-chunk lists a dictionary encoding, so its strings
    are shared; the values read back equal either way."""
    rng = np.random.default_rng(0)
    n = 60_000
    vals = [f"value-{int(v):08d}" for v in rng.integers(0, 40_000, n)]
    path = str(tmp_path / "fb.parquet")
    pq.write_table(pa.table({"s": vals, "i": np.arange(n)}), path,
                   use_dictionary=True, dictionary_pagesize_limit=20_000,
                   data_page_size=30_000)
    col = pq.ParquetFile(path).metadata.row_group(0).column(0)
    # the dictionary page holds a small part of the ~560 kB of distinct
    # values: the chunk fell back to PLAIN
    assert col.has_dictionary_page
    assert col.data_page_offset - col.dictionary_page_offset < 60_000
    pf = ParquetFile(path)
    assert "s" in pf._dict_columns
    want = pq.read_table(path).to_pandas()
    got = pf.to_pandas()
    pd.testing.assert_frame_equal(got, want)
    assert _shares(got["s"])
    pd.testing.assert_frame_equal(pf.head(100), want.iloc[:100])


@pytest.mark.parametrize("filters", [
    [("k", "<", 137)],
    [("lang", "==", "rust")],
    [("part", "==", "south")],
    [[("part", "==", "north"), ("k", ">=", 500)], [("lang", "in", ["py"])]],
], ids=["int", "string", "partition", "or"])
def test_row_filtered_count_builds_no_frame(tmp_path, monkeypatch, filters):
    df = _frame()[["lang", "uniq"]]
    df["k"] = np.arange(N, dtype=np.int64)
    df["part"] = [["north", "south"][i % 2] for i in range(N)]
    out = str(tmp_path / "ds")
    write(out, df, row_group_offsets=100, file_scheme="hive",
          partition_on=["part"])
    pf = ParquetFile(out)
    want = len(pf.to_pandas(filters=filters, row_filter=True))
    assert 0 < want < N

    def no_frame(*_a, **_k):
        raise AssertionError("count built a pandas frame")

    monkeypatch.setattr(ParquetFile, "_frame", no_frame)
    monkeypatch.setattr(ParquetFile, "to_pandas", no_frame)
    assert pf.count(filters, row_filter=True) == want
