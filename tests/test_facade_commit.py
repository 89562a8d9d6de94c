"""Spark-free: the facade's ``api.write`` follows the staged-commit
protocol (engine/commit.py), and ``api.merge`` builds its sidecar from
one footer fetch per file.

Every ``api.write`` file is written to a stage name and published only
once all of them are written, so a write that raises leaves the
target's file list and sidecar bytes as they were: a simple overwrite,
a fresh hive write and a hive append.  Its directory listing stays as it was too: the key
directories the write made are removed again.  Paths may be ``file://``
URIs.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.dataset as pds
import pytest

from fastparquet_spark import api
from fastparquet_spark.api import ParquetFile, write


def _state(root: str):
    """(every file under ``root``, relative, sorted; the sidecar bytes)."""
    if os.path.isfile(root):
        with open(root, "rb") as fh:
            return [os.path.basename(root)], fh.read()
    files = sorted(os.path.relpath(os.path.join(r, f), root)
                   for r, _, fs in os.walk(root) for f in fs)
    side = os.path.join(root, "_metadata")
    with open(side, "rb") as fh:
        return files, fh.read()


def _listing(root) -> list[str]:
    """Every directory and file under ``root``, relative, sorted."""
    return sorted(os.path.relpath(os.path.join(r, n), root)
                  for r, ds, fs in os.walk(root) for n in ds + fs)


def _frame(keys, values):
    return pd.DataFrame({"k": keys, "v": values})


# has_nulls=False declares "v" REQUIRED: a None in it fails the write
# inside the writer, after the files of earlier keys were written
_BAD = _frame([3, 4], ["c", None])


@pytest.mark.parametrize("case", ["simple_overwrite", "hive_fresh",
                                  "hive_append"])
def test_failed_write_leaves_target_unchanged(tmp_path, case):
    out = str(tmp_path / ("f.parquet" if case == "simple_overwrite"
                          else "ds"))
    if case == "simple_overwrite":
        write(out, _frame([1, 2], ["a", "b"]), has_nulls=False)
        kw = {}
    else:
        write(out, _frame([1, 2], ["a", "b"]), file_scheme="hive",
              partition_on=["k"], has_nulls=False)
        kw = {"file_scheme": "hive", "partition_on": ["k"],
              "append": case == "hive_append"}
    before, listed = _state(out), _listing(tmp_path)
    with pytest.raises(ValueError, match="declared non-null"):
        write(out, _BAD, has_nulls=False, **kw)
    assert _state(out) == before  # no stage, no stub, same sidecar
    assert _listing(tmp_path) == listed  # no empty k=3/, k=4/
    assert sorted(ParquetFile(out).to_pandas()["v"]) == ["a", "b"]
    if case != "simple_overwrite":
        assert pds.dataset(out, partitioning="hive").count_rows() == 2


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_failed_write_to_new_directory_leaves_nothing(tmp_path, scheme):
    """A failed hive write removes every directory it made: the target,
    its key directories and the target's missing ancestors."""
    for target in ("ds", "new/ds", "new/deeper/ds"):
        with pytest.raises(ValueError, match="declared non-null"):
            write(f"{scheme}{tmp_path}/{target}", _BAD, has_nulls=False,
                  file_scheme="hive", partition_on=["k"])
        assert os.listdir(tmp_path) == []


def test_failed_publish_takes_back_the_renamed_finals(tmp_path, monkeypatch):
    """A hive append whose second publish rename fails takes back the
    first final: the target holds exactly its old data files and no
    stage."""
    from pyarrow.fs import LocalFileSystem

    from fastparquet_spark.io import ArrowFS

    out = str(tmp_path / "ds")
    write(out, _frame([1, 2], ["a", "b"]), file_scheme="hive",
          partition_on=["k"])
    data_before = [f for f in _state(out)[0] if not f.startswith("_")]

    class FailSecondReplace(ArrowFS):
        calls = 0

        def replace(self, src, dst):
            FailSecondReplace.calls += 1
            if FailSecondReplace.calls == 2:
                raise OSError("injected rename failure")
            super().replace(src, dst)

    monkeypatch.setattr(api, "get_fs", lambda path, fs=None:
                        FailSecondReplace(LocalFileSystem(), ""))
    with pytest.raises(OSError, match="injected"):
        write(out, _frame([3, 4], ["c", "d"]), file_scheme="hive",
              partition_on=["k"], append=True)
    files = sorted(os.path.relpath(os.path.join(r, f), out)
                   for r, _, fs in os.walk(out) for f in fs)
    assert files == data_before  # sidecars dropped, readers list files
    assert sorted(ParquetFile(out).to_pandas()["v"]) == ["a", "b"]


def test_file_uri_writes_round_trip(tmp_path):
    df = _frame([1, 1, 2], ["a", "b", "c"])
    simple = f"file://{tmp_path}/s.parquet"
    write(simple, df)
    pd.testing.assert_frame_equal(ParquetFile(simple).to_pandas(), df)
    hive = f"file://{tmp_path}/h"
    write(hive, df, file_scheme="hive", partition_on=["k"])
    write(hive, _frame([3], ["d"]), file_scheme="hive", partition_on=["k"],
          append=True)
    got = ParquetFile(hive).to_pandas()
    assert sorted(zip(got["k"].astype(int), got["v"])) == \
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")]
    assert os.path.exists(f"{tmp_path}/h/_metadata")
    assert not [f for _, _, fs in os.walk(tmp_path) for f in fs
                if ".stage-" in f]


def test_merge_fetches_each_footer_once(tmp_path, monkeypatch):
    """``merge`` reads each input footer once, for the sidecar merge,
    which also judges the schemas: a mismatch raises whatever
    ``verify_schema`` says."""
    import fastparquet_spark.format.dataset as dataset
    from fastparquet_spark.io import fetch_footers

    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"p{i}.parquet"))
        write(paths[-1], _frame([i], [f"v{i}"]))
    fetched: list[str] = []

    def counting(ps, fs=None, **kw):
        fetched.extend(ps)
        return fetch_footers(ps, fs, **kw)

    monkeypatch.setattr(dataset, "fetch_footers", counting)
    pf = api.merge(paths)
    assert sorted(fetched) == sorted(paths)
    assert pf.count() == 3
    write(str(tmp_path / "bad.parquet"), pd.DataFrame({"other": [1]}))
    for verify in (True, False):
        with pytest.raises(ValueError, match="schemas differ"):
            api.merge([paths[0], str(tmp_path / "bad.parquet")],
                      verify_schema=verify)
