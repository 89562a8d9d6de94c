"""The one dataset opener, ``format/dataset.load_dataset_metas``: a
file, a list of files, a glob, a directory with and without its
``_metadata`` sidecar, and a ``file://`` URI of each, are opened the
same way by every reader — ``api.ParquetFile``, ``plan_splits``,
``similarity.footer_row_count`` and ``filter_row_groups``.  Spark-free.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from fastparquet_spark.analytics.similarity import footer_row_count
from fastparquet_spark.api import ParquetFile
from fastparquet_spark.engine.file_job import plan_splits
from fastparquet_spark.format import write_file
from fastparquet_spark.format.container import FpscFormat, write_container
from fastparquet_spark.format.dataset import (
    filter_row_groups, load_dataset_metas, write_metadata_sidecar,
)

ROWS = {"p1": 250, "p2": 400, "q": 130}  # file stem -> rows
RG_ROWS = 100


def _table(stem: str) -> pa.Table:
    n = ROWS[stem]
    return pa.table({"id": pa.array(range(n), pa.int64()),
                     "s": pa.array([f"{stem}{i % 7}" for i in range(n)])})


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    """``plain/`` (no sidecar) and ``side/`` (with one), each holding
    ``p1``, ``p2`` and ``q`` part files."""
    base = tmp_path_factory.mktemp("opener")
    out = {}
    for name in ("plain", "side"):
        d = base / name
        d.mkdir()
        for stem in ROWS:
            write_file(str(d / f"{stem}.parquet"), _table(stem),
                       row_group_rows=RG_ROWS)
        out[name] = str(d)
    write_metadata_sidecar(out["side"])
    return out


def _inputs(dirs):
    """``{case: (input, the files it names)}``."""
    plain, side = dirs["plain"], dirs["side"]
    cases = {
        "file": (f"{plain}/p1.parquet", [f"{plain}/p1.parquet"]),
        "list": ([f"{plain}/p1.parquet", f"{plain}/q.parquet"],
                 [f"{plain}/p1.parquet", f"{plain}/q.parquet"]),
        "glob": (f"{plain}/p*.parquet",
                 [f"{plain}/p1.parquet", f"{plain}/p2.parquet"]),
        "glob_class": (f"{plain}/[pq]1.parquet", [f"{plain}/p1.parquet"]),
        "glob_qmark": (f"{plain}/p?.parquet",
                       [f"{plain}/p1.parquet", f"{plain}/p2.parquet"]),
        "dir_sidecar": (side, [f"{side}/{s}.parquet" for s in ROWS]),
        "dir_listed": (plain, [f"{plain}/{s}.parquet" for s in ROWS]),
    }
    for case, (inp, files) in list(cases.items()):
        uri = ([f"file://{p}" for p in inp] if isinstance(inp, list)
               else f"file://{inp}")
        cases[f"uri_{case}"] = (uri, files)
    return cases


CASES = ["file", "list", "glob", "glob_class", "glob_qmark", "dir_sidecar",
         "dir_listed", "uri_file", "uri_list", "uri_glob", "uri_glob_class",
         "uri_glob_qmark", "uri_dir_sidecar", "uri_dir_listed"]


def _local(path: str) -> str:
    return os.path.normpath(path[len("file://"):]
                            if path.startswith("file://") else path)


@pytest.mark.parametrize("case", CASES)
def test_every_reader_sees_the_same_files_and_rows(dirs, case):
    inp, files = _inputs(dirs)[case]
    want_files = set(files)
    stems = [os.path.basename(f)[:-len(".parquet")] for f in files]
    want_rows = sum(ROWS[s] for s in stems)
    want_rgs = sum(-(-ROWS[s] // RG_ROWS) for s in stems)

    root, metas = load_dataset_metas(inp)
    assert {_local(f"{root}/{m['file']}") for m in metas} == want_files
    assert sum(m["fmd"]["num_rows"] for m in metas) == want_rows

    pf = ParquetFile(inp)
    assert {_local(pf._path(m["file"])) for m in pf._metas} == want_files
    assert pf.count() == want_rows == len(pf.to_pandas())

    splits = plan_splits(inp, rows_per_task=RG_ROWS)
    assert {_local(s["file"]) for s in splits} == want_files
    assert sum(s["rows"] for s in splits) == want_rows
    assert len(splits) == want_rgs

    assert footer_row_count(inp) == want_rows

    kept = filter_row_groups(inp, None)
    assert {_local(f"{root}/{f}") for f, _ri in kept} == want_files
    assert len(kept) == want_rgs
    by_file = {m["file"]: m["fmd"] for m in metas}
    assert sum(by_file[f]["row_groups"][ri]["num_rows"]
               for f, ri in kept) == want_rows


def test_plan_splits_of_one_file_is_its_row_groups(dirs):
    """A single file plans its row groups (it planned nothing, so
    ``encode_files`` on one file wrote nothing)."""
    path = f"{dirs['plain']}/p2.parquet"
    assert plan_splits(path, rows_per_task=RG_ROWS) == [
        {"split": i, "file": path, "row_groups": [i], "rows": RG_ROWS}
        for i in range(4)]


def test_single_file_opens_with_its_directory_as_root(dirs, tmp_path):
    """A single file of either format opens as a one-file glob rooted
    at its directory (it raised ``no ... files under``)."""
    root, metas = load_dataset_metas(f"{dirs['plain']}/q.parquet")
    assert (root, [m["file"] for m in metas]) == (dirs["plain"],
                                                  ["q.parquet"])
    assert metas[0]["partitions"] == {}
    box = tmp_path / "k=1"
    box.mkdir()
    with open(box / "x.fpsc", "wb") as f:
        write_container(f, _table("p1"))
    root, metas = load_dataset_metas(str(box / "x.fpsc"), fmt=FpscFormat)
    assert (root, [m["file"] for m in metas]) == (str(box), ["x.fpsc"])
    assert metas[0]["fmd"]["num_rows"] == ROWS["p1"]


def test_spark_table_directory_named_parquet(tmp_path):
    """``footer_row_count`` of a table stored as a ``t.parquet/``
    directory of part files, the layout Spark writes and
    ``relational.load`` reads (it raised ``IsADirectoryError``)."""
    t = tmp_path / "t.parquet"
    t.mkdir()
    for i, stem in enumerate(ROWS):
        write_file(str(t / f"part-0000{i}-x.snappy.parquet"), _table(stem))
    (t / "_SUCCESS").write_bytes(b"")
    (t / ".part-00000-x.snappy.parquet.crc").write_bytes(b"crc")
    assert footer_row_count(str(t)) == sum(ROWS.values())
    assert ParquetFile(str(t)).count() == sum(ROWS.values())


def test_empty_inputs_open_to_no_metas(tmp_path):
    """The opener returns no metas for an empty directory, glob or
    list; the readers that need data raise."""
    for inp in (str(tmp_path), f"{tmp_path}/*.parquet", []):
        assert load_dataset_metas(inp)[1] == []
        assert plan_splits(inp) == []
    with pytest.raises(ValueError, match="no parquet data"):
        ParquetFile(str(tmp_path))


def test_lists_and_globs_share_one_partition_rule(tmp_path):
    """A list of files under hive directories carries their partition
    values, as a glob of them does (a list was read as flat)."""
    for k in (1, 2):
        d = tmp_path / f"k={k}"
        d.mkdir()
        write_file(str(d / "p.parquet"), _table("q"))
    files = [str(tmp_path / f"k={k}" / "p.parquet") for k in (1, 2)]
    by_list = load_dataset_metas(files)
    by_glob = load_dataset_metas(f"{tmp_path}/k=*/p.parquet")
    assert by_list == by_glob
    assert [m["partitions"] for m in by_list[1]] == [{"k": 1}, {"k": 2}]
    assert ParquetFile(files).cats == {"k": [1, 2]}
