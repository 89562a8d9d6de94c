"""The dataset-layout contract (format/dataset.py), Spark-free.

A partitioned dataset's layout is one decision: how a partition path is
written and parsed, how a partition column is typed, which value each
file holds in that type, and which columns a file lacks.  Every tier —
driver stats pruning, ``plan_scan`` / ``scan_unit``, the api facade and
``pf.cats`` — must read the same answer.  Each case here is a wrong
answer the tiers used to give, or a layout behaviour no other test pins.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fastparquet_spark import api
from fastparquet_spark.engine.scan_job import plan_scan, scan_unit
from fastparquet_spark.format.dataset import (
    _split_by_key,
    filter_row_groups,
    load_dataset_metas,
    read_pages,
)
from fastparquet_spark.format.predicate import dnf


def _hive(tmp_path, keys, rows=3):
    """``k=<key>/part-0.parquet`` per key, ``rows`` int64 rows ``v``
    each, numbered on across the keys."""
    root = tmp_path / "hv"
    for i, key in enumerate(keys):
        sub = root / f"k={key}"
        sub.mkdir(parents=True)
        pq.write_table(pa.table({"v": pa.array(
            range(i * rows, (i + 1) * rows), pa.int64())}),
            str(sub / "part-0.parquet"))
    return str(root)


def _scan(root, filters, columns=None, exact=True):
    """``plan_scan`` + ``scan_unit`` over every unit — what paged_read's
    and the fps source's tasks run — as one Table."""
    root, metas = load_dataset_metas(root)
    clauses = dnf(filters)
    schema, file_cols, part_cols, units = plan_scan(
        root, metas, clauses, columns)
    batches = [b for unit in units for b in scan_unit(
        *unit, clauses, file_cols, part_cols, schema, exact)]
    return pa.Table.from_batches(batches, schema=schema), units


# ------------------------------------------------- string-resolved hive --

@pytest.mark.parametrize("val", ["abc", 3])
def test_hive_pruning_on_string_resolved_column(tmp_path, val):
    """k=3 beside k=abc resolves k to string; a partition term prunes
    the other file on the driver in every tier, for a string or a
    numeric filter value."""
    root = _hive(tmp_path, ["3", "abc"])
    want = "k=abc" if val == "abc" else "k=3"
    filters = [("k", "==", val)]
    pf = api.ParquetFile(root)
    assert pf.count(filters) == 3
    assert len(api.filter_row_groups(pf, filters)) == 1
    assert [f for f, _ri in filter_row_groups(root, filters)] == \
        [f"{want}/part-0.parquet"]
    got, units = _scan(root, filters)
    assert [u[0].split("/")[-2] for u in units] == [want]
    assert got.column("k").to_pylist() == [want[2:]] * 3
    assert pf.to_pandas(filters=filters, row_filter=True)["k"].tolist() == \
        [want[2:]] * 3


def test_cats_are_the_values_to_pandas_returns(tmp_path):
    root = _hive(tmp_path, ["3", "abc"])
    pf = api.ParquetFile(root)
    assert pf.cats == {"k": ["3", "abc"]}
    assert sorted(set(pf.to_pandas()["k"])) == pf.cats["k"]
    assert pf.dtypes == {"v": pa.int64().to_pandas_dtype()}


def test_string_resolved_values_keep_their_path_text(tmp_path):
    """A string-resolved column holds each directory's text as written:
    ``k=07`` is ``"07"``, not the ``"7"`` of a number stringified."""
    root = _hive(tmp_path, ["07", "abc"])
    pf = api.ParquetFile(root)
    assert pf.cats == {"k": ["07", "abc"]}
    assert set(pf.to_pandas()["k"]) == {"07", "abc"}
    assert pf.count([("k", "==", "07")]) == 3
    got, _units = _scan(root, [("k", "==", "07")])
    assert got.column("v").to_pylist() == [0, 1, 2]
    assert set(got.column("k").to_pylist()) == {"07"}


def test_numeric_partition_values_resolve_to_one_type(tmp_path):
    """k=1 beside k=1.5 is a float column: every tier sees 1.0."""
    root = _hive(tmp_path, ["1", "1.5"])
    pf = api.ParquetFile(root)
    assert [type(v) for v in pf.cats["k"]] == [float, float]
    assert sorted(m["partitions"]["k"] for m in load_dataset_metas(root)[1]) \
        == [1.0, 1.5]
    got, _units = _scan(root, None)
    assert got.schema.field("k").type == pa.float64()
    assert pf.to_pandas()["k"].dtype == "float64"


def test_drill_dataset_keeps_typed_dir_values(tmp_path):
    """Drill directories type per column: ``dir0`` all-int stays int,
    ``dir1`` mixed (emea beside 2021) resolves to string everywhere."""
    import pandas as pd

    out = str(tmp_path / "dr")
    df = pd.DataFrame({"year": [2020, 2020, 2021], "region": ["emea", "apac",
                                                              "2021"],
                       "v": [1, 2, 3]})
    api.write(out, df, file_scheme="drill", partition_on=["year", "region"])
    metas = load_dataset_metas(out)[1]
    assert {"dir0": 2020, "dir1": "emea"} in [m["partitions"] for m in metas]
    pf = api.ParquetFile(out)
    assert pf.cats == {"dir0": [2020, 2021], "dir1": ["2021", "apac", "emea"]}
    got = pf.to_pandas().sort_values("v")
    assert got["dir0"].tolist() == [2020, 2020, 2021]
    assert got["dir1"].tolist() == ["emea", "apac", "2021"]


def test_glob_keys_files_by_their_path_under_the_common_root(tmp_path):
    """Two hive files sharing a basename stay two files under a glob:
    keyed relative to the matches' common root, with their partition
    values, pruned on stats and on their bloom filters like the
    directory they sit in."""
    from fastparquet_spark.format.writer import write_file

    root = tmp_path / "hv"
    for key, parity in (("1", 0), ("2", 1)):
        (root / f"k={key}").mkdir(parents=True)
        ids = list(range(parity, 60, 2))
        write_file(str(root / f"k={key}" / "part.0.parquet"), pa.table({
            "v": pa.array([i + 30 * parity for i in range(30)], pa.int64()),
            "s": pa.array([f"s{i:02d}" for i in ids])}),
            bloom_filters={"s": 0.01})
    glob = f"{root}/*/*.parquet"
    files = ["k=1/part.0.parquet", "k=2/part.0.parquet"]
    metas = load_dataset_metas(glob)[1]
    assert [m["file"] for m in metas] == files
    assert [m["partitions"] for m in metas] == [{"k": 1}, {"k": 2}]
    for where in (glob, str(root)):
        assert filter_row_groups(where, [("v", ">=", 30)]) == \
            [(files[1], 0)]
        # same s range in both files: only the bloom tells them apart
        assert filter_row_groups(where, [("s", "==", "s10")]) == \
            [(files[0], 0)]


# --------------------------------------------------------- absent rule --

def _evolved(tmp_path):
    root = tmp_path / "ev"
    root.mkdir()
    pq.write_table(pa.table({"x": pa.array([1, 2, 3], pa.int64())}),
                   str(root / "a-old.parquet"))
    pq.write_table(pa.table({"x": pa.array([4, 5, 6], pa.int64()),
                             "y": pa.array([5, 0, 5], pa.int64())}),
                   str(root / "b-new.parquet"))
    return str(root)


def test_evolved_column_filter_on_unprojected_column(tmp_path):
    """A file that predates ``y`` holds y = null: ``y == 5`` matches
    none of its rows, whether or not ``y`` is projected."""
    root = _evolved(tmp_path)
    filters = [("y", "==", 5)]
    got, units = _scan(root, filters, columns=["x"])
    assert got.column_names == ["x"]
    assert got.column("x").to_pylist() == [4, 6]
    assert [u[0].rsplit("/", 1)[-1] for u in units] == ["b-new.parquet"]
    pf = api.ParquetFile(root)
    assert pf.to_pandas(columns=["x"], filters=filters,
                        row_filter=True)["x"].tolist() == [4, 6]
    # is_null on the absent column keeps every row of the old file
    got, _units = _scan(root, [("y", "is_null", None)], columns=["x"])
    assert got.column("x").to_pylist() == [1, 2, 3]


def test_facade_reads_fill_absent_columns_in_every_path(tmp_path):
    """to_pandas, iter_row_groups, head and read_row_group_file build
    each file's table the same way: the old file's ``y`` is typed
    null."""
    root = _evolved(tmp_path)
    pf = api.ParquetFile(root)
    frames = list(pf.iter_row_groups())
    assert [list(f.columns) for f in frames] == [["x", "y"], ["x", "y"]]
    assert frames[0]["y"].isna().all()
    assert pf.head(4)["y"].isna().tolist() == [True, True, True, False]
    one = pf.read_row_group_file(pf.row_groups[0], columns=["y"])
    assert list(one.columns) == ["y"] and len(one) == 3
    assert pf.to_pandas()["y"].isna().sum() == 3


def test_partition_column_a_path_lacks_is_null(tmp_path):
    """Unequal depths (``k=1/``, ``k=2/`` beside a root file): the root
    file holds ``k`` as null in every tier, so ``k == 1`` matches none
    of its rows and ``k is null`` all of them."""
    root = tmp_path / "uneven"
    for rel, v in (("k=1/a.parquet", [1, 2]), ("k=2/b.parquet", [3]),
                   ("c.parquet", [4])):
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"v": pa.array(v, pa.int64())}),
                       str(root / rel))
    pf = api.ParquetFile(str(root))
    for filters, want in (([("k", "==", 1)], [1, 2]),
                          ([("k", "is_null", None)], [4])):
        got = pf.to_pandas(filters=filters, row_filter=True)
        assert sorted(got["v"]) == want
        got, _units = _scan(str(root), filters)
        assert sorted(got.column("v").to_pylist()) == want


# ------------------------------------------------------------- writer --

def test_nan_hive_keys_keep_their_rows(tmp_path):
    out = str(tmp_path / "nan")
    nan = float("nan")
    api.write(out, pa.table({"k": [1.0, nan, 2.0, nan], "v": [1, 2, 3, 4]}),
              file_scheme="hive", partition_on=["k"])
    df = api.ParquetFile(out).to_pandas()
    assert sorted(df["v"]) == [1, 2, 3, 4]
    assert sorted(df[df["k"].isna()]["v"]) == [2, 4]
    assert sorted(m["file"] for m in load_dataset_metas(out)[1]) == [
        "k=1.0/part.0.parquet", "k=2.0/part.2.parquet",
        "k=nan/part.1.parquet"]


def test_nan_hive_value_is_one_cat(tmp_path):
    """A NaN partition value is listed once however many files hold
    it, in ``ParquetFile.cats`` and in ``paths_to_cats``."""
    import math

    out = str(tmp_path / "nan")
    nan = float("nan")
    api.write(out, pa.table({"k": [1.0, nan, 2.0, nan], "v": [1, 2, 3, 4]}),
              file_scheme="hive", partition_on=["k"])
    api.write(out, pa.table({"k": [nan], "v": [5]}), file_scheme="hive",
              partition_on=["k"], append=True)
    assert len(load_dataset_metas(out)[1]) == 4
    cats = api.ParquetFile(out).cats["k"]
    assert cats[:2] == [1.0, 2.0] and len(cats) == 3 and math.isnan(cats[2])
    scheme, pcats = api.paths_to_cats(["k=nan/a", "k=nan/b", "k=1.0/c"])
    assert scheme == "hive"
    assert pcats["k"][0] == 1.0 and len(pcats["k"]) == 2
    assert math.isnan(pcats["k"][1])


def test_multi_column_null_keys_split_once(tmp_path):
    """A key holding a null string on a multi-column split is one key:
    every row lands in exactly one file, in the engine writer (which
    splits through ``_split_by_key``) and in ``api.write``."""
    n = 600
    tags = ["x", "y", None]
    tbl = pa.table({"tag": pa.array([tags[i % 3] for i in range(n)]),
                    "year": [2020 + i % 2 for i in range(n)],
                    "v": range(n)})
    pieces = list(_split_by_key(tbl, ["tag", "year"]))
    assert [k for k, _p in pieces] == [
        ("x", 2020), ("y", 2021), (None, 2020),
        ("x", 2021), ("y", 2020), (None, 2021)]
    assert [p.num_rows for _k, p in pieces] == [100] * 6
    out = str(tmp_path / "ds")
    api.write(out, tbl, file_scheme="hive", partition_on=["tag", "year"])
    assert len(load_dataset_metas(out)[1]) == 6
    assert sorted(api.ParquetFile(out).to_pandas()["v"]) == list(range(n))


# ------------------------------------------------- unknown filter column --

def test_unknown_filter_column_raises_in_every_tier(tmp_path):
    root = _hive(tmp_path, ["1", "2"])
    path = f"{root}/k=1/part-0.parquet"
    bad = [("nope", "==", 1)]
    match = "nonexistent column"
    with pytest.raises(ValueError, match=match):
        read_pages(path, bad, exact=True)
    with pytest.raises(ValueError, match=match):
        filter_row_groups(root, bad)
    with pytest.raises(ValueError, match=match):
        _scan(root, bad)
    pf = api.ParquetFile(root)
    with pytest.raises(ValueError, match=match):
        pf.to_pandas(filters=bad, row_filter=True)
    with pytest.raises(ValueError, match=match):
        pf.count(bad)
    with pytest.raises(ValueError, match=match):
        api.filter_row_groups(pf, bad)
    # an OR branch on a known column does not hide the unknown one
    with pytest.raises(ValueError, match=match):
        filter_row_groups(root, [[("k", "==", 1)], bad])
    # partition and file columns are known
    assert pf.count([("k", "==", 1), ("v", ">=", 0)]) == 3
