"""Dataset-level metadata operators: merged footers, global statistics,
sortedness detection, DNF row-group pruning + exact reads through
``paged_read``."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from fastparquet_spark.api import ParquetFile, sorted_partitioned_columns
from fastparquet_spark.engine import paged_read
from fastparquet_spark.format import write_file
from fastparquet_spark.format.dataset import (
    dataset_statistics,
    filter_row_groups,
    load_dataset_metas,
)


@pytest.fixture()
def dataset_dir(tmp_path, rng):
    """3 part files x 2 row groups; k globally sorted, v random, s strings."""
    n_per = 2000
    for i in range(3):
        tbl = pa.table({
            "k": pa.array(np.arange(i * n_per, (i + 1) * n_per)),
            "v": pa.array(rng.integers(-1000, 1000, n_per), pa.int32()),
            "s": pa.array([f"s{j % 100:03d}" for j in range(n_per)]),
        })
        write_file(str(tmp_path / f"part-{i:05d}.parquet"), tbl,
                   compression="SNAPPY", row_group_rows=1000)
    return str(tmp_path)


def test_dataset_metadata_and_statistics(dataset_dir):
    metas = load_dataset_metas(dataset_dir)[1]
    assert len(metas) == 3
    assert sum(m["fmd"]["num_rows"] for m in metas) == 6000
    stats = dataset_statistics(dataset_dir)
    assert stats["k"]["min"] == 0 and stats["k"]["max"] == 5999
    assert stats["k"]["null_count"] == 0 and stats["k"]["num_values"] == 6000
    assert stats["s"]["min"] == "s000" and stats["s"]["max"] == "s099"


def test_sorted_columns_detection(dataset_dir):
    cols = sorted_partitioned_columns(ParquetFile(dataset_dir))
    assert "k" in cols      # globally ascending across files
    assert "v" not in cols  # random


def test_filter_row_groups_prunes(dataset_dir):
    # k in [2500, 2600] -> only one of six row groups survives
    keep = filter_row_groups(dataset_dir, [("k", ">=", 2500), ("k", "<=", 2600)])
    assert keep == [("part-00001.parquet", 0)]
    # impossible clause -> nothing
    assert filter_row_groups(dataset_dir, [("k", ">", 10**9)]) == []
    # DNF: two disjoint ranges -> two row groups
    keep = filter_row_groups(dataset_dir, [[("k", "==", 500)], [("k", "==", 5500)]])
    assert keep == [("part-00000.parquet", 0), ("part-00002.parquet", 1)]
    # string stats prune too
    assert filter_row_groups(dataset_dir, [("s", ">", "s999")]) == []
    with pytest.raises(ValueError):
        filter_row_groups(dataset_dir, [("k", "~", 1)])


def test_paged_read_exact(dataset_dir, spark):
    got = paged_read(spark, dataset_dir,
                     [("k", ">=", 2500), ("k", "<=", 2600)]).collect()
    assert sorted(r["k"] for r in got) == list(range(2500, 2601))
    full = spark.read.parquet(f"{dataset_dir}/part-*.parquet")
    expected = full.filter("v > 900").count()
    assert paged_read(spark, dataset_dir, [("v", ">", 900)]).count() == expected
    assert paged_read(spark, dataset_dir, [("k", ">", 10**9)]).count() == 0
    # in / not-in ops
    got = paged_read(spark, dataset_dir, [("k", "in", [5, 5999])]).collect()
    assert sorted(r["k"] for r in got) == [5, 5999]


def _drill_fixture(tmp_path):
    """Drill layout: bare value dirs <year>/<region>/part.parquet."""
    import pyarrow as pa

    from fastparquet_spark.format import write_file

    root = tmp_path / "drill"
    k = 0
    for year in (2020, 2021):
        for region in ("emea", "apac"):
            d = root / str(year) / region
            d.mkdir(parents=True)
            write_file(str(d / "part-0.parquet"),
                       pa.table({"k": pa.array([k, k + 1], pa.int64())}))
            k += 2
    return str(root)


def test_drill_scheme_detection_and_values(tmp_path):
    from fastparquet_spark.format.dataset import (
        detect_scheme, load_dataset_metas,
    )

    root = _drill_fixture(tmp_path)
    metas = load_dataset_metas(root)[1]
    assert detect_scheme([m["file"] for m in metas]) == "drill"
    parts = {m["file"]: m["partitions"] for m in metas}
    assert parts["2020/emea/part-0.parquet"] == {"dir0": 2020, "dir1": "emea"}
    assert parts["2021/apac/part-0.parquet"] == {"dir0": 2021, "dir1": "apac"}
    # hive and flat stay themselves
    assert detect_scheme(["lang=en/a.parquet", "lang=zh/b.parquet"]) == "hive"
    assert detect_scheme(["a.parquet", "b.parquet"]) == "flat"
    assert detect_scheme(["x/a.parquet", "x/y/b.parquet"]) == "other"


def test_drill_pruning_and_read(tmp_path, spark):
    root = _drill_fixture(tmp_path)
    # partition pruning on the inferred dir columns
    keep = filter_row_groups(root, [("dir0", "==", 2020)])
    assert sorted(f for f, _ in keep) == [
        "2020/apac/part-0.parquet", "2020/emea/part-0.parquet"]
    keep = filter_row_groups(root, [("dir0", ">", 2020), ("dir1", "==", "emea")])
    assert [f for f, _ in keep] == ["2021/emea/part-0.parquet"]
    # full read attaches typed partition columns
    df = paged_read(spark, root, None)
    assert df.dtypes == [("k", "bigint"), ("dir0", "bigint"),
                         ("dir1", "string")]
    assert df.count() == 8
    rows = paged_read(spark, root,
                      [("dir0", "==", 2021), ("dir1", "==", "apac")]).collect()
    assert len(rows) == 2
    assert {r["dir0"] for r in rows} == {2021}
    assert {r["dir1"] for r in rows} == {"apac"}
    assert sorted(r["k"] for r in rows) == [6, 7]
