"""engine/tasks.py: the engine jobs' task tables, one ``Range``
partition per task."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from fastparquet_spark.engine.tasks import map_tasks


def _table(n: int) -> pa.Table:
    return pa.table({"i": pa.array(range(n), pa.int32()),
                     "s": pa.array([f"row-{i}" for i in range(n)], pa.string())})


def _tasks(spark, n: int, max_parts: int):
    """``map_tasks`` over ``_table(n)`` with a body that passes its rows
    through."""
    schema = "i int, s string"
    return map_tasks(spark, _table(n), max_parts, lambda rows: rows, schema)


def _layout(df) -> list[list[int]]:
    """Row ``i`` values per task, in task order."""
    rows = df.select(F.spark_partition_id().alias("pid"), "i").collect()
    parts: list[list[int]] = [[] for _ in range(df.rdd.getNumPartitions())]
    for r in rows:
        parts[r["pid"]].append(r["i"])
    return parts


@pytest.mark.parametrize("n,max_parts", [(1, 1), (3, 4), (4, 4), (5, 64)])
def test_one_row_per_task_when_rows_fit(spark, n, max_parts):
    df = _tasks(spark, n, max_parts)
    assert _layout(df) == [[i] for i in range(n)]
    assert sorted(tuple(r) for r in df.collect()) == \
        [(i, f"row-{i}") for i in range(n)]


@pytest.mark.parametrize("n,max_parts", [(10, 4), (17, 5), (64, 8), (9, 2)])
def test_contiguous_even_slices_when_rows_exceed_tasks(spark, n, max_parts):
    parts = _layout(_tasks(spark, n, max_parts))
    assert len(parts) == max_parts
    assert [i for p in parts for i in p] == list(range(n))  # contiguous, in order
    sizes = [len(p) for p in parts]
    assert max(sizes) - min(sizes) <= 1


def test_zero_rows(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from fastparquet_spark.engine.fpsc_job import read_fpsc

    assert _tasks(spark, 0, 8).count() == 0
    schema = StructType([StructField("x", LongType())])
    df = read_fpsc(spark, str(tmp_path), schema=schema)
    assert df.schema == schema
    assert df.collect() == []


def test_split_encode_runs_one_task_per_split(spark, tmp_path):
    """A 4-split ``encode_files`` is one job of 4 tasks, each encoding
    exactly one split."""
    from fastparquet_spark.engine import encode_files, plan_splits
    from fastparquet_spark.format.writer import write_file

    src = tmp_path / "src"
    src.mkdir()
    for i in range(2):
        write_file(str(src / f"p{i}.parquet"),
                   pa.table({"k": pa.array(range(i * 200, (i + 1) * 200))}),
                   row_group_rows=100)
    assert len(plan_splits(str(src), rows_per_task=100)) == 4

    sc = spark.sparkContext
    group = f"split-tasks-{tmp_path.name}"
    sc.setJobGroup(group, "split encode task count")
    try:
        df = encode_files(spark, str(src), str(tmp_path / "out"),
                          rows_per_task=100, resume=False)
        rows = df.select(F.spark_partition_id().alias("pid"),
                         "partition", "rows").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1
    assert [tracker.getStageInfo(s).numTasks
            for s in tracker.getJobInfo(jobs[0]).stageIds] == [4]
    assert sorted((r["pid"], r["partition"]) for r in rows) == \
        [(i, i) for i in range(4)]
    assert all(r["rows"] == 100 for r in rows)
