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
    from fastparquet_spark.engine import paged_read
    from fastparquet_spark.engine.fpsc_job import read_fpsc

    assert _tasks(spark, 0, 8).count() == 0
    # a directory with no file to plan raises, in both formats
    with pytest.raises(ValueError, match="no FPSC files"):
        read_fpsc(spark, str(tmp_path))
    with pytest.raises(ValueError, match="no parquet files"):
        paged_read(spark, str(tmp_path), None)


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


def _jobs_of(spark, group: str, action) -> int:
    """Spark jobs ``action`` runs, planning included."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "scan job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _register_sources(spark):
    from fastparquet_spark.sources import FpscDataSource, FpsDataSource

    for src in (FpsDataSource, FpscDataSource):
        try:
            spark.dataSource.register(src)
        except Exception as e:  # already registered in this session
            if "already" not in str(e).lower():
                raise


def test_scan_job_counts(spark, tmp_path):
    """The scans of both formats, planning and read, cost the pinned
    number of Spark jobs: the driver plans from footers without a job.
    ``engine_bloom_prune`` counts its bloom'd encode (``encode_dataset``)
    and its ``paged_read`` lookup together; its ``relational.load`` of
    ``documents`` runs none."""
    from conftest import SF_DIR

    from fastparquet_spark.analytics.registry import engine_bloom_prune
    from fastparquet_spark.engine import paged_read
    from fastparquet_spark.engine.fpsc_job import read_fpsc
    from fastparquet_spark.format.container import write_container
    from fastparquet_spark.format.writer import write_file

    _register_sources(spark)
    for i in range(3):
        tbl = pa.table({"k": pa.array(range(i * 100, (i + 1) * 100)),
                        "s": pa.array([f"v{j % 7}" for j in range(100)])})
        write_file(str(tmp_path / f"p{i}.parquet"), tbl, row_group_rows=50)
        write_container(str(tmp_path / f"c{i}.fpsc"), tbl)
    d = str(tmp_path)
    runs = {
        "read_fpsc": lambda: read_fpsc(spark, d).count(),
        "fpsc_source": lambda: spark.read.format("fpsc").load(d).count(),
        "fps_source": lambda: spark.read.format("fps").load(d).count(),
        "paged_read": lambda: paged_read(spark, d, [("k", ">=", 120)]).count(),
        "engine_bloom_prune": lambda: engine_bloom_prune(
            spark, SF_DIR).count(),
    }
    assert runs["paged_read"]() == 180
    got = {name: _jobs_of(spark, f"scan-jobs-{name}-{tmp_path.name}", run)
           for name, run in runs.items()}
    # a count is two jobs under adaptive execution: the partial counts'
    # shuffle stage, then the final count
    assert got == {"read_fpsc": 2, "fpsc_source": 2, "fps_source": 2,
                   "paged_read": 2, "engine_bloom_prune": 5}


def test_analytics_job_counts(spark):
    """Each query of the perfbench ``analytics`` workload
    (``perfbench/wl_analytics.py``), planning included, costs its
    pinned number of Spark jobs over the tests' tables: ``relational.load``
    types a table from its footer (no schema-inference job) and
    ``connected_components`` observes its convergence sum on the round's
    checkpoint job.  A count that drops moves its pin down; one that
    grows is fixed cost creeping in."""
    from conftest import SF_DIR

    from fastparquet_spark.analytics.registry import QUERIES

    pins = {"q1_pricing_summary": 2, "q3_shipping_topk": 4,
            "q_window_rank": 2, "q_rollup_pricing": 3,
            "dedup_minhash_lsh_pairs": 4, "dedup_simhash": 2,
            "dedup_clusters": 15, "text_redact_pii": 1,
            "text_chunk_tokens": 1, "sim_cosine_topk": 3}
    assert {q: _jobs_of(spark, f"analytics-jobs-{q}",
                        lambda q=q: QUERIES[q](spark, SF_DIR).collect())
            for q in pins} == pins


def test_engine_job_counts(spark, tmp_path):
    """The engine ops of the perfbench ``encode_scan`` workload
    (``perfbench/wl_encode_scan.py``) not pinned above cost their pinned
    number of Spark jobs: the FPSC split encode, both shuffle encodes
    (flat layout) and one selective ``format("fps")`` lookup.  A count
    that drops moves its pin down; one that grows is fixed cost
    creeping in."""
    from fastparquet_spark.engine import encode_dataset, synthetic_source_table
    from fastparquet_spark.engine.file_job import encode_files_fpsc
    from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc
    from fastparquet_spark.format.writer import write_file

    _register_sources(spark)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(2):
        tbl = pa.table({"k": pa.array(range(i * 200, (i + 1) * 200)),
                        "s": pa.array([f"v{j % 7}" for j in range(200)])})
        write_file(str(src / f"p{i}.parquet"), tbl, row_group_rows=100)
    df = synthetic_source_table(spark, 400, partitions=2).cache()
    df.count()
    out = str(tmp_path / "out")
    runs = {
        "encode_files_fpsc": lambda: encode_files_fpsc(
            spark, str(src), f"{out}-fpsc", rows_per_task=100,
            resume=False).collect(),
        "encode_dataset": lambda: encode_dataset(
            spark, df, f"{out}-shuffle", num_partitions=2,
            resume=False).collect(),
        "encode_dataset_fpsc": lambda: encode_dataset_fpsc(
            spark, df, f"{out}-shuffle-fpsc", num_partitions=2,
            resume=False).collect(),
        "fps_lookup": lambda: spark.read.format("fps").load(str(src))
        .filter(F.col("k") == 250).collect(),
    }
    got = {name: _jobs_of(spark, f"engine-jobs-{name}-{tmp_path.name}", run)
           for name, run in runs.items()}
    df.unpersist()
    assert got == {"encode_files_fpsc": 1, "encode_dataset": 4,
                   "encode_dataset_fpsc": 5, "fps_lookup": 1}
