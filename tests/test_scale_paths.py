"""Scale-path regressions from the round-1 verdict:

- metadata operators must be FOOTER-ONLY (bytes-read proof via
  CountingFS) and fetch footers concurrently;
- encode_dataset must stream row groups (bounded task memory) instead
  of buffering whole partitions;
- hive ``key=value`` layout must be written, discovered, pruned by our
  own stats pruner AND by Spark/DuckDB/pyarrow;
- the salting broadcast must carry only skewed keys.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fastparquet_spark.engine import paged_read
from fastparquet_spark.format import write_file
from fastparquet_spark.format.dataset import (
    dataset_statistics,
    filter_row_groups,
    load_dataset_metas,
)
from fastparquet_spark.io import CountingFS, LocalFS, read_tail_footer


def _make_parts(tmp_path, nfiles=4, rows=5000):
    rng = np.random.default_rng(1)
    for i in range(nfiles):
        t = pa.table({
            "id": pa.array(np.arange(i * rows, (i + 1) * rows)),
            "val": pa.array(rng.normal(size=rows)),
            "text": pa.array([f"row-{j}-{'x' * 50}" for j in range(rows)]),
        })
        write_file(str(tmp_path / f"part-{i:05d}.parquet"), t,
                   compression="ZSTD", row_group_rows=2000)


def test_dataset_metadata_reads_only_footers(tmp_path):
    _make_parts(tmp_path)
    data_bytes = sum(os.path.getsize(p)
                     for p in glob.glob(str(tmp_path / "*.parquet")))
    counting = CountingFS(LocalFS())
    metas = load_dataset_metas(str(tmp_path), fs=counting)[1]
    assert len(metas) == 4
    assert sum(len(m["fmd"]["row_groups"]) for m in metas) == 4 * 3
    # each footer is ~KBs; the proof: metadata never touches page data.
    # 8-byte tail + footer per file << the ~MB of page bytes
    footer_budget = sum(
        8 + len(read_tail_footer(str(tmp_path / f"part-{i:05d}.parquet")))
        for i in range(4))
    assert counting.bytes_read <= footer_budget + 64
    assert counting.bytes_read < data_bytes / 10


def test_metadata_ops_footer_only_end_to_end(tmp_path):
    _make_parts(tmp_path, nfiles=3)
    counting = CountingFS(LocalFS())
    stats = dataset_statistics(str(tmp_path), fs=counting)
    assert stats["id"]["min"] == 0 and stats["id"]["max"] == 3 * 5000 - 1
    assert stats["id"]["num_values"] == 15000
    assert counting.bytes_read < 100_000  # footers only, not ~MBs of data


def test_filter_row_groups_pruning_still_exact(tmp_path):
    _make_parts(tmp_path, nfiles=4, rows=5000)
    kept = filter_row_groups(str(tmp_path), [("id", ">=", 18000)])
    # ids 18000.. live in file 3 (15000..19999), row groups 2000-wide:
    # rg1 (17000..18999) and rg2 (19000..19999)... rg ids: [15000,16999],
    # [17000,18999], [19000,19999] -> keep last two
    assert kept == [("part-00003.parquet", 1), ("part-00003.parquet", 2)]


def test_plan_splits_uses_tail_footers(tmp_path):
    from fastparquet_spark.engine.file_job import plan_splits

    _make_parts(tmp_path, nfiles=3, rows=5000)
    splits = plan_splits(str(tmp_path), rows_per_task=4000)
    assert sum(s["rows"] for s in splits) == 15000
    # row-group indices are per-file and contiguous
    for s in splits:
        assert s["row_groups"] == sorted(s["row_groups"])
    by_file = {}
    for s in splits:
        by_file.setdefault(s["file"], []).extend(s["row_groups"])
    assert all(v == [0, 1, 2] for v in by_file.values())


@pytest.fixture()
def source_df(spark):
    rows = []
    rng = np.random.default_rng(3)
    langs = ["python", "rust", "go"]
    for i in range(6000):
        rows.append((f"org/repo{i % 7}", f"src/f{i}.py",
                     f"c{i % 97:040d}", langs[i % 3],
                     f"def f{i}(): return {i}\n" * (1 + i % 4)))
    return spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")


def test_encode_dataset_streams_row_groups(spark, source_df, tmp_path):
    from fastparquet_spark.engine.encode_job import encode_dataset

    out = str(tmp_path / "ds")
    man = encode_dataset(spark, source_df, out, num_partitions=2,
                         row_group_rows=500, salt_rows=10**9).collect()
    assert sum(m.rows for m in man) == 6000
    # partitions of ~3000 rows with a 500-row cap -> multiple row groups
    # per file proves the writer flushed incrementally
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.read_metadata(f)
        if md.num_rows > 600:
            assert md.num_row_groups >= md.num_rows // 600
    total = sum(pq.read_table(f).num_rows for f in glob.glob(f"{out}/part-*.parquet"))
    assert total == 6000


def test_hive_layout_write_discover_prune(spark, source_df, tmp_path):
    from fastparquet_spark.engine.encode_job import encode_dataset

    out = str(tmp_path / "hive")
    man = encode_dataset(spark, source_df, out, partition_cols=("lang",),
                         layout="hive", num_partitions=3,
                         salt_rows=10**9).collect()
    assert sum(m.rows for m in man) == 6000
    files = glob.glob(f"{out}/lang=*/part-*.parquet")
    assert files, "expected key=value directories"
    # partition column removed from the data files
    assert "lang" not in pq.read_schema(files[0]).names

    # 1) our own pruner sees partition values as pseudo-stats
    kept = filter_row_groups(out, [("lang", "==", "rust")])
    assert kept and all(f.startswith("lang=rust/") for f, _ri in kept)

    # 2) Spark discovers partitions and partition-prunes the scan
    import contextlib
    import io

    df = spark.read.parquet(out)
    assert df.filter("lang = 'rust'").count() == 2000
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.filter("lang = 'rust'").explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "rust" in plan

    # 3) DuckDB hive partitioning agrees
    import duckdb

    n = duckdb.sql(
        f"select count(*) from read_parquet('{out}/*/*.parquet', "
        "hive_partitioning=1) where lang='go'").fetchone()[0]
    assert n == 2000

    # 4) paged_read returns exact rows with partition cols present
    got = paged_read(spark, out, [("lang", "==", "python")])
    assert got.count() == 2000 and "lang" in got.columns


def test_hive_resume_skips_committed_partitions(spark, source_df, tmp_path):
    from fastparquet_spark.engine.encode_job import encode_dataset

    out = str(tmp_path / "hive2")
    encode_dataset(spark, source_df, out, partition_cols=("lang",),
                   layout="hive", num_partitions=2, salt_rows=10**9).collect()
    man2 = encode_dataset(spark, source_df, out, partition_cols=("lang",),
                          layout="hive", num_partitions=2,
                          salt_rows=10**9).collect()
    assert man2 and all(m.skipped for m in man2)
    assert sum(m.rows for m in man2) == 6000


def test_salting_broadcast_only_skewed_keys(spark):
    from pyspark.sql import functions as F

    from fastparquet_spark.engine.encode_job import _salted

    # 50 distinct keys, one skewed (3000 rows), salt_rows=500
    rows = [(f"k{i % 50}" if i % 2 else "hot", i) for i in range(6000)]
    df = spark.createDataFrame(rows, "repo string, id long")
    out = _salted(df, ("repo",), salt_rows=500, num_partitions=8)
    assert out.count() == 6000  # left join must not drop rows
    # the broadcast side (counts filtered to skewed keys) has ONE row
    counts = (df.groupBy("repo").agg(F.count("*").alias("__key_rows"))
              .filter(F.col("__key_rows") > 500))
    assert counts.count() == 1 and counts.collect()[0]["repo"] == "hot"


def test_flat_manifest_back_compat(spark, source_df, tmp_path):
    """Old single-dict manifests (round-1 format) still resume."""
    from fastparquet_spark.engine.encode_job import MANIFEST_DIR, encode_dataset

    out = str(tmp_path / "compat")
    encode_dataset(spark, source_df, out, num_partitions=2,
                   salt_rows=10**9).collect()
    mfiles = glob.glob(f"{out}/{MANIFEST_DIR}/*.json")
    assert mfiles
    # flat layout with one file per task keeps the round-1 dict shape
    for mf in mfiles:
        with open(mf) as fh:
            assert isinstance(json.load(fh), dict)
    man2 = encode_dataset(spark, source_df, out, num_partitions=2,
                          salt_rows=10**9).collect()
    assert all(m.skipped for m in man2)


def test_read_file_projection_is_ranged(tmp_path):
    """Projecting one small column from a file with a fat column must
    move only the small column's bytes + the footer — proof the own
    reader does ranged chunk reads, not a whole-file load."""
    import pyarrow as pa

    from fastparquet_spark.format import read_file, write_file

    t = pa.table({
        "id": pa.array(range(20000)),
        "fat": pa.array(["y" * 500 + str(i) for i in range(20000)]),
    })
    path = str(tmp_path / "wide.parquet")
    write_file(path, t, compression="UNCOMPRESSED", row_group_rows=5000)
    total = os.path.getsize(path)
    counting = CountingFS(LocalFS())
    # route through the seam by monkeypatching get_fs? simpler: pass the
    # path and count via the module seam
    import fastparquet_spark.io as fio
    orig = fio.get_fs
    fio.get_fs = lambda p, fs=None: counting
    try:
        got = read_file(path, columns=["id"])
    finally:
        fio.get_fs = orig
    assert got.column("id").to_pylist() == list(range(20000))
    # id column ~160KB raw + footer; fat column ~10MB stays untouched
    assert counting.bytes_read < total / 10


def test_null_count_pruning(tmp_path):
    """is_null / is_not_null prune on null_count alone (no min/max)."""
    import pyarrow as pa

    t_nonull = pa.table({"v": pa.array([1, 2, 3])})
    t_allnull = pa.table({"v": pa.array([None, None], type=pa.int64())})
    write_file(str(tmp_path / "a.parquet"), t_nonull)
    write_file(str(tmp_path / "b.parquet"), t_allnull)
    assert filter_row_groups(str(tmp_path), [("v", "is_null", None)]) == \
        [("b.parquet", 0)]
    assert filter_row_groups(str(tmp_path), [("v", "is_not_null", None)]) == \
        [("a.parquet", 0)]
