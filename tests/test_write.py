"""Spark-free tests of the one partition writer (engine/write.py):
chunking, the byte cap, hive keys (null, NaN, reopened) and key order,
through both format objects and a real ``TaskCommit``; what each
format writes reads back through the same object's scan."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fastparquet_spark.engine import write as write_mod
from fastparquet_spark.engine.commit import TaskCommit, begin_job
from fastparquet_spark.engine.scan_job import plan_scan, scan_unit
from fastparquet_spark.engine.write import write_partition
from fastparquet_spark.format.container import FpscFormat, read_container
from fastparquet_spark.format.dataset import ParquetFormat, load_dataset_metas
from fastparquet_spark.io import LocalFS


def _write(root, batches, fmt, *, chunk_rows, hive_cols=(), family="part-00000"):
    """Run ``write_partition`` under a real task commit; returns the
    manifest rows."""
    root = str(root)
    begin_job(root, "part", {}, resume=False)
    fs = LocalFS()
    task = TaskCommit(fs, root, family, attempt=1)
    rows = write_partition(iter(batches), fmt, task.stage, fs, root, family,
                           chunk_rows=chunk_rows, hive_cols=hive_cols)
    task.commit(rows)
    return rows


def _read(root, row) -> pa.Table:
    path = os.path.join(str(root), row["file"])
    return read_container(path) if path.endswith(".fpsc") else pq.read_table(path)


def _scan(root, fmt) -> pa.Table:
    """Every row under ``root``, read through the format object
    ``fmt``: its listing and footers, the scan planner, its unit read."""
    root, metas = load_dataset_metas(str(root), fmt=fmt)
    schema, file_cols, part_cols, units = plan_scan(root, metas, None, None,
                                                    fmt=fmt)
    return pa.Table.from_batches(
        [b for u in units for b in scan_unit(*u, [[]], file_cols, part_cols,
                                              schema, True, fmt)], schema)


def _batches(tbl: pa.Table, size: int) -> list[pa.RecordBatch]:
    return [b for s in range(0, tbl.num_rows, size)
            for b in tbl.slice(s, size).to_batches()]


def _fat_table(n: int) -> pa.Table:
    return pa.table({"id": pa.array(np.arange(n)),
                     "blob": pa.array([f"{i:06d}" * 50 for i in range(n)])})


@pytest.mark.parametrize("fmt", [ParquetFormat, FpscFormat])
def test_chunks_of_chunk_rows_then_remainder(tmp_path, fmt):
    tbl = _fat_table(2500)
    rows = _write(tmp_path, _batches(tbl, 300), fmt(), chunk_rows=1000)
    if fmt.file_per_chunk:
        assert [r["file"] for r in rows] == [
            "part-00000-000.fpsc", "part-00000-001.fpsc", "part-00000-002.fpsc"]
        assert [r["rows"] for r in rows] == [1000, 1000, 500]
    else:
        assert [r["file"] for r in rows] == ["part-00000.parquet"]
        md = pq.ParquetFile(tmp_path / rows[0]["file"]).metadata
        assert [md.row_group(i).num_rows for i in range(md.num_row_groups)] \
            == [1000, 1000, 500]
    assert pa.concat_tables(_read(tmp_path, r) for r in rows).equals(tbl)
    assert _scan(tmp_path, fmt).equals(tbl)
    assert sum(r["rows"] for r in rows) == tbl.num_rows
    assert all(r["output_bytes"] == os.path.getsize(tmp_path / r["file"])
               for r in rows)


@pytest.mark.parametrize("fmt", [ParquetFormat, FpscFormat])
def test_byte_cap_cuts_short_chunks(tmp_path, monkeypatch, fmt):
    """Fat rows hit the buffer's byte cap long before ``chunk_rows``:
    every writer then emits short chunks, and the data round-trips."""
    tbl = _fat_table(2000)
    batches = _batches(tbl, 100)
    cap = 3 * batches[0].nbytes  # three batches' worth
    monkeypatch.setattr(write_mod, "_MAX_BUFFER_BYTES", cap)
    rows = _write(tmp_path, batches, fmt(), chunk_rows=1_000_000)
    if fmt.file_per_chunk:
        sizes = [r["rows"] for r in rows]
    else:
        md = pq.ParquetFile(tmp_path / rows[0]["file"]).metadata
        sizes = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
    assert sizes == [300] * 6 + [200]
    assert pa.concat_tables(_read(tmp_path, r) for r in rows).equals(tbl)
    assert _scan(tmp_path, fmt).equals(tbl)


def test_empty_stream_writes_nothing(tmp_path):
    rows = write_partition(iter([]), ParquetFormat(), lambda f: f + ".st",
                           LocalFS(), str(tmp_path), "part-00000",
                           chunk_rows=10, hive_cols=("k",))
    assert rows == []
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("fmt", [ParquetFormat, FpscFormat])
def test_hive_nan_null_and_reopened_keys(tmp_path, fmt):
    """Unclustered input: keys 1.5 and NaN come back after a batch
    without them.  No file is clobbered (parquet reopens as -r1, fpsc
    numbers containers across the task), null and NaN rows land in
    their own directories, and every row reads back."""
    nan = float("nan")
    keys = [[1.5, nan, None, 1.5], [2.0, 2.0], [nan, 1.5, None]]
    batches, start = [], 0
    for ks in keys:
        batches.append(pa.record_batch({
            "k": pa.array(ks, pa.float64()),
            "v": pa.array(range(start, start + len(ks)), pa.int64())}))
        start += len(ks)
    rows = _write(tmp_path, batches, fmt(), chunk_rows=100, hive_cols=("k",))
    files = [r["file"] for r in rows]
    assert len(set(files)) == len(files) == 7
    if not fmt.file_per_chunk:
        assert sorted(files) == [
            "k=1.5/part-00000-r1.parquet", "k=1.5/part-00000.parquet",
            "k=2.0/part-00000.parquet",
            "k=__HIVE_DEFAULT_PARTITION__/part-00000-r1.parquet",
            "k=__HIVE_DEFAULT_PARTITION__/part-00000.parquet",
            "k=nan/part-00000-r1.parquet", "k=nan/part-00000.parquet"]
    got: dict[str, list] = {}
    for r in rows:
        t = _read(tmp_path, r)
        assert t.column_names == ["v"] and t.num_rows == r["rows"]
        got.setdefault(r["file"].split("/")[0], []).extend(t["v"].to_pylist())
    assert {d: sorted(v) for d, v in got.items()} == {
        "k=1.5": [0, 3, 7], "k=nan": [1, 6], "k=2.0": [4, 5],
        "k=__HIVE_DEFAULT_PARTITION__": [2, 8]}
    for d in got:  # only finals: every stage was published
        assert all(not n.startswith(".") for n in os.listdir(tmp_path / d))
    scanned = _scan(tmp_path, fmt)
    assert scanned.column_names == ["v", "k"]

    def key(k):
        return "nan" if k != k else k
    assert sorted(zip(scanned["v"].to_pylist(),
                      map(key, scanned["k"].to_pylist()))) == \
        [(v, key(k)) for v, k in enumerate(sum(keys, []))]


def test_hive_keys_in_first_appearance_order(tmp_path):
    """Keys open, close and reach the manifest in the order they first
    appear, whatever their sort order; multi-column keys nest."""
    tbl = pa.table({"a": ["z", "m", "z", "b", "m"], "b": [1, 2, 1, 3, 2],
                    "v": [0, 1, 2, 3, 4]})
    rows = _write(tmp_path, tbl.to_batches(), ParquetFormat(), chunk_rows=10,
                  hive_cols=("a", "b"))
    assert [r["file"] for r in rows] == [
        "a=z/b=1/part-00000.parquet", "a=m/b=2/part-00000.parquet",
        "a=b/b=3/part-00000.parquet"]
    assert [_read(tmp_path, r)["v"].to_pylist() for r in rows] == \
        [[0, 2], [1, 4], [3]]


def test_fpsc_tables_reused_across_one_instances_containers(tmp_path):
    """One ``FpscFormat`` trains a column's FSST table once and reuses it
    for its later containers; ``trained`` pre-fills the tables and the
    fsst-vs-plain decisions from a sample, ``trained(None)`` neither."""
    tbl = pa.table({"s": [f"import module_{i % 13} as m{i}" for i in range(3000)]})
    fmt = FpscFormat()
    _write(tmp_path / "a", _batches(tbl, 500), fmt, chunk_rows=1000)
    assert list(fmt.fsst_cache) == ["s"]
    table = fmt.fsst_cache["s"]
    _write(tmp_path / "b", _batches(tbl, 500), fmt, chunk_rows=1000)
    assert fmt.fsst_cache["s"] is table

    pre = FpscFormat.trained(tbl.slice(0, 200))
    assert set(pre.fsst_cache) == {"s"} and set(pre.decisions) == {"s"}
    bare = FpscFormat.trained(None)
    assert bare.fsst_cache == {} and bare.decisions == {}


def test_nan_key_spanning_batches_is_one_file(tmp_path):
    """A clustered NaN key over several batches streams into ONE file:
    each batch's NaN is a new float object, and NaN != NaN, so keys must
    not be matched by equality alone."""
    batches = [pa.record_batch({"k": pa.array([float("nan")] * 3),
                                "v": pa.array([3 * i, 3 * i + 1, 3 * i + 2])})
               for i in range(3)]
    rows = _write(tmp_path, batches, ParquetFormat(), chunk_rows=4,
                  hive_cols=("k",))
    assert [(r["file"], r["rows"]) for r in rows] == \
        [("k=nan/part-00000.parquet", 9)]
    assert _read(tmp_path, rows[0])["v"].to_pylist() == list(range(9))
