"""Regression tests for the round-5 high-effort review of format/:

1. Stats/bloom pruning keyed schema leaves by LAST path segment, so
   name collisions across nesting levels (struct field shadowing a
   top-level column, two lists' 'element' leaves) decoded one column's
   bounds with another's type — struct.error crash or silent misprune.
2. read_file/read_row_groups on zero-row-group files returned
   null-typed columns (schema mismatch vs populated parts in
   pa.concat_tables).
3. SortingColumn.column_idx indexed the top-level column list, not the
   row group's LEAF chunk list — a struct/map ahead of the sort column
   shifted the declared sort onto the wrong leaf.
4. the container bloom probe crashed with OverflowError for uint
   probes above the signed range (fixed by sharing _bloom_value_bytes,
   which also now type-checks probes so a float probe of an int column
   can never hash the wrong layout into a FALSE NEGATIVE).
5. read_pages' whole-chunk fallback trusted total_compressed_size,
   which some writers under-report; it now sizes chunks from the next
   chunk's start like the main reader.
7. dataset_metadata(glob) parsed hive segments from the ABSOLUTE path,
   inventing phantom partition columns from directories above the
   dataset root.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fastparquet_spark.format import read_file, write_file
from fastparquet_spark.format.dataset import (
    _bloom_value_bytes,
    dataset_statistics,
    filter_row_groups,
    load_dataset_metas,
)


def test_leaf_name_collisions_prune_correctly(tmp_path):
    d = str(tmp_path)
    t = pa.table({
        "x": pa.array(["aaaa", "bbbb"]),
        "s": pa.array([{"x": 1}, {"x": 2}],
                      pa.struct([("x", pa.int32())])),
        "ints": pa.array([[1, 2], [3]], pa.list_(pa.int64())),
        "strs": pa.array([["a"], ["b", "c"]], pa.list_(pa.string())),
    })
    pq.write_table(t, os.path.join(d, "part-0.parquet"))
    st = dataset_statistics(d)
    assert st["x"]["min"] == "aaaa" and st["s.x"]["min"] == 1
    assert st["ints.list.element"]["max"] == 3
    assert st["strs.list.element"]["max"] == "c"
    assert filter_row_groups(d, [("x", "==", "zzzz")]) == []
    assert filter_row_groups(d, [("s.x", ">", 1)]) == \
        [("part-0.parquet", 0)]


def test_empty_file_keeps_real_types(tmp_path):
    p = str(tmp_path / "empty.parquet")
    t = pa.table({"a": pa.array([], pa.int64()),
                  "b": pa.array([], pa.string()),
                  "e": pa.array([], pa.list_(pa.float32()))})
    write_file(p, t, compression="SNAPPY")
    back = read_file(p)
    assert back.schema.field("a").type == pa.int64()
    assert back.schema.field("b").type == pa.string()
    assert pa.types.is_list(back.schema.field("e").type)
    full = pa.table({"a": pa.array([1], pa.int64()),
                     "b": pa.array(["x"]),
                     "e": pa.array([[1.0]], pa.list_(pa.float32()))})
    assert pa.concat_tables([back.cast(full.schema), full]).num_rows == 1


def test_sorting_column_indexes_leaf_chunks(tmp_path):
    p = str(tmp_path / "sorted.parquet")
    t = pa.table({
        "s": pa.array([{"a": 1, "b": 2}] * 10,
                      pa.struct([("a", pa.int32()), ("b", pa.int32())])),
        "id": pa.array(range(10), pa.int64()),
    })
    write_file(p, t, compression="SNAPPY", sorting_columns=["id"])
    sc = pq.ParquetFile(p).metadata.row_group(0).sorting_columns
    assert sc[0].column_index == 2  # chunks are [s.a, s.b, id]


def test_container_bloom_uint_overflow_and_typed_probes(tmp_path):
    from fastparquet_spark.format.container import FpscFormat, write_container
    from fastparquet_spark.format.dataset import (
        filter_row_groups, load_dataset_metas,
    )

    p = str(tmp_path / "c.fpsc")
    t = pa.table({"u": pa.array([1, 2, 2**31 + 5], pa.uint32()),
                  "k": pa.array([10, 20, 30], pa.int64())})
    write_container(p, t, bloom_filters={"u": True, "k": True})

    def rules_out(clause) -> bool:
        """The planner's bloom tier alone prunes the container: its
        min/max are dropped so stats cannot decide."""
        root, metas = load_dataset_metas(str(tmp_path), fmt=FpscFormat)
        for cc in metas[0]["fmd"]["row_groups"][0]["columns"]:
            cc["meta_data"]["statistics"] = {}
        return filter_row_groups(root, clause, metas=metas,
                                 fmt=FpscFormat) == []

    # present uint value above signed range: kept, no OverflowError
    assert not rules_out([("u", "==", 2**31 + 5)])
    # unrepresentable probe: conservatively kept
    assert not rules_out([("u", "==", 2**80)])
    # absent in-range value: ruled out
    assert rules_out([("k", "==", 12345)])
    # float probe of an int column: 20.0 present (exact), 20.5 cannot
    # be in an int column but must NOT false-negative via wrong bytes
    assert not rules_out([("k", "==", 20.0)])
    # typed-probe unit checks on the shared encoder
    from fastparquet_spark.format.metadata import Type

    assert _bloom_value_bytes(20.0, {"type": Type.INT64}) == \
        _bloom_value_bytes(20, {"type": Type.INT64})
    assert _bloom_value_bytes(20.5, {"type": Type.INT64}) is None
    assert _bloom_value_bytes("x", {"type": Type.INT64}) is None
    assert _bloom_value_bytes(3, {"type": Type.DOUBLE}) == \
        _bloom_value_bytes(3.0, {"type": Type.DOUBLE})


def test_read_pages_foreign_file_without_index(tmp_path):
    """A file with NO page index at all (the whole-chunk fallback for
    every chunk) reads fully and exactly — sized by chunk bounds, not
    total_compressed_size."""
    from fastparquet_spark.format.dataset import read_pages

    p = str(tmp_path / "noidx.parquet")
    n = 20_000
    t = pa.table({"k": pa.array(range(n)),
                  "s": pa.array([f"v{i}" for i in range(n)])})
    # pyarrow WITHOUT page index
    pq.write_table(t, p, row_group_size=10_000, write_page_index=False)
    out = read_pages(p, [("k", ">=", 19_990)], exact=True)
    assert out.num_rows == 10
    assert sorted(out.column("k").to_pylist()) == list(range(19_990, n))


def test_glob_above_root_hive_dirs_are_not_partitions(tmp_path):
    d = tmp_path / "run=3" / "out"
    d.mkdir(parents=True)
    t = pa.table({"k": pa.array(range(10))})
    pq.write_table(t, str(d / "part-0.parquet"))
    metas = load_dataset_metas(f"{d}/*.parquet")[1]
    assert metas[0]["partitions"] == {}  # no phantom 'run' column
    # 'run' is no column of the dataset: a filter on it raises, as on
    # any unknown column (a phantom partition would prune instead)
    with pytest.raises(ValueError, match="nonexistent column"):
        filter_row_groups(f"{d}/*.parquet", [("run", "==", 5)])


def test_rle_width_zero_bitpacked_run():
    """parquet-java emits bit-width 0 for single-distinct-value dict
    pages and may flush <8 values as a BIT-PACKED run (zero data
    bytes): decode must yield zeros, not ZeroDivisionError (review #5)."""
    from fastparquet_spark.codecs.rle import decode_hybrid

    # stream: uint32 length prefix (1 byte) + bit-packed header for one
    # 8-value group (header = (1 << 1) | 1 = 3), no data bytes
    stream = (1).to_bytes(4, "little") + bytes([3])
    vals, end = decode_hybrid(memoryview(stream), width=0, count=3)
    assert list(vals) == [0, 0, 0]
    # RLE-run form too
    stream2 = (1).to_bytes(4, "little") + bytes([6])  # run=3, rle
    vals2, _ = decode_hybrid(memoryview(stream2), width=0, count=3)
    assert list(vals2) == [0, 0, 0]


def test_paged_read_partition_only_projection_and_glob(spark, tmp_path):
    """(review #3/#6) paged_read: a projection of ONLY partition
    columns returns one row per matching data row, and a glob in_dir
    resolves real executor paths."""
    from fastparquet_spark.engine import (
        encode_dataset, paged_read, synthetic_source_table,
    )

    out = str(tmp_path / "hive")
    df = synthetic_source_table(spark, 900, partitions=2)
    encode_dataset(spark, df, out, compression="SNAPPY",
                   partition_cols=("lang",), num_partitions=2,
                   sort_within=(), resume=False,
                   layout="hive").collect()
    src = spark.read.parquet(out)
    from pyspark.sql import functions as F

    pick = sorted(r["lang"] for r in
                  src.select("lang").distinct().collect())[0]
    want = src.filter(F.col("lang") == pick).count()
    got = paged_read(spark, out, [("lang", "==", pick)],
                     columns=["lang"])
    rows = got.collect()
    assert len(rows) == want > 0
    assert got.columns == ["lang"]
    assert all(r["lang"] == pick for r in rows)
    # glob spanning the hive subdirectories
    got2 = paged_read(spark, f"{out}/lang=*/*.parquet",
                      [("lang", "==", pick)], columns=["path", "lang"])
    assert got2.count() == want
