"""Regression tests for the round-6 dataset.py review findings:

1. DECIMAL pruning compares in LOGICAL value space on both tiers
   (stats decode unscaled->Decimal; bloom probes scale the logical
   value into the unscaled layout the writer hashed);
2. common_root keeps URI schemes (os.path.commonpath collapses
   's3://b' to 's3:/b', silently rerouting reads to LocalFS);
3. dataset_statistics / sorted_partitioned_columns survive
   incomparable cross-chunk stat types;
4. paged_read with empty/None filters is a FULL scan, not an
   empty DNF;
5. read_pages / filter_pages accept None/[] filters and flat-read
   files that also contain nested columns;
6. a glob matching a directory named *.parquet is skipped by
   load_dataset_metas (not crashed on).
"""

from __future__ import annotations

from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fastparquet_spark.api import ParquetFile, sorted_partitioned_columns
from fastparquet_spark.format.dataset import (
    dataset_statistics,
    filter_pages,
    filter_row_groups,
    read_pages,
)
from fastparquet_spark.format.writer import write_file
from fastparquet_spark.io import common_root, relative_to


def test_decimal_pruning_in_logical_space(tmp_path):
    d = tmp_path / "dec"
    d.mkdir()
    prices = [Decimal(f"{v}.00") for v in range(100, 200)]
    t = pa.table({"price": pa.array(prices, pa.decimal128(10, 2)),
                  "k": pa.array(range(100))})
    write_file(str(d / "p.parquet"), t, bloom_filters={"price": 0.01})
    # stats tier: logical range is 100.00..199.00 — a logical probe
    # inside it must keep the chunk (pre-fix: compared against the
    # unscaled 10000..19900 and pruned)
    assert filter_row_groups(str(d), [("price", "==", 150)],
                             use_bloom=False)
    assert filter_row_groups(str(d), [("price", ">=", Decimal("199.00"))],
                             use_bloom=False)
    assert not filter_row_groups(str(d), [("price", "<", 100)],
                                 use_bloom=False)
    # bloom tier: present logical value survives the probe...
    assert filter_row_groups(str(d), [("price", "==", Decimal("150.00"))])
    assert filter_row_groups(str(d), [("price", "==", 150)])
    # ...an in-range absent value is ruled OUT by the bloom...
    assert filter_row_groups(str(d), [("price", "==", Decimal("150.50"))],
                             use_bloom=False)  # stats keep it
    assert not filter_row_groups(str(d),
                                 [("price", "==", Decimal("150.50"))])
    # a sub-cent probe cannot be encoded in the scale-2 layout: the
    # bloom answers "can't rule out" (conservative keep; the residual
    # filter provides exactness)
    assert filter_row_groups(str(d),
                             [("price", "==", Decimal("150.005"))])
    # stats agg surfaces logical Decimals
    st = dataset_statistics(str(d))
    assert st["price"]["min"] == Decimal("100.00")
    assert st["price"]["max"] == Decimal("199.00")


def test_common_root_keeps_uri_scheme():
    assert common_root(["s3://b/ds/a.parquet", "s3://b/ds/x/b.parquet"]) \
        == "s3://b/ds"
    assert common_root(["s3://b/ds/a.parquet"]) == "s3://b/ds"
    assert relative_to("s3://b/ds/x/b.parquet", "s3://b/ds") \
        == "x/b.parquet"
    assert common_root(["/data/a/f1.parquet", "/data/b/f2.parquet"]) \
        == "/data"
    with pytest.raises(ValueError, match="schemes"):
        common_root(["s3://b/a.parquet", "gs://b/b.parquet"])


def test_mixed_type_stats_do_not_crash(tmp_path):
    d = tmp_path / "mx"
    d.mkdir()
    # one file's binary stats decode to str, the other's to bytes
    write_file(str(d / "a.parquet"),
               pa.table({"b": pa.array([b"hello", b"world"], pa.binary())}))
    write_file(str(d / "b.parquet"),
               pa.table({"b": pa.array([b"\xff\xfe", b"\xff\xff"],
                                       pa.binary())}))
    st = dataset_statistics(str(d))  # must not raise TypeError
    assert st["b"]["num_values"] == 4
    # unsortable, not a crash
    assert sorted_partitioned_columns(ParquetFile(str(d))) == {}


def test_paged_read_empty_filters_full_scan(spark, tmp_path):
    from fastparquet_spark.engine import paged_read

    d = tmp_path / "fr"
    d.mkdir()
    write_file(str(d / "p.parquet"), pa.table({"k": pa.array(range(50))}))
    assert paged_read(spark, str(d), []).count() == 50
    assert paged_read(spark, str(d), None).count() == 50
    assert paged_read(spark, str(d), [("k", "<", 10)]).count() == 10


def test_read_pages_none_filters_and_nested_file(tmp_path):
    path = str(tmp_path / "n.parquet")
    write_file(path, pa.table({
        "flat": pa.array(range(20)),
        "tags": pa.array([[i, i + 1] for i in range(20)],
                         pa.list_(pa.int64())),
    }))
    # None/[] filters: full table of the FLAT leaves, no crash
    for f in (None, []):
        t = read_pages(path, f, exact=True)
        assert t.column("flat").to_pylist() == list(range(20))
        assert "tags" not in t.column_names  # flat-only contract
    assert len(filter_pages(path, None)) >= 1
    # a filter on the flat column works despite the nested sibling
    t2 = read_pages(path, [("flat", ">=", 15)], exact=True)
    assert t2.column("flat").to_pylist() == list(range(15, 20))


def test_glob_dataset_metadata_skips_directories(tmp_path):
    from fastparquet_spark.format.dataset import load_dataset_metas

    d = tmp_path / "g"
    (d / "out.parquet").mkdir(parents=True)  # Spark-style dir dataset
    pq.write_table(pa.table({"v": pa.array(range(7))}),
                   str(d / "out.parquet" / "part-0.parquet"))
    pq.write_table(pa.table({"v": pa.array(range(3))}),
                   str(d / "loose.parquet"))
    metas = load_dataset_metas(str(d / "*.parquet"))[1]
    assert [m["file"] for m in metas] == ["loose.parquet"]


def test_writer_review_fixes(tmp_path):
    """Round-6 writer review findings: decimal256 rejected loudly; MAP
    decimal/fixed entries carry full type annotations; write after
    close raises; unknown encoding overrides fail fast; page_rows
    with v2 pages fails fast; total_byte_size is the UNCOMPRESSED
    total; unsigned columns omit the (signed-order) legacy min/max."""
    import pyarrow.parquet as pq

    from fastparquet_spark.format.writer import ParquetWriter

    # decimal256: loud, not silent corruption
    with pytest.raises(NotImplementedError, match="decimal256"):
        write_file(str(tmp_path / "x.parquet"),
                   pa.table({"d": pa.array([Decimal("1.23")],
                                           pa.decimal256(41, 2))}))
    # MAP with decimal values round-trips through pyarrow
    mp = str(tmp_path / "m.parquet")
    write_file(mp, pa.table({
        "m": pa.array([[("a", Decimal("1.25")), ("b", Decimal("2.50"))]],
                      pa.map_(pa.string(), pa.decimal128(10, 2)))}))
    back = pq.read_table(mp)
    assert back.column("m").to_pylist() == \
        [[("a", Decimal("1.25")), ("b", Decimal("2.50"))]]
    # write after close raises instead of corrupting the file
    p2 = str(tmp_path / "c.parquet")
    t = pa.table({"k": pa.array(range(10))})
    with open(p2, "wb") as fh:
        w = ParquetWriter(fh, t.schema)
        w.write_row_group(t)
        w.close()
        with pytest.raises(RuntimeError, match="close"):
            w.write_row_group(t)
    assert pq.read_table(p2).num_rows == 10  # file intact
    # fail-fast validations
    with pytest.raises(ValueError, match="unknown encoding"):
        write_file(str(tmp_path / "e.parquet"), t, encodings={"k": "rle"})
    with pytest.raises(ValueError, match="v1"):
        write_file(str(tmp_path / "v.parquet"), t, page_rows=5,
                   data_page_version=2)
    # total_byte_size: the UNCOMPRESSED encoded total (spec), not the
    # compressed bytes written
    p3 = str(tmp_path / "tb.parquet")
    big = pa.table({"s": pa.array([f"row {i} " + "ab" * 90
                                   for i in range(2000)])})
    write_file(p3, big, compression="ZSTD")
    rg = pq.read_metadata(p3).row_group(0)
    assert rg.total_byte_size == sum(
        rg.column(i).total_uncompressed_size for i in range(rg.num_columns))
    assert rg.total_byte_size > sum(
        rg.column(i).total_compressed_size for i in range(rg.num_columns))
    # unsigned column: modern bounds only, no signed-order legacy pair
    p4 = str(tmp_path / "u.parquet")
    write_file(p4, pa.table({"u": pa.array([1, 2**63 + 5], pa.uint64())}))
    from fastparquet_spark.format.reader import read_footer_tail
    from fastparquet_spark.io import fetch_footers

    fmd = read_footer_tail(fetch_footers([p4])[0])
    st = fmd["row_groups"][0]["columns"][0]["meta_data"]["statistics"]
    assert "min_value" in st and "min" not in st
    # pyarrow still reads the unsigned bounds correctly
    pst = pq.read_metadata(p4).row_group(0).column(0).statistics
    assert pst.max == 2**63 + 5


def test_append_nested_schema_not_spurious_mismatch(spark, tmp_path):
    """(r6 engine review #1) append to a dataset with a LIST column:
    group schema elements must not poison the signature compare."""
    from fastparquet_spark.engine import append_dataset, encode_dataset
    from fastparquet_spark.format.dataset import write_metadata_sidecar

    out = str(tmp_path / "nested")
    df = spark.createDataFrame(
        [(i, f"d{i}", [float(i), float(i + 1)]) for i in range(300)],
        "vec_id long, name string, embedding array<double>")
    encode_dataset(spark, df, out, partition_cols=(), num_partitions=2,
                   resume=False).collect()
    write_metadata_sidecar(out)
    df2 = spark.createDataFrame(
        [(i, f"d{i}", [float(i)]) for i in range(300, 400)],
        "vec_id long, name string, embedding array<double>")
    rows = append_dataset(spark, df2, out, partition_cols=(),
                          num_partitions=2, resume=False)
    assert sum(r.rows for r in rows) == 100
    assert spark.read.parquet(out).count() == 400


def test_salting_covers_null_partition_key(spark):
    """(r6 engine review #4) a skewed NULL key must be salted across
    tasks, not funneled to one (eqNullSafe join)."""
    from pyspark.sql import functions as F

    from fastparquet_spark.engine.encode_job import _salted

    rows = [(None, f"p{i}", i) for i in range(2000)] + \
           [("small", f"q{i}", i) for i in range(20)]
    df = spark.createDataFrame(rows, "repo string, path string, v long")
    out = _salted(df, ["repo"], salt_rows=100, num_partitions=8)
    sizes = [len(p) for p in out.rdd.glom().collect()]
    # the 2000 NULL-key rows spread over >1 partition
    assert max(sizes) < 2000
    assert sum(sizes) == 2020


def test_hive_nan_partition_value_rows_survive(spark, tmp_path):
    """(r6 engine review #3) NaN in a float partition column: rows must
    be written (NaN != NaN broke the combo mask silently)."""
    import math

    from fastparquet_spark.engine import encode_dataset

    rows = [(float("nan") if i % 3 == 0 else float(i % 2), i)
            for i in range(300)]
    df = spark.createDataFrame(rows, "score double, k long")
    out = str(tmp_path / "nanhive")
    man = encode_dataset(spark, df, out, partition_cols=("score",),
                         layout="hive", num_partitions=1,
                         salt_rows=10**9, resume=False).collect()
    assert sum(r.rows for r in man) == 300
    import glob as _g

    import pyarrow.parquet as _pq

    total = sum(_pq.read_table(p).num_rows
                for p in _g.glob(f"{out}/score=*/part-*.parquet"))
    assert total == 300  # the 100 NaN rows did not vanish


def test_resume_rejects_changed_num_partitions(spark, tmp_path):
    """(r6 engine review #7) resume with a different num_partitions
    would skip pids now holding different rows — must raise, on the
    parquet and the fpsc shuffle encoders alike."""
    from fastparquet_spark.engine import encode_dataset
    from fastparquet_spark.engine.fpsc_job import (
        encode_dataset_fpsc, read_fpsc,
    )

    df = spark.range(500).selectExpr("id", "concat('x', id) AS content")
    for name, encode, read in (
            ("np", encode_dataset, spark.read.parquet),
            ("np_fpsc", encode_dataset_fpsc,
             lambda out: read_fpsc(spark, out))):
        out = str(tmp_path / name)
        encode(spark, df, out, partition_cols=(), num_partitions=2,
               resume=True).collect()
        with pytest.raises(ValueError, match="num_partitions"):
            encode(spark, df, out, partition_cols=(),
                   num_partitions=3, resume=True).collect()
        # same value resumes fine (all partitions skip)
        rows = encode(spark, df, out, partition_cols=(),
                      num_partitions=2, resume=True).collect()
        assert all(r.skipped for r in rows)
        # resume=False starts over regardless
        encode(spark, df, out, partition_cols=(), num_partitions=3,
               resume=False).collect()
        assert read(out).count() == 500


def test_encode_files_plan_guard_and_sidecar_drop(spark, tmp_path):
    """(r6 file_job review #1/#2) resume against a changed split plan
    raises; a stale _metadata sidecar is invalidated at plan time."""
    import pyarrow.parquet as _pq

    from fastparquet_spark.engine import encode_files
    from fastparquet_spark.format.dataset import write_metadata_sidecar

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        _pq.write_table(pa.table({"k": pa.array(range(i * 100, (i + 1) * 100)),
                                  "s": pa.array([f"v{j}" for j in range(100)])}),
                        str(src / f"in-{i}.parquet"))
    out = str(tmp_path / "out")
    encode_files(spark, str(src), out, rows_per_task=150).collect()
    write_metadata_sidecar(out)
    import os as _os

    # a NEW input file changes the split plan -> resume refuses
    _pq.write_table(pa.table({"k": pa.array(range(300, 400)),
                              "s": pa.array([f"v{j}" for j in range(100)])}),
                    str(src / "in-3.parquet"))
    with pytest.raises(ValueError, match="split plan"):
        encode_files(spark, str(src), out, rows_per_task=150).collect()
    # resume=False re-plans (and drops the stale sidecar at plan time)
    encode_files(spark, str(src), out, rows_per_task=150,
                 resume=False).collect()
    assert not _os.path.exists(_os.path.join(out, "_metadata"))
    total = sum(_pq.read_table(_os.path.join(out, f)).num_rows
                for f in _os.listdir(out)
                if f.endswith(".parquet"))
    assert total == 400


def test_io_path_resolution_fixes(tmp_path):
    """(r6 io review) cwd-relative roots, trailing-slash URI prefixes,
    mixed-scheme validation, glob dotfile parity."""
    import os

    from fastparquet_spark.api import ParquetFile
    from fastparquet_spark.io import common_root, get_fs, relative_to

    assert common_root(["a.parquet"]) == "."
    assert common_root(["a/x.pq", "b/y.pq"]) == "."
    assert relative_to("a/x.pq", ".") == "a/x.pq"
    assert relative_to("./a/x.pq", ".") == "a/x.pq"
    with pytest.raises(ValueError, match="mixed"):
        common_root(["/t/a.pq", "s3://b/x.pq"])
    # a bare-filename open works end to end (root '.' + untouched rel)
    cwd = os.getcwd()
    try:
        os.chdir(tmp_path)
        write_file("bare.parquet", pa.table({"k": pa.array(range(9))}))
        assert ParquetFile(["bare.parquet"]).to_pandas()["k"].sum() == 36
    finally:
        os.chdir(cwd)
    # file:// URI with trailing slash resolves reads correctly
    sub = tmp_path / "u"
    sub.mkdir()
    (sub / "x.bin").write_bytes(b"hello")
    fs = get_fs(f"file://{sub}/")
    with fs.open_read(f"file://{sub}/x.bin") as f:
        assert f.read() == b"hello"
    # ArrowFS glob skips dot-hidden names like glob.glob does
    (sub / ".part-0.parquet.stage-1").write_bytes(b"x")
    (sub / "part-0.parquet").write_bytes(b"x")
    got = get_fs(f"file://{sub}").glob(f"file://{sub}/*.parquet*")
    assert [os.path.basename(p) for p in got] == ["part-0.parquet"]


def test_reader_review_fixes(tmp_path):
    """(r6 reader review) pathlib sources; BYTE_ARRAY-backed DECIMAL;
    logical-only STRING/DECIMAL/INTEGER annotations; mixed
    utf8/large_utf8 row groups concat permissively (type check)."""
    import pathlib

    import numpy as np

    from fastparquet_spark.format.reader import (
        _arrow_type, _to_arrow, read_file,
    )

    path = tmp_path / "p.parquet"
    write_file(str(path), pa.table({"k": pa.array(range(5))}))
    assert read_file(pathlib.Path(path)).num_rows == 5  # PathLike ok
    # BYTE_ARRAY decimal: big-endian unscaled bytes -> logical Decimals
    elem = {"name": "d", "type": 6, "converted_type": 5,
            "precision": 10, "scale": 2}
    lengths = np.array([2, 1], np.int64)
    data = np.frombuffer((300).to_bytes(2, "big") + (5).to_bytes(1, "big"),
                         np.uint8)
    arr = _to_arrow(np.array([True, True]), (lengths, data), elem)
    assert arr.to_pylist() == [Decimal("3.00"), Decimal("0.05")]
    # logical-only annotations resolve without a converted type
    assert _arrow_type({"type": 6, "logicalType": {"STRING": {}}}) \
        == pa.string()
    assert _arrow_type({"type": 2, "logicalType": {
        "DECIMAL": {"precision": 12, "scale": 3}}}) == pa.decimal128(12, 3)
    assert _arrow_type({"type": 1, "logicalType": {
        "INTEGER": {"bitWidth": 16, "isSigned": False}}}) == pa.uint16()
