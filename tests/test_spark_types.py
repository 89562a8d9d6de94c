"""engine/spark_types.py: the one Arrow -> Spark type rule types every
parquet table, file or directory, as Spark's own schema inference
does, so ``relational.load`` can skip the inference job; every scan
surface serves a zone-less timestamp as ``timestamp_ntz`` and its
batches in the Arrow form of the types it declares."""

from __future__ import annotations

import datetime
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR

from fastparquet_spark.engine.spark_types import parquet_schema

PERFBENCH_SF = os.path.join(os.path.dirname(__file__), os.pardir,
                            "perfbench", "data", "sf0.01")


def _assert_typed_as_spark(spark, path):
    # DataFrame schemas, not footers: Spark makes every file-source
    # schema nullable, the user-specified one included
    want = spark.read.parquet(path).schema
    assert spark.read.schema(parquet_schema(path)).parquet(path).schema \
        == want, path


@pytest.mark.parametrize("sf_dir", [SF_DIR, PERFBENCH_SF],
                         ids=["tests", "perfbench"])
def test_sf_tables_typed_as_spark(spark, sf_dir):
    """Every table of the tests' scale factor and of perfbench's."""
    tables = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    if not tables:
        pytest.skip(f"no tables under {sf_dir}")
    for path in tables:
        _assert_typed_as_spark(spark, path)


def test_duckdb_table_typed_as_spark(spark, tmp_path):
    """A table rewritten by DuckDB the way ``scripts/make_big_sf.py``
    writes them, plus DuckDB's INT32- and INT64-backed decimals and its
    timestamps (pyarrow 16 writes decimals as FIXED only)."""
    import duckdb

    out = str(tmp_path / "lineitem.parquet")
    duckdb.sql(f"COPY (SELECT *, l_quantity::DECIMAL(9, 2) AS d32, "
               f"l_extendedprice::DECIMAL(18, 2) AS d64, "
               f"l_extendedprice::DECIMAL(30, 4) AS d128, "
               f"l_shipdate::TIMESTAMPTZ AS ts_tz, "
               f"l_shipdate::DATE AS day "
               f"FROM '{SF_DIR}/lineitem.parquet') TO '{out}' "
               f"(FORMAT PARQUET)")
    types = {f.name: f.physical_type for f in pq.ParquetFile(out).schema}
    assert (types["d32"], types["d64"]) == ("INT32", "INT64")
    _assert_typed_as_spark(spark, out)


def test_own_writer_timestamps_typed_as_spark(spark, tmp_path):
    from fastparquet_spark.format.writer import write_file

    path = str(tmp_path / "ts.parquet")
    write_file(path, _timestamps())
    assert [f.dataType.typeName() for f in parquet_schema(path)] == \
        ["integer", "timestamp_ntz", "timestamp"]
    _assert_typed_as_spark(spark, path)


def test_spark_written_file_typed_as_spark(spark, tmp_path):
    out = str(tmp_path / "spark")
    spark.sql("SELECT CAST(id AS TINYINT) AS b, TIMESTAMP'2024-01-01' AS t, "
              "TIMESTAMP_NTZ'2024-01-01' AS n, array(id) AS a, "
              "map('k', id) AS m, named_struct('x', id) AS s "
              "FROM range(3)").coalesce(1).write.parquet(out)
    path, = glob.glob(f"{out}/part-*.parquet")
    _assert_typed_as_spark(spark, path)


def test_directory_tables_load_as_spark(spark, tmp_path):
    """``relational.load`` of a table stored as a directory: part files
    as Spark writes them (``_SUCCESS``, ``.crc`` files beside them), a
    hive layout whose partition column Spark adds from the paths, and
    the facade's layout with ``_common_metadata``/``_metadata``."""
    import pandas as pd

    from fastparquet_spark import api
    from fastparquet_spark.analytics.relational import load

    sf = str(tmp_path)
    (spark.sql("SELECT id AS doc_id, CAST(id % 3 AS STRING) AS lang, "
               "TIMESTAMP_NTZ'2024-01-01 00:00:00' AS t FROM range(10)")
     .repartition(3).write.parquet(f"{sf}/documents.parquet"))
    assert "_SUCCESS" in os.listdir(f"{sf}/documents.parquet")
    (spark.sql("SELECT id AS doc_id, CAST(id % 3 AS INT) AS p FROM range(10)")
     .write.partitionBy("p").parquet(f"{sf}/hive.parquet"))
    api.write(f"{sf}/facade.parquet",
              pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]}),
              file_scheme="hive")
    assert "_metadata" in os.listdir(f"{sf}/facade.parquet")
    for name in ("documents", "hive", "facade"):
        want = spark.read.parquet(f"{sf}/{name}.parquet")
        got = load(spark, sf, name)
        assert got.schema == want.schema, name
        assert sorted(got.collect()) == sorted(want.collect()), name


def test_empty_directory_raises(tmp_path):
    (tmp_path / "_SUCCESS").touch()
    with pytest.raises(ValueError, match="no parquet file"):
        parquet_schema(str(tmp_path))


def _matrix() -> pa.Table:
    ts = [datetime.datetime(2024, 3, 1, 12, 30, 15, 123000), None,
          datetime.datetime(1999, 12, 31, 23, 59, 59)]
    ints = [1, None, 100]
    return pa.table({
        "i8": pa.array(ints, pa.int8()),
        "i16": pa.array(ints, pa.int16()),
        "i32": pa.array(ints, pa.int32()),
        "i64": pa.array(ints, pa.int64()),
        "u8": pa.array([255, None, 0], pa.uint8()),
        "u16": pa.array([65535, None, 0], pa.uint16()),
        "u32": pa.array([2**32 - 1, None, 0], pa.uint32()),
        "u64": pa.array([2**64 - 1, None, 0], pa.uint64()),
        "f32": pa.array([1.5, None, -2.0], pa.float32()),
        "f64": pa.array([1.5, None, float("nan")], pa.float64()),
        "bool": pa.array([True, None, False]),
        "str": pa.array(["a", None, "ccc"]),
        "bin": pa.array([b"a", None, b"\x00"], pa.binary()),
        "fixed": pa.array([b"abcd", None, b"wxyz"], pa.binary(4)),
        "dec_small": pa.array([decimal.Decimal("1.25"), None,
                               decimal.Decimal("-3.50")],
                              pa.decimal128(7, 2)),
        "dec_big": pa.array([decimal.Decimal("12345678901234567890.1234"),
                             None, decimal.Decimal("0.0001")],
                            pa.decimal128(30, 4)),
        "day": pa.array([datetime.date(2024, 3, 1), None,
                         datetime.date(1970, 1, 1)], pa.date32()),
        "ts_ms": pa.array(ts, pa.timestamp("ms")),
        "ts_us": pa.array(ts, pa.timestamp("us")),
        "ts_ms_utc": pa.array(ts, pa.timestamp("ms", tz="UTC")),
        "ts_us_utc": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "list": pa.array([[1, 2], None, []], pa.list_(pa.int32())),
        "list_ts": pa.array([[ts[0]], [None], None],
                            pa.list_(pa.timestamp("us"))),
        "struct": pa.array([{"a": 1, "b": "x", "u": 7}, None,
                            {"a": None, "b": None, "u": None}],
                           pa.struct([("a", pa.int32()), ("b", pa.string()),
                                      ("u", pa.uint32())])),
        "map": pa.array([[("k", 1)], None, []],
                        pa.map_(pa.string(), pa.int64())),
        "map_nested": pa.array([[("k", [ts[0]])], None, []],
                               pa.map_(pa.string(),
                                       pa.list_(pa.timestamp("ms", tz="UTC")))),
    })


def test_pyarrow_type_matrix_typed_as_spark(spark, tmp_path):
    """Every primitive pyarrow writes, zone-less and UTC timestamps in
    both units, unsigned integers and LIST/STRUCT/MAP (nested
    timestamps and unsigned members included)."""
    path = str(tmp_path / "matrix.parquet")
    pq.write_table(_matrix(), path)
    _assert_typed_as_spark(spark, path)
    got = {f.name: f.dataType.simpleString() for f in parquet_schema(path)}
    assert {k: got[k] for k in ("u8", "u16", "u32", "u64", "ts_us",
                                "ts_us_utc", "list_ts")} == {
        "u8": "smallint", "u16": "int", "u32": "bigint",
        "u64": "decimal(20,0)", "ts_us": "timestamp_ntz",
        "ts_us_utc": "timestamp", "list_ts": "array<timestamp_ntz>"}


def test_int96_typed_as_spark(spark, tmp_path):
    """INT96 reads as an instant, ``timestamp``, where a zone-less
    TIMESTAMP reads as ``timestamp_ntz``."""
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"t": pa.array([1, None], pa.timestamp("ns")),
                             "i": [1, 2]}),
                   int96, use_deprecated_int96_timestamps=True)
    assert pq.ParquetFile(int96).schema.column(0).physical_type == "INT96"
    assert parquet_schema(int96)["t"].dataType.simpleString() == "timestamp"
    _assert_typed_as_spark(spark, int96)


def test_unsigned_and_int96_served_as_spark(spark, tmp_path):
    """The scans cast their batches to the Arrow form of the Spark
    types they declare: the matrix's flat columns (unsigned integers,
    fixed-size binary, millisecond timestamps) and an INT96 column with
    sub-microsecond digits read back through ``paged_read`` and
    ``format("fps")`` with ``spark.read.parquet``'s types and values."""
    from fastparquet_spark.engine import paged_read

    _register_sources(spark)
    flat, int96 = tmp_path / "flat", tmp_path / "int96"
    flat.mkdir()
    int96.mkdir()
    m = _matrix()
    pq.write_table(m.select([f.name for f in m.schema
                             if not pa.types.is_nested(f.type)]),
                   str(flat / "m.parquet"))
    pq.write_table(pa.table({"t": pa.array([1_700_000_000_123_456_789, None],
                                           pa.timestamp("ns")),
                             "i": [1, 2]}),
                   str(int96 / "t.parquet"),
                   use_deprecated_int96_timestamps=True)
    for d in (str(flat), str(int96)):
        want = spark.read.parquet(d)
        for df in (paged_read(spark, d, None),
                   spark.read.format("fps").load(d)):
            assert df.dtypes == want.dtypes, d
            # str(): NaN != NaN in a Row comparison
            assert sorted(map(str, df.collect())) == \
                sorted(map(str, want.collect())), d


def _register_sources(spark):
    from fastparquet_spark.sources import FpscDataSource, FpsDataSource

    for src in (FpsDataSource, FpscDataSource):
        try:
            spark.dataSource.register(src)
        except Exception as e:  # already registered in this session
            if "already" not in str(e).lower():
                raise


def _timestamps() -> pa.Table:
    return pa.table({
        "id": pa.array([0, 1, 2], pa.int32()),
        "ts_ntz": pa.array([datetime.datetime(2024, 3, 1, 12, 30, 15, 123456),
                            None, datetime.datetime(2024, 3, 2)],
                           pa.timestamp("us")),
        "ts_utc": pa.array([1_700_000_000_000_000, None, 1_600_000_000_000_000],
                           pa.timestamp("us", tz="UTC")),
    })


@pytest.fixture()
def los_angeles(spark):
    """The session time zone set away from UTC, so that a zone-less
    timestamp typed as an instant shows a shifted wall clock."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    yield
    spark.conf.set("spark.sql.session.timeZone", old)


def test_every_scan_surface_types_timestamps_as_spark(spark, tmp_path,
                                                      los_angeles):
    """A zone-less and a UTC timestamp column read back with
    ``spark.read.parquet``'s types and rows through ``format("fps")``,
    ``format("fpsc")``, ``paged_read`` and ``read_fpsc``, pushed
    ``timestamp_ntz`` and ``timestamp`` filters included, under a
    session time zone that is not UTC."""
    from fastparquet_spark.engine import paged_read
    from fastparquet_spark.engine.fpsc_job import read_fpsc
    from fastparquet_spark.format.container import write_container
    from fastparquet_spark.format.writer import write_file

    _register_sources(spark)
    pdir, cdir = tmp_path / "parquet", tmp_path / "fpsc"
    pdir.mkdir()
    cdir.mkdir()
    write_file(str(pdir / "t.parquet"), _timestamps())
    write_container(str(cdir / "t.fpsc"), _timestamps())
    pyarrow_dir = tmp_path / "pyarrow"
    pyarrow_dir.mkdir()
    pq.write_table(_timestamps(), str(pyarrow_dir / "t.parquet"))

    cuts = ("ts_ntz > timestamp_ntz'2024-03-01 13:00:00'",
            "ts_utc < timestamp'2023-01-01 00:00:00'")
    for d in (pdir, pyarrow_dir):
        want = spark.read.parquet(str(d))
        assert dict(want.dtypes) == {"id": "int", "ts_ntz": "timestamp_ntz",
                                     "ts_utc": "timestamp"}
        rows = sorted(want.collect())
        cut_rows = [sorted(want.filter(c).collect()) for c in cuts]
        assert [[r.id for r in rs] for rs in cut_rows] == [[2], [2]]
        surfaces = {
            "fps": spark.read.format("fps").load(str(d)),
            "fpsc": spark.read.format("fpsc").load(str(cdir)),
            "paged_read": paged_read(spark, str(d), None),
            "read_fpsc": read_fpsc(spark, str(cdir)),
        }
        for name, df in surfaces.items():
            assert df.dtypes == want.dtypes, name
            assert sorted(df.collect()) == rows, name
            assert [sorted(df.filter(c).collect()) for c in cuts] == \
                cut_rows, name
        # paged_read's own filter takes the wall-clock value
        wall = datetime.datetime(2024, 3, 1, 13)
        assert sorted(paged_read(spark, str(d), [("ts_ntz", ">", wall)])
                      .collect()) == cut_rows[0]
