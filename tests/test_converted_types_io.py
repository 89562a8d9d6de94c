"""Converted-type widening (TIME_MILLIS/MICROS, float16, JSON/BSON read)
and glob inputs — reference parity for converted_types.py:149-247 and
the ParquetFile(glob) open path (api.py:95-162)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fastparquet_spark.format import read_file, write_file
from fastparquet_spark.format.dataset import load_dataset_metas
from fastparquet_spark.engine.file_job import plan_splits


def test_time_and_float16_roundtrip(tmp_path):
    t = pa.table({
        "t32": pa.array([1_000, None, 86_399_999], type=pa.time32("ms")),
        "t64": pa.array([1_000_000, 2, None], type=pa.time64("us")),
        "f16": pa.array(np.array([1.5, -0.25, 65504], dtype=np.float16)),
    })
    path = str(tmp_path / "t.parquet")
    write_file(path, t)
    got = pq.read_table(path)
    assert got.column("t32").to_pylist() == t.column("t32").to_pylist()
    assert got.column("t64").to_pylist() == t.column("t64").to_pylist()
    # float16 upcasts to float32 exactly (every f16 is representable)
    assert got.column("f16").to_pylist() == \
        [float(np.float32(v)) for v in [1.5, -0.25, 65504]]
    own = read_file(path)
    assert own.column("t32").cast(pa.time32("ms")).to_pylist() == \
        t.column("t32").to_pylist()
    assert own.column("t64").cast(pa.time64("us")).to_pylist() == \
        t.column("t64").to_pylist()


def test_reads_pyarrow_time_json_columns(tmp_path):
    """Our reader decodes pyarrow-written TIME columns identically."""
    t = pa.table({
        "t32": pa.array([7, None, 9], type=pa.time32("ms")),
        "t64": pa.array([None, 5, 6], type=pa.time64("us")),
    })
    path = str(tmp_path / "pa.parquet")
    pq.write_table(t, path, use_dictionary=False)
    own = read_file(path)
    for c in t.column_names:
        assert own.column(c).cast(t.schema.field(c).type).to_pylist() == \
            t.column(c).to_pylist()


def test_glob_inputs(tmp_path):
    for i in range(3):
        write_file(str(tmp_path / f"x-{i}.parquet"),
                   pa.table({"a": pa.array(range(i * 10, i * 10 + 10))}))
    write_file(str(tmp_path / "other.parquet"),
               pa.table({"a": pa.array([99])}))
    metas = load_dataset_metas(str(tmp_path / "x-*.parquet"))[1]
    assert [m["file"] for m in metas] == [f"x-{i}.parquet" for i in range(3)]
    splits = plan_splits(str(tmp_path / "x-*.parquet"))
    assert sum(s["rows"] for s in splits) == 30


def test_arrowfs_multisegment_glob(tmp_path):
    """Wildcards in NON-final segments (s3://b/ds/lang=*/part-*.parquet)
    must match through the ArrowFS seam exactly like LocalFS/glob.glob."""
    from fastparquet_spark.io import get_fs

    for lang in ("py", "rs"):
        d = tmp_path / f"lang={lang}"
        d.mkdir()
        for i in range(2):
            write_file(str(d / f"part-{i}.parquet"),
                       pa.table({"a": pa.array([i])}))
    (tmp_path / "lang=py" / "ignore.txt").write_text("x")
    pattern = f"file://{tmp_path}/lang=*/part-*.parquet"
    fs = get_fs(pattern)
    got = fs.glob(pattern)
    assert len(got) == 4 and all(p.startswith("file://") for p in got)
    assert got == sorted(got)
    # final-segment-only globs still work (flat listing path)
    assert len(fs.glob(f"file://{tmp_path}/lang=py/part-*.parquet")) == 2
    # and load_dataset_metas accepts the multi-segment URI glob end to end
    metas = load_dataset_metas(pattern)[1]
    assert len(metas) == 4


def test_file_uri_roundtrip_through_arrowfs(spark, tmp_path):
    """file:// URIs route through the pyarrow.fs seam (the same code path
    an s3:// or hdfs:// job would take) — write, resume, and metadata all
    work without a local-path assumption."""
    from fastparquet_spark.engine import encode_dataset
    from fastparquet_spark.io import ArrowFS, get_fs

    uri = f"file://{tmp_path}/ds"
    assert isinstance(get_fs(uri), ArrowFS)
    df = spark.createDataFrame(
        [(f"r{i % 3}", f"p{i}", "c", "python", f"body {i}") for i in range(500)],
        "repo string, path string, commit string, lang string, content string")
    man = encode_dataset(spark, df, uri, num_partitions=2,
                         salt_rows=10**9).collect()
    assert sum(m.rows for m in man) == 500
    man2 = encode_dataset(spark, df, uri, num_partitions=2,
                          salt_rows=10**9).collect()
    assert all(m.skipped for m in man2)
    metas = load_dataset_metas(uri)[1]
    assert sum(m["fmd"]["num_rows"] for m in metas) == 500
    assert spark.read.parquet(f"{tmp_path}/ds").count() == 500
    # match-all paged_read takes the STREAMING scan-unit path
    # (pq.ParquetFile iter_batches), which does no URI inference of its
    # own — the io layer must hand it an opened NativeFile for URIs
    from fastparquet_spark.engine import paged_read

    got = paged_read(spark, uri, filters=None)
    assert got.count() == 500
    assert got.selectExpr("sum(length(content))").collect()[0][0] \
        == sum(len(f"body {i}") for i in range(500))


def test_decimal38_flba_roundtrip(tmp_path):
    """precision >18 decimals write as FIXED(16) big-endian two's
    complement (reference fastparquet/converted_types.py:175-188) and
    round-trip through pyarrow, DuckDB and our own reader."""
    import decimal

    import duckdb

    vals = [decimal.Decimal("123456789012345678901234567.8901234567"),
            None,
            decimal.Decimal("-99999999999999999999.0000000001"),
            decimal.Decimal("0.0000000001"),
            decimal.Decimal("-1")]
    t = pa.table({"d": pa.array(vals, type=pa.decimal128(38, 10))})
    path = str(tmp_path / "d38.parquet")
    write_file(path, t)
    assert pq.read_table(path).column("d").to_pylist() == vals
    got = duckdb.sql(f"SELECT d FROM '{path}'").fetchall()
    assert [r[0] for r in got] == vals
    own = read_file(path)
    assert own.column("d").to_pylist() == vals
    # aggregate parity (sum in duckdb vs python at full 38-digit precision)
    s = duckdb.sql(f"SELECT sum(d) FROM '{path}'").fetchone()[0]
    ctx = decimal.Context(prec=40)
    expect = decimal.Decimal(0)
    for v in vals:
        if v is not None:
            expect = ctx.add(expect, v)
    assert s == expect


def test_duration_roundtrip(tmp_path):
    """duration columns map to TIME_MICROS int64 like the reference's
    timedelta64 handling (fastparquet/writer.py:203-205), annotated
    with LogicalType TIME(utc=false) — which makes them Spark-readable
    (test_logical_time_readable_by_spark covers the Spark leg; pyarrow-
    written TIME files remain unreadable by Spark, utc=true)."""
    import duckdb

    us = [3_600_000_000, None, 1, 86_399_999_999]
    t = pa.table({"td": pa.array(us, type=pa.duration("us"))})
    path = str(tmp_path / "dur.parquet")
    write_file(path, t)
    got = pq.read_table(path).column("td")
    assert got.cast(pa.int64()).to_pylist() == us  # time64[us] view
    own = read_file(path)
    assert own.column("td").cast(pa.int64()).to_pylist() == us
    micros = duckdb.sql(
        f"SELECT CAST(epoch_us(td) AS BIGINT) FROM '{path}'").fetchall()
    # duckdb reads TIME_MICROS as TIME; compare the non-null values
    assert [r[0] for r in micros if r[0] is not None] == \
        [v for v in us if v is not None]


def test_json_bson_annotations_roundtrip(tmp_path):
    """fpsc:annotation field metadata writes JSON/BSON converted types
    (reference fastparquet/writer.py:114-154 object encodings)."""
    from fastparquet_spark.format.metadata import ConvertedType
    from fastparquet_spark.format.reader import read_footer
    import duckdb

    j = ['{"a": 1}', None, '[2, 3]']
    b = [b"\x01\x02", b"", None]
    schema = pa.schema([
        pa.field("j", pa.string(), metadata={"fpsc:annotation": "json"}),
        pa.field("b", pa.binary(), metadata={"fpsc:annotation": "bson"}),
    ])
    t = pa.table({"j": pa.array(j), "b": pa.array(b)}, schema=schema)
    path = str(tmp_path / "jb.parquet")
    write_file(path, t)
    fmd = read_footer(open(path, "rb").read())
    convs = {e["name"]: e.get("converted_type") for e in fmd["schema"][1:]}
    assert convs["j"] == ConvertedType.JSON
    assert convs["b"] == ConvertedType.BSON
    got = pq.read_table(path)
    assert got.column("j").cast(pa.string()).to_pylist() == j
    assert got.column("b").cast(pa.binary()).to_pylist() == b
    own = read_file(path)
    assert own.column("j").cast(pa.string()).to_pylist() == j
    assert own.column("b").cast(pa.binary()).to_pylist() == b
    # duckdb rejects any file containing a BSON column (unsupported
    # converted type 20), so its check runs on a json-only file
    path_j = str(tmp_path / "j_only.parquet")
    write_file(path_j, t.select(["j"]))
    assert duckdb.sql(f"SELECT count(j) FROM '{path_j}'").fetchone()[0] == 2
    assert duckdb.sql(
        f"SELECT j FROM '{path_j}' WHERE j IS NOT NULL ORDER BY j"
    ).fetchall() == [(v,) for v in sorted(x for x in j if x is not None)]


def test_interval_converted_type_read(tmp_path):
    """FIXED(12)-INTERVAL (months, days, millis LE triples — reference
    fastparquet/converted_types.py:244-247) decodes to arrow
    month_day_nano intervals, value-equal vs pyarrow."""
    import struct

    from fastparquet_spark.format.metadata import ConvertedType
    from fastparquet_spark.format.writer import ParquetWriter

    triples = [(1, 2, 3000), (0, 0, 0), (14, 31, 86_399_999)]
    raw = [struct.pack("<III", *tr) for tr in triples]
    t = pa.table({"iv": pa.array(raw, type=pa.binary(12))})
    path = str(tmp_path / "iv.parquet")
    with open(path, "wb") as f:
        w = ParquetWriter(f, t.schema)
        w.schema_elems[1]["converted_type"] = ConvertedType.INTERVAL
        w.write_row_group(t)
        w.close()
    own = read_file(path)
    expect = [(m, d, ms * 1_000_000) for (m, d, ms) in triples]
    assert [tuple(v) for v in own.column("iv").to_pylist()] == expect
    # pyarrow surfaces INTERVAL as the raw FIXED(12) bytes — same
    # values, undecoded; our decode must agree with those bytes
    pa_raw = pq.read_table(path).column("iv").to_pylist()
    assert [tuple(struct.unpack("<III", r)) for r in pa_raw] == triples


def test_logical_time_readable_by_spark(spark, tmp_path):
    """Our TIME columns carry LogicalType TIME(isAdjustedToUTC=false),
    which Spark 4.1 reads as TimeType under spark.sql.timeType.enabled.
    pyarrow-written TIME files CANNOT do this (pyarrow stamps utc=true,
    which Spark rejects as PARQUET_TYPE_ILLEGAL) — interop our writer
    has that the ecosystem default doesn't."""
    import datetime

    t = pa.table({"t64": pa.array([1_000_000, None, 5], type=pa.time64("us"))})
    path = str(tmp_path / "lt_time.parquet")
    write_file(path, t)
    spark.conf.set("spark.sql.timeType.enabled", "true")
    try:
        df = spark.read.parquet(path)
        assert dict(df.dtypes) == {"t64": "time(6)"}
        got = [r["t64"] for r in df.filter("t64 is not null").orderBy("t64").collect()]
    finally:
        spark.conf.unset("spark.sql.timeType.enabled")
    assert got == [datetime.time(0, 0, 0, 5), datetime.time(0, 0, 1)]
    # the other readers still see plain TIME; ms-precision TIME stays
    # TIME_MILLIS (Spark's TimeType is micros-only and rejects MILLIS —
    # a Spark-wide limit, pyarrow files included)
    assert pq.read_table(path).column("t64").type == pa.time64("us")
    t32 = pa.table({"t32": pa.array([250, 0, None], type=pa.time32("ms"))})
    p32 = str(tmp_path / "lt_time32.parquet")
    write_file(p32, t32)
    import duckdb

    assert duckdb.sql(f"SELECT max(t32) FROM '{p32}'").fetchone()[0] == \
        datetime.time(0, 0, 0, 250000)


def test_logical_timestamp_ntz_preserved_through_spark(spark, tmp_path):
    """TimestampNTZ columns round-trip as NTZ: the LogicalType carries
    isAdjustedToUTC=false, so Spark reads timestamp_ntz back instead of
    collapsing to an instant; tz-aware columns stay timestamps."""
    import datetime

    ntz = [datetime.datetime(2024, 3, 1, 12, 30, 15, 123456), None]
    t = pa.table({
        "ts_ntz": pa.array(ntz, type=pa.timestamp("us")),
        "ts_utc": pa.array([1_700_000_000_000_000, None],
                           type=pa.timestamp("us", tz="UTC")),
    })
    path = str(tmp_path / "lt_ts.parquet")
    write_file(path, t)
    df = spark.read.parquet(path)
    kinds = dict(df.dtypes)
    assert kinds["ts_ntz"] == "timestamp_ntz" and kinds["ts_utc"] == "timestamp"
    got = df.filter("ts_ntz is not null").collect()[0]["ts_ntz"]
    assert got == ntz[0]
    # own reader + pyarrow agree on the NTZ-ness
    assert pq.read_table(path).schema.field("ts_ntz").type == pa.timestamp("us")
    assert pq.read_table(path).schema.field("ts_utc").type == pa.timestamp("us", tz="UTC")
    own = read_file(path)
    assert own.schema.field("ts_ntz").type == pa.timestamp("us")
    assert own.column("ts_ntz").to_pylist()[0] == ntz[0]


def test_list_column_write_roundtrip(tmp_path):
    """LIST write — beyond the reference (its writer is flat-only,
    fastparquet/writer.py:472): 3-level Dremel levels generated
    vectorized, readable by pyarrow, DuckDB and our own assembly
    reader, covering null rows / empty lists / null elements."""
    import duckdb

    t = pa.table({
        "id": pa.array(range(6)),
        "emb": pa.array([[1.0, 2.0, 3.0], None, [], [4.5], [None, 6.0],
                         [7.0, 8.0]], type=pa.list_(pa.float32())),
        "tags": pa.array([["a", "b"], [], None, ["c"], ["d", None], ["e"]],
                         type=pa.list_(pa.string())),
        "nums": pa.array([[1, 2], [3], None, [], [5, None, 7], [8]],
                         type=pa.list_(pa.int64())),
    })
    path = str(tmp_path / "lists.parquet")
    write_file(path, t, compression="ZSTD", row_group_rows=4)  # 2 row groups
    got = pq.read_table(path)
    for c in t.column_names:
        assert got.column(c).to_pylist() == t.column(c).to_pylist(), c
    own = read_file(path)
    for c in t.column_names:
        assert own.column(c).to_pylist() == t.column(c).to_pylist(), c
    rows = duckdb.sql(f"SELECT emb, nums FROM '{path}' ORDER BY id").fetchall()
    assert rows[0] == ([1.0, 2.0, 3.0], [1, 2])
    assert rows[4] == ([None, 6.0], [5, None, 7])


def test_struct_and_map_write_roundtrip(tmp_path):
    """STRUCT and MAP write — the rest of the nested-write matrix
    (reference writer is flat-only).  Null structs / null fields /
    null maps / empty maps / null values all survive through pyarrow,
    DuckDB and our own assembly reader, across row-group splits."""
    import duckdb

    st = [{"a": 1, "b": "x"}, None, {"a": None, "b": "y"},
          {"a": 4, "b": None}, {"a": 5, "b": "z"}, {"a": 6, "b": "w"}]
    mp = [[("a", 1), ("b", 2)], None, [], [("c", None)], [("d", 4)],
          [("e", 5), ("f", None)]]
    t = pa.table({
        "id": pa.array(range(6)),
        "st": pa.array(st, type=pa.struct([("a", pa.int64()),
                                           ("b", pa.string())])),
        "mp": pa.array(mp, type=pa.map_(pa.string(), pa.int64())),
    })
    path = str(tmp_path / "nested2.parquet")
    write_file(path, t, compression="ZSTD", row_group_rows=4)
    got = pq.read_table(path)
    assert got.column("st").to_pylist() == st
    assert got.column("mp").to_pylist() == mp
    own = read_file(path)
    assert own.column("st").to_pylist() == st
    assert own.column("mp").to_pylist() == mp
    rows = duckdb.sql(
        f"SELECT st.a, st.b, mp FROM '{path}' ORDER BY id").fetchall()
    assert rows[0][0] == 1 and rows[0][1] == "x"
    assert rows[3][2] == {"key": ["c"], "value": [None]}


def test_struct_map_readable_by_spark(spark, tmp_path):
    st = [{"a": 1, "b": "x"}, None, {"a": None, "b": "y"}]
    mp = [[("a", 1)], None, [("c", None), ("d", 9)]]
    t = pa.table({
        "id": pa.array(range(3)),
        "st": pa.array(st, type=pa.struct([("a", pa.int64()),
                                           ("b", pa.string())])),
        "mp": pa.array(mp, type=pa.map_(pa.string(), pa.int64())),
    })
    path = str(tmp_path / "nested_spark.parquet")
    write_file(path, t)
    rows = spark.read.parquet(path).orderBy("id").collect()
    assert rows[0]["st"]["a"] == 1 and rows[1]["st"] is None
    assert rows[0]["mp"] == {"a": 1} and rows[1]["mp"] is None
    assert rows[2]["mp"] == {"c": None, "d": 9}


def test_int96_write_roundtrip(tmp_path):
    """times='int96' (the reference's legacy timestamp mode,
    fastparquet/writer.py:192-197; behavioral spec test_aroundtrips.py:
    112-137): 12-byte nanos-of-day + Julian day, decodable by pyarrow,
    DuckDB and our own INT96 read path — including pre-1970 values."""
    import datetime as dt

    import duckdb

    ts = [dt.datetime(1969, 12, 31, 23, 59, 59, 123456),
          dt.datetime(1970, 1, 1), None,
          dt.datetime(2026, 8, 16, 12, 34, 56, 789012),
          dt.datetime(1900, 2, 28, 1, 2, 3)]
    t = pa.table({"ts": pa.array(ts, pa.timestamp("us")),
                  "x": pa.array(range(5))})
    path = str(tmp_path / "i96.parquet")
    write_file(path, t, times="int96")
    md = pq.read_metadata(path)
    assert md.row_group(0).column(0).physical_type == "INT96"
    assert pq.read_table(path).column("ts").cast(
        pa.timestamp("us")).to_pylist() == ts
    assert read_file(path).column("ts").cast(
        pa.timestamp("us")).to_pylist() == ts
    got = duckdb.sql(f"SELECT ts FROM '{path}' ORDER BY x").fetchall()
    assert [r[0] for r in got] == ts


def test_int96_readable_by_spark(spark, tmp_path):
    import datetime as dt

    ts = [dt.datetime(2001, 1, 1, 6, 30), None,
          dt.datetime(2026, 8, 16, 23, 59, 59, 500000)]
    t = pa.table({"ts": pa.array(ts, pa.timestamp("us")),
                  "x": pa.array(range(3))})
    path = str(tmp_path / "i96s.parquet")
    write_file(path, t, times="int96")
    rows = spark.read.parquet(path).orderBy("x").collect()
    assert [r["ts"] for r in rows] == ts
