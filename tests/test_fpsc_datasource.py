"""FPSC as a registered Spark data source: df.write.format('fpsc') /
spark.read.format('fpsc') round-trip, schema inference, partition-
parallel reads, and append mode."""

from __future__ import annotations

import glob

import pytest


@pytest.fixture()
def registered(spark):
    from fastparquet_spark.sources import FpscDataSource

    try:
        spark.dataSource.register(FpscDataSource)
    except Exception as e:  # already registered in this session
        if "already" not in str(e).lower():
            raise
    return spark


def _df(spark, n=3000):
    return spark.createDataFrame(
        [(i, f"repo{i % 5}", f"common source body {i % 37}\n" * 3)
         for i in range(n)],
        "id long, repo string, content string")


def test_write_read_roundtrip(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "fpsc_ds")
    df = _df(spark)
    df.repartition(3).write.format("fpsc").mode("append").save(out)
    files = glob.glob(f"{out}/part-*.fpsc")
    assert files and not glob.glob(f"{out}/*.inprogress")
    assert not glob.glob(f"{out}/_*metadata")  # FPSC has no sidecar
    back = spark.read.format("fpsc").load(out)
    assert back.count() == 3000
    assert {f.name for f in back.schema.fields} == {"id", "repo", "content"}
    a = df.selectExpr("sum(id)", "md5(concat_ws(',', sort_array(collect_list(cast(id as string)))))").collect()
    b = back.selectExpr("sum(id)", "md5(concat_ws(',', sort_array(collect_list(cast(id as string)))))").collect()
    assert a == b


def test_spark_timestamps_roundtrip(registered, tmp_path):
    """``TimestampType`` (zone-aware Arrow batches) and
    ``TimestampNTZType`` columns write and read back with their types
    and rows, a pushed filter on each included."""
    spark = registered
    out = str(tmp_path / "fpsc_ts")
    df = spark.sql(
        "SELECT id, TIMESTAMP'2024-03-01 12:00:00' + make_interval(0, 0, 0, "
        "id) AS t, TIMESTAMP_NTZ'2024-03-01 12:00:00' + make_interval(0, 0, "
        "0, id) AS n FROM range(6)")
    df.repartition(2).write.format("fpsc").mode("append").save(out)
    back = spark.read.format("fpsc").load(out)
    assert back.dtypes == [("id", "bigint"), ("t", "timestamp"),
                           ("n", "timestamp_ntz")]
    assert sorted(back.collect()) == sorted(df.collect())
    for cut in ("t >= TIMESTAMP'2024-03-04 12:00:00'",
                "n >= TIMESTAMP_NTZ'2024-03-04 12:00:00'"):
        assert sorted(r.id for r in back.filter(cut).collect()) == [3, 4, 5]


def test_append_accumulates(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "fpsc_app")
    _df(spark, 1000).write.format("fpsc").mode("append").save(out)
    n1 = len(glob.glob(f"{out}/part-*.fpsc"))
    _df(spark, 500).write.format("fpsc").mode("append").save(out)
    assert len(glob.glob(f"{out}/part-*.fpsc")) > n1
    assert spark.read.format("fpsc").load(out).count() == 1500


def test_append_type_conflict_refused(registered, tmp_path):
    """An append whose column type conflicts with the containers' is
    refused before any task runs, and the dataset still reads; a new
    column is accepted and reads as typed nulls in the old rows."""
    spark = registered
    out = str(tmp_path / "fpsc_conflict")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string") \
        .write.format("fpsc").mode("append").save(out)
    files = sorted(glob.glob(f"{out}/*"))
    with pytest.raises(Exception, match="type conflict on column 'v'"):
        spark.createDataFrame([(3, 1.5)], "id long, v double") \
            .write.format("fpsc").mode("append").save(out)
    assert sorted(glob.glob(f"{out}/*")) == files
    assert sorted(spark.read.format("fpsc").load(out).collect()) == [
        (1, "a"), (2, "b")]
    spark.createDataFrame([(3, "c", 7)], "id long, v string, w int") \
        .write.format("fpsc").mode("append").save(out)
    back = spark.read.format("fpsc").load(out)
    assert back.dtypes == [("id", "bigint"), ("v", "string"), ("w", "int")]
    assert sorted(back.collect(), key=lambda r: r.id) == [
        (1, "a", None), (2, "b", None), (3, "c", 7)]


def test_timestamp_append_in_session_zone(registered, tmp_path):
    """A zone-aware timestamp is written in the session's zone, which
    the driver-side append check cannot see: an append of the same
    column in a non-UTC session is accepted and reads back."""
    spark = registered
    out = str(tmp_path / "fpsc_tz")
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for day in (1, 2):
            spark.sql(f"SELECT {day} AS id, TIMESTAMP'2024-03-0{day} "
                      f"12:00:00' AS t").write.format("fpsc") \
                .mode("append").save(out)
        assert spark.read.format("fpsc").load(out).count() == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_timestamp_appends_across_session_zones(registered, tmp_path):
    """Appends from sessions in different zones record the column as
    ``timestamp[us, tz=<zone>]`` of each session; both hold UTC
    instants, so the union takes them as one type and every read
    returns each row with the instant that was written."""
    from fastparquet_spark.engine.fpsc_job import read_fpsc

    spark = registered
    out = str(tmp_path / "fpsc_zones")
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        for day, tz in ((1, "UTC"), (2, "America/New_York")):
            spark.conf.set("spark.sql.session.timeZone", tz)
            spark.sql(f"SELECT {day} AS id, TIMESTAMP'2024-03-0{day} "
                      f"12:00:00' AS t").write.format("fpsc") \
                .mode("append").save(out)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        want = [(1, "2024-03-01 12:00:00"), (2, "2024-03-02 17:00:00")]
        for df in (spark.read.format("fpsc").load(out),
                   read_fpsc(spark, out)):
            got = df.selectExpr(
                "id", "date_format(t, 'yyyy-MM-dd HH:mm:ss')").collect()
            assert sorted(map(tuple, got)) == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_chunked_containers(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "fpsc_chunks")
    (_df(spark, 4000).repartition(1).write.format("fpsc")
     .option("rows_per_container", 800).mode("append").save(out))
    assert len(glob.glob(f"{out}/part-*.fpsc")) == 5
    assert spark.read.format("fpsc").load(out).count() == 4000


def test_filter_pushdown_prunes_files(registered, tmp_path):
    """Comparison filters prune whole containers via footer min/max
    stats (conservative: Spark still applies the exact predicate)."""
    import pyarrow as pa

    from fastparquet_spark.format.container import FpscFormat
    from fastparquet_spark.format.container import (
        read_container_footer, write_container,
    )
    from fastparquet_spark.sources.fps_source import FpsReader

    spark = registered
    out = tmp_path / "pruned"
    out.mkdir()
    for i in range(4):
        t = pa.table({"id": pa.array(range(i * 1000, (i + 1) * 1000)),
                      "txt": pa.array([f"r{j}" for j in range(1000)])})
        write_container(str(out / f"part-{i}.fpsc"), t)
    meta = read_container_footer(str(out / "part-2.fpsc"))
    idc = next(c for c in meta["columns"] if c["name"] == "id")
    assert idc["min"] == 2000 and idc["max"] == 2999

    r = FpsReader(str(out), None, fmt=FpscFormat)
    from pyspark.sql.datasource import GreaterThanOrEqual
    rest = r.pushFilters([GreaterThanOrEqual(("id",), 3100)])
    assert list(rest)  # everything returned: Spark stays exact
    units = [u for p in r.partitions() for u in p.value[1]]
    assert len(units) == 1 and units[0][0].endswith("part-3.fpsc")

    # end to end: exact rows AND correct result through Spark
    got = (spark.read.format("fpsc").load(str(out))
           .filter("id >= 3100").count())
    assert got == 900


def test_prune_all_files_returns_zero_rows(registered, tmp_path):
    """A predicate beyond every footer's max prunes ALL containers;
    the read must return 0 rows, not crash in read(None)."""
    spark = registered
    out = str(tmp_path / "fpsc_all_pruned")
    _df(spark, 1000).write.format("fpsc").mode("append").save(out)
    got = spark.read.format("fpsc").load(out).filter("id >= 999999").count()
    assert got == 0


def test_overwrite_replaces_dataset(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "fpsc_ovw")
    _df(spark, 1000).write.format("fpsc").mode("append").save(out)
    assert spark.read.format("fpsc").load(out).count() == 1000
    _df(spark, 300).write.format("fpsc").mode("overwrite").save(out)
    back = spark.read.format("fpsc").load(out)
    assert back.count() == 300
    assert back.agg({"id": "max"}).collect()[0][0] == 299


def test_staged_leftovers_never_read_and_sweep_is_job_scoped(registered,
                                                             tmp_path):
    """A stale .stage- file (crashed/speculative attempt) is invisible to
    readers; a job's commit sweeps only ITS OWN staged leftovers — a
    foreign job token's stage file is left alone (it may belong to a
    concurrent in-flight job, deleting it would corrupt that job)."""
    import os

    spark = registered
    out = tmp_path / "fpsc_stage"
    _df(spark, 500).write.format("fpsc").mode("append").save(str(out))
    stale = out / "part-deadbeef-00000-000.fpsc.stage-99"
    stale.write_bytes(b"garbage from a dead attempt")
    hidden = out / ".part-deadbeef-00000-001.fpsc.stage-98"
    hidden.write_bytes(b"garbage from a dead attempt")
    assert spark.read.format("fpsc").load(str(out)).count() == 500
    _df(spark, 100).write.format("fpsc").mode("append").save(str(out))
    # the foreign stages survive (concurrent-job safety) but stay invisible
    assert stale.exists() and hidden.exists()
    assert spark.read.format("fpsc").load(str(out)).count() == 600
    # and no stage file from the jobs that DID commit remains
    others = [f for f in os.listdir(out)
              if ".stage-" in f and not f.lstrip(".").startswith("part-deadbeef-")]
    assert others == []


MIXED = {
    # same types, columns in a different order in the second container
    "swapped": [{"a": [1, 2], "b": [10, 20]}, {"b": [30], "a": [3]}],
    # the second container adds a column the first lacks
    "added": [{"a": [1, 2], "b": [10, 20]},
              {"a": [3, 4], "b": [30, 40], "c": ["x", None]}],
}


@pytest.mark.parametrize("layout", MIXED)
def test_mixed_schema_containers_read_by_name(registered, tmp_path, layout):
    """Containers whose columns differ in order or in number read by
    column name, a missing column as typed nulls: every FPSC read
    returns what ``paged_read`` returns for the same tables written as
    parquet."""
    import pyarrow as pa

    from fastparquet_spark.engine import paged_read
    from fastparquet_spark.engine.fpsc_job import read_fpsc
    from fastparquet_spark.format.container import write_container
    from fastparquet_spark.format.writer import write_file

    spark = registered
    fdir, pdir = tmp_path / "fpsc", tmp_path / "parquet"
    fdir.mkdir()
    pdir.mkdir()
    for i, cols in enumerate(MIXED[layout]):
        tbl = pa.table({k: pa.array(v, pa.string() if k == "c"
                                    else pa.int64())
                        for k, v in cols.items()})
        write_container(str(fdir / f"part-{i}.fpsc"), tbl)
        write_file(str(pdir / f"part-{i}.parquet"), tbl)
    fsrc = spark.read.format("fpsc").load(str(fdir))

    def rows(df):
        return df.schema, sorted(
            (tuple(sorted(r.asDict().items())) for r in df.collect()),
            key=repr)

    cases = [
        (read_fpsc(spark, str(fdir)), paged_read(spark, str(pdir), None)),
        (fsrc, paged_read(spark, str(pdir), None)),
        (fsrc.filter("a >= 3"),
         paged_read(spark, str(pdir), [("a", ">=", 3)])),
        (read_fpsc(spark, str(fdir), columns=["b"]),
         paged_read(spark, str(pdir), None, columns=["b"])),
    ]
    for got, want in cases:
        assert rows(got) == rows(want)
    assert dict(rows(fsrc.filter("a >= 3"))[1][0])["b"] == 30
    if layout == "added":
        assert rows(fsrc)[0].fieldNames() == ["a", "b", "c"]
        assert sorted(r["c"] is None for r in fsrc.collect()) == \
            [False, True, True, True]
