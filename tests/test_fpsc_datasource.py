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
    back = spark.read.format("fpsc").load(out)
    assert back.count() == 3000
    assert {f.name for f in back.schema.fields} == {"id", "repo", "content"}
    a = df.selectExpr("sum(id)", "md5(concat_ws(',', sort_array(collect_list(cast(id as string)))))").collect()
    b = back.selectExpr("sum(id)", "md5(concat_ws(',', sort_array(collect_list(cast(id as string)))))").collect()
    assert a == b


def test_append_accumulates(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "fpsc_app")
    _df(spark, 1000).write.format("fpsc").mode("append").save(out)
    n1 = len(glob.glob(f"{out}/part-*.fpsc"))
    _df(spark, 500).write.format("fpsc").mode("append").save(out)
    assert len(glob.glob(f"{out}/part-*.fpsc")) > n1
    assert spark.read.format("fpsc").load(out).count() == 1500


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

    from fastparquet_spark.format.container import (
        read_container_footer, write_container,
    )
    from fastparquet_spark.sources.fpsc_source import FpscReader

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

    r = FpscReader(str(out))
    from pyspark.sql.datasource import GreaterThanOrEqual
    rest = r.pushFilters([GreaterThanOrEqual(("id",), 3100)])
    assert list(rest)  # everything returned: Spark stays exact
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].value.endswith("part-3.fpsc")

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
