"""File-split encode job (the throughput path): plan, encode, resume."""

from __future__ import annotations

import json
import os

import pytest

from fastparquet_spark.engine import encode_files, plan_splits, synthetic_source_table
from fastparquet_spark.engine.commit import TaskCommit, stage_name, sweep


@pytest.fixture(scope="module")
def src_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("src"))
    return d


def _publish(fs, body_writer, opath: str, attempt) -> None:
    """One single-file task commit of ``opath`` through engine/commit.py
    (its manifest lands beside ``opath``'s directory, not in it)."""
    out_dir = os.path.dirname(os.path.dirname(opath))
    fs.makedirs(os.path.join(out_dir, "_manifests"))
    task = TaskCommit(fs, out_dir, "part-00000", attempt)
    try:
        with fs.open_write(task.stage(opath)) as sink:
            body_writer(sink)
        task.commit({})
    except BaseException:
        task.abort()
        raise


def _materialize(spark, d):
    if not os.listdir(d):
        synthetic_source_table(spark, 3000, partitions=4) \
            .write.mode("overwrite").parquet(d)
    return d


def test_plan_splits_packs_row_groups(spark, src_dir):
    _materialize(spark, src_dir)
    splits = plan_splits(src_dir, rows_per_task=1000)
    assert sum(s["rows"] for s in splits) == 3000
    assert all(s["rows"] <= 1100 for s in splits)  # one rg may exceed slightly
    # deterministic ids
    assert [s["split"] for s in splits] == list(range(len(splits)))
    assert splits == plan_splits(src_dir, rows_per_task=1000)


def test_encode_files_roundtrip_and_resume(spark, src_dir, tmp_path):
    _materialize(spark, src_dir)
    out = str(tmp_path / "enc")
    m1 = encode_files(spark, src_dir, out, compression="SNAPPY",
                      rows_per_task=800, resume=True).collect()
    assert sum(r["rows"] for r in m1) == 3000
    assert all(not r["skipped"] for r in m1)
    back = spark.read.parquet(f"{out}/part-*.parquet")
    assert back.count() == 3000
    # content equality through the whole path
    from pyspark.sql import functions as F
    src = spark.read.parquet(src_dir)
    a = src.select(F.sha2("content", 256).alias("h")).groupBy("h").count()
    b = back.select(F.sha2("content", 256).alias("h")).groupBy("h").count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # resume: second run skips everything
    m2 = encode_files(spark, src_dir, out, compression="SNAPPY",
                      rows_per_task=800, resume=True).collect()
    assert all(r["skipped"] for r in m2)
    # delete one manifest -> only that split re-runs
    victim = m1[0]["partition"]
    os.remove(os.path.join(out, "_manifests", f"part-{victim:05d}.json"))
    m3 = {r["partition"]: r for r in encode_files(
        spark, src_dir, out, compression="SNAPPY",
        rows_per_task=800, resume=True).collect()}
    assert not m3[victim]["skipped"]
    assert all(r["skipped"] for p, r in m3.items() if p != victim)


def test_encode_files_preserves_hive_layout(spark, tmp_path):
    """A hive-partitioned input re-encodes into hive-partitioned output
    through the file-split path — no shuffle, clustering preserved,
    Spark still partition-prunes the re-encoded dataset."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fastparquet_spark.engine.file_job import encode_files

    src = tmp_path / "src"
    for lang in ("python", "rust"):
        (src / f"lang={lang}").mkdir(parents=True)
        t = pa.table({"doc_id": pa.array(range(2000)),
                      "text": pa.array([f"{lang} body {i}" for i in range(2000)])})
        pq.write_table(t, str(src / f"lang={lang}" / "data.parquet"))
    out = str(tmp_path / "out")
    man = encode_files(spark, str(src), out, preserve_layout=True).collect()
    assert sum(m.rows for m in man) == 4000
    assert glob.glob(f"{out}/lang=python/part-*.parquet")
    assert glob.glob(f"{out}/lang=rust/part-*.parquet")
    df = spark.read.parquet(out)
    assert df.count() == 4000
    assert df.filter("lang='rust'").count() == 2000


def test_encode_files_fpsc_roundtrip_and_resume(spark, tmp_path):
    """The container format's throughput path: footer-split planning,
    driver-pretrained FSST tables, per-split containers + manifests,
    idempotent resume — and every content byte survives (sha-equal
    through read_fpsc)."""
    from pyspark.sql import functions as F

    from fastparquet_spark.engine.datagen import synthetic_source_table
    from fastparquet_spark.engine.file_job import encode_files_fpsc
    from fastparquet_spark.engine.fpsc_job import read_fpsc

    src_dir = str(tmp_path / "src")
    synthetic_source_table(spark, 6000, partitions=3) \
        .write.mode("overwrite").parquet(src_dir)
    out = str(tmp_path / "out")
    m1 = encode_files_fpsc(spark, src_dir, out,
                           rows_per_task=2000, resume=True).collect()
    assert sum(r["rows"] for r in m1) == 6000
    assert not any(r["skipped"] for r in m1)
    back = read_fpsc(spark, out)
    src = spark.read.parquet(src_dir)
    a = {r[0] for r in src.select(F.sha2(F.col("content").cast("binary"),
                                         256)).collect()}
    b = {r[0] for r in back.select(F.sha2(F.col("content").cast("binary"),
                                          256)).collect()}
    assert back.count() == 6000 and a == b
    # resume: second run skips every split
    m2 = encode_files_fpsc(spark, src_dir, out,
                           rows_per_task=2000, resume=True).collect()
    assert all(r["skipped"] for r in m2)
    # pretraining off still works (per-task training fallback)
    out2 = str(tmp_path / "out2")
    m3 = encode_files_fpsc(spark, src_dir, out2, rows_per_task=3000,
                           resume=False, pretrain_rows=0).collect()
    assert sum(r["rows"] for r in m3) == 6000


def test_staged_commit_protocol(spark, src_dir, tmp_path):
    """r4 What's-wrong #1: stage files must be dot-hidden and
    attempt-suffixed; twin attempts of one split must not collide or
    leave duplicate/partial finals; a mid-job directory-listing reader
    must see only committed data."""
    import threading

    import pyarrow as pa

    from fastparquet_spark.format.writer import write_file
    from fastparquet_spark.io import LocalFS

    _materialize(spark, src_dir)
    fs = LocalFS()
    d = tmp_path / "twins"
    d.mkdir()
    opath = str(d / "part-00000.parquet")
    t = pa.table({"x": pa.array(range(100))})

    # two concurrent attempts publishing the same split
    errs = []

    def attempt(aid):
        try:
            _publish(fs, lambda sink: write_file(sink, t,
                                                 compression="SNAPPY"),
                     opath, aid)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = [threading.Thread(target=attempt, args=(aid,)) for aid in (7, 8)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    # at least one attempt wins; no stage garbage, exactly one final,
    # and it parses whole
    files = sorted(os.listdir(d))
    assert files == ["part-00000.parquet"], (files, errs)
    import pyarrow.parquet as pq

    assert pq.read_table(opath).num_rows == 100

    # stage names are dot-hidden + attempt-suffixed (Spark readers skip
    # '.'-prefixed basenames)
    s = stage_name(opath, 42)
    assert s.rsplit("/", 1)[1] == ".part-00000.parquet.stage-42"

    # a zombie attempt's stale stage is swept at commit
    stale = stage_name(opath, 99)
    with open(stale, "wb") as fh:
        fh.write(b"partial")
    sweep(fs, [opath], "part-00000")
    assert not os.path.exists(stale)

    # end-to-end: a full job leaves no non-committed visible files, and
    # a leftover stage file (zombie executor) is invisible to Spark
    out = str(tmp_path / "e2e")
    encode_files(spark, src_dir, out, compression="SNAPPY",
                 rows_per_task=1500, resume=False).collect()
    vis = [f for f in os.listdir(out)
           if not f.startswith((".", "_"))]
    assert all(f.endswith(".parquet") for f in vis)
    n = spark.read.parquet(out).count()
    with open(os.path.join(out, ".part-00000.parquet.stage-123"), "wb") as fh:
        fh.write(b"garbage not parquet")
    assert spark.read.parquet(out).count() == n  # dotfile ignored


def test_staged_commit_protocol_fpsc(spark, src_dir, tmp_path):
    """Same protocol on the FPSC container path."""
    from fastparquet_spark.engine.fpsc_job import read_fpsc
    from fastparquet_spark.engine.file_job import encode_files_fpsc

    _materialize(spark, src_dir)
    out = str(tmp_path / "fpsc")
    m = encode_files_fpsc(spark, src_dir, out, rows_per_task=1500,
                          resume=False).collect()
    assert sum(r["rows"] for r in m) == 3000
    vis = [f for f in os.listdir(out) if not f.startswith((".", "_"))]
    assert all(f.endswith(".fpsc") for f in vis)
    assert read_fpsc(spark, out).count() == 3000


def test_publish_three_twins_hammer(tmp_path):
    """Publish-first ordering: N simultaneous attempts always leave
    exactly one complete final and all report success (sweep-first
    allowed mutual stage destruction -> zero finals)."""
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fastparquet_spark.format.writer import write_file
    from fastparquet_spark.io import LocalFS

    fs = LocalFS()
    t = pa.table({"x": pa.array(range(200))})
    for trial in range(10):
        d = tmp_path / f"t{trial}"
        d.mkdir()
        opath = str(d / "part-00000.parquet")
        errs = []

        def attempt(aid):
            try:
                _publish(fs, lambda sink: write_file(
                    sink, t, compression="SNAPPY"), opath, aid)
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        th = [threading.Thread(target=attempt, args=(a,))
              for a in (1, 2, 3)]
        for x in th:
            x.start()
        for x in th:
            x.join()
        assert sorted(os.listdir(d)) == ["part-00000.parquet"], \
            (trial, os.listdir(d), errs)
        assert not errs, (trial, errs)
        assert pq.read_table(opath).num_rows == 200


def test_one_file_reads_and_encodes(spark, src_dir, tmp_path):
    """A single parquet file is an input like a directory: ``encode_files``
    encodes all its rows (it planned no split and wrote nothing), and
    ``paged_read`` and ``format("fps")`` return the rows
    ``spark.read.parquet`` does (they raised ``no parquet files``)."""
    import glob

    from fastparquet_spark.engine import paged_read
    from fastparquet_spark.sources import FpsDataSource

    _materialize(spark, src_dir)
    one = sorted(glob.glob(f"{src_dir}/part-*.parquet"))[0]
    want = sorted(spark.read.parquet(one).collect())
    assert want
    man = encode_files(spark, one, str(tmp_path / "enc"),
                       rows_per_task=800, resume=False).collect()
    assert sum(r["rows"] for r in man) == len(want)
    assert sorted(spark.read.parquet(
        str(tmp_path / "enc" / "part-*.parquet")).collect()) == want
    assert sorted(paged_read(spark, one, None).collect()) == want
    try:
        spark.dataSource.register(FpsDataSource)
    except Exception as e:  # already registered in this session
        if "already" not in str(e).lower():
            raise
    assert sorted(spark.read.format("fps").load(one).collect()) == want
