"""Structured Streaming: the encode sink's idempotence in both formats."""

from __future__ import annotations

import os
import shutil

import pytest

from fastparquet_spark.streaming import encode_stream

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def doc_stream_dir(tmp_path, spark):
    """documents.parquet split into 2 files in a dir, as a file stream."""
    d = str(tmp_path / "stream_src")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(2) \
        .write.mode("overwrite").parquet(d)
    return d


def test_encode_stream_availablenow(spark, doc_stream_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(doc_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(doc_stream_dir)
    q = encode_stream(spark, stream, out, ckpt, num_partitions=2)
    q.awaitTermination(120)
    # every source row landed exactly once across epoch dirs
    back = spark.read.parquet(f"{out}/epoch=*/part-*.parquet")
    assert back.count() == 500
    assert back.select("doc_id").distinct().count() == 500
    # replaying the same batch (simulated crash) is a no-op: resume skips
    epochs = [e for e in os.listdir(out) if e.startswith("epoch=")]
    assert epochs
    shutil.rmtree(ckpt)  # force full re-read of the source
    stream2 = spark.readStream.schema(schema).parquet(doc_stream_dir)
    q2 = encode_stream(spark, stream2, out, str(tmp_path / "ckpt2"),
                       num_partitions=2)
    q2.awaitTermination(120)
    back2 = spark.read.parquet(f"{out}/epoch=*/part-*.parquet")
    assert back2.count() == 500  # manifests made the replay idempotent


def test_encode_stream_fpsc_epochs(spark, tmp_path):
    """The streaming sink's container mode: each micro-batch becomes an
    FPSC epoch directory, read back value-equal through read_fpsc."""
    from pyspark.sql import functions as F

    from fastparquet_spark.engine.fpsc_job import read_fpsc
    from fastparquet_spark.streaming.jobs import encode_stream

    src_dir = str(tmp_path / "src")
    df0 = (spark.range(1500)
           .withColumn("lang", (F.col("id") % 2).cast("string"))
           .withColumn("content", F.concat(F.lit("d"), F.col("id"))))
    df0.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(df0.schema).parquet(src_dir)
    q = encode_stream(spark, stream, str(tmp_path / "out"),
                      str(tmp_path / "ckpt"), fmt="fpsc", num_partitions=2)
    q.awaitTermination(120)
    back = read_fpsc(spark, str(tmp_path / "out"))
    assert back.count() == 1500
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(1500))
