from __future__ import annotations

from fastparquet_spark.engine.encode_job import _u_join


def encode_stream(spark, stream_df, out_dir: str, checkpoint_dir: str, *,
                  compression: str = "ZSTD", partition_cols=("lang",),
                  num_partitions: int = 4, available_now: bool = True,
                  fmt: str = "parquet"):
    """Stream -> encode engine, one epoch directory per micro-batch.

    foreachBatch hands us a normal DataFrame per epoch; we run the same
    salted-repartition + mapInArrow encode as the batch path.  If Spark
    replays an epoch after a crash, resume=True makes the replay a no-op
    for already-committed partitions (manifest rename = commit).

    ``fmt``: 'parquet' (default) or 'fpsc' — one sink API over both
    output formats (the container epoch uses encode_dataset_fpsc with
    the same manifest/resume idempotence).
    """
    from fastparquet_spark.engine import encode_dataset
    from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc

    if fmt not in ("parquet", "fpsc"):
        raise ValueError("fmt must be 'parquet' or 'fpsc'")
    from fastparquet_spark.io import get_fs

    get_fs(out_dir).makedirs(out_dir)  # fs seam: URI sinks work too

    def handle(batch_df, epoch_id: int):
        epoch_dir = _u_join(out_dir, f"epoch={epoch_id:08d}")
        if fmt == "fpsc":
            encode_dataset_fpsc(batch_df.sparkSession, batch_df, epoch_dir,
                                compression=compression,
                                partition_cols=partition_cols,
                                num_partitions=num_partitions,
                                resume=True).collect()
            return
        encode_dataset(batch_df.sparkSession, batch_df, epoch_dir,
                       compression=compression, partition_cols=partition_cols,
                       num_partitions=num_partitions, resume=True).collect()

    writer = (stream_df.writeStream
              .foreachBatch(handle)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

