"""The option surface of the public engine entry points, pinned.

Every option doubles the configurations the tests and the benchmark
have to cover, so each parameter here is one that a contract uses (the
registry, ``bench.py``, perfbench or ``scripts/``; the facade's write
surface mirrors the reference's ``write`` and ``merge``).  Adding one fails
this test until the pin moves with it, as the job-count pins in
tests/test_tasks.py catch fixed-cost creep.  Spark-free: only the
signatures are read.
"""

from __future__ import annotations

import inspect

from fastparquet_spark.api import merge, write
from fastparquet_spark.engine.encode_job import append_dataset, encode_dataset
from fastparquet_spark.engine.file_job import (
    encode_files, encode_files_fpsc, plan_splits,
)
from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc, read_fpsc
from fastparquet_spark.engine.scan_job import paged_read
from fastparquet_spark.format.dataset import load_dataset_metas
from fastparquet_spark.streaming import encode_stream

PINS = {
    encode_dataset: [
        "spark", "df", "out_dir", "compression", "partition_cols",
        "num_partitions", "salt_rows", "sort_within", "row_group_rows",
        "resume", "layout", "file_prefix", "bloom_filters", "page_rows"],
    encode_files: [
        "spark", "input_dir", "out_dir", "compression", "rows_per_task",
        "resume", "preserve_layout"],
    encode_files_fpsc: [
        "spark", "input_dir", "out_dir", "compression", "rows_per_task",
        "resume", "pretrain_rows"],
    encode_dataset_fpsc: [
        "spark", "df", "out_dir", "compression", "partition_cols",
        "num_partitions", "salt_rows", "resume", "rows_per_container",
        "pretrain_rows"],
    append_dataset: ["spark", "df", "out_dir", "kwargs"],
    paged_read: ["spark", "in_dir", "filters", "columns"],
    read_fpsc: ["spark", "in_dir", "columns"],
    plan_splits: ["input_dir", "rows_per_task"],
    load_dataset_metas: ["path", "fs", "fmt", "use_sidecar"],
    encode_stream: [
        "spark", "stream_df", "out_dir", "checkpoint_dir", "compression",
        "partition_cols", "num_partitions", "available_now", "fmt"],
    write: [
        "filename", "data", "row_group_offsets", "compression",
        "file_scheme", "partition_on", "append", "times", "custom_metadata",
        "stats", "has_nulls", "write_index", "object_encoding", "fixed_text",
        "kwargs"],
    merge: ["file_list", "verify_schema"],
}


def test_engine_entry_point_parameters_pinned():
    got = {fn.__name__: list(inspect.signature(fn).parameters)
           for fn in PINS}
    assert got == {fn.__name__: names for fn, names in PINS.items()}
