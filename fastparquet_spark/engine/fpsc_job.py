"""Distributed FPSC (own-format, FSST-enabled) encode/decode.

The parquet-compat jobs must stay inside the standard encoding set so
third-party readers accept the files (SURVEY.md §7.4); this job is the
other half of the dual-mode design: the same plan marker, task body,
commit and resume as ``encode_dataset`` (``encode_job._encode_shuffled``
over engine/commit.py), but the format plug-in is ``FpscFormat``, so
the per-task payload is a set of FPSC containers where string columns
may pick FSST (best-of vs plain+block codec).  Decode is ours
alone — ``read_fpsc`` distributes container paths and inflates them
inside Python workers (vectorized FSST expansion, no per-row Python).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from fastparquet_spark.engine.commit import begin_job
from fastparquet_spark.engine.encode_job import _encode_shuffled, _salted
from fastparquet_spark.engine.tasks import map_tasks
from fastparquet_spark.engine.write import FpscFormat


def encode_dataset_fpsc(spark, df, out_dir: str, *, compression: str = "ZSTD",
                        partition_cols=("repo", "lang"),
                        num_partitions: int | None = None,
                        salt_rows: int = 250_000, resume: bool = True,
                        rows_per_container: int = 1_000_000,
                        pretrain_rows: int = 2_000,
                        bloom_filters: dict | None = None):
    """Encode ``df`` into FPSC containers + manifests: the shuffle task
    body of ``encode_dataset`` with the ``FpscFormat`` plug-in, so each
    task writes ``part-{pid:05d}-NNN.fpsc`` containers of
    ``rows_per_container`` rows (fewer at the byte cap) and task memory
    is bounded by the chunk, not the partition.

    FSST training is the expensive half of the string codec, and paying
    it once PER TASK dominated small-task encodes (~0.7s of a 0.9s
    task).  With ``pretrain_rows`` > 0 the driver trains the tables and
    fixes fsst-vs-plain on a ``df.limit(pretrain_rows)`` sample
    (``FpscFormat.trained``) and ships both to every task through the
    closure.  Set 0 to restore per-task training.

    All IO goes through the ``io.get_fs`` seam, so ``out_dir`` may be a
    ``file://``/``s3://``-style URI like every other engine path."""
    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 1)
    # resume keys on partition ids, as in encode_dataset
    begin_job(out_dir, "part", {"num_partitions": num_partitions}, resume)
    work = _salted(df, partition_cols, salt_rows, num_partitions)

    fmt = FpscFormat.trained(
        df.limit(pretrain_rows).toArrow() if pretrain_rows else None,
        compression, bloom_filters)
    return _encode_shuffled(work, out_dir, fmt, file_prefix="part",
                            chunk_rows=rows_per_container, resume=resume)


def fpsc_files(path: str, columns=None, probe: bool = True):
    """(files, schema) of an FPSC dataset — the one listing + schema
    probe behind ``read_fpsc`` and the fpsc data source: the sorted
    ``.fpsc`` containers under ``path`` (through the fs seam, so
    ``path`` may be a URI) and, with ``probe``, the Spark schema of the
    FIRST container's footer (footer tail only, never the data
    blocks), projected to ``columns``.  Probing a directory with no
    containers raises ValueError; without ``probe`` the schema is
    None."""
    from fastparquet_spark.io import get_fs

    fs = get_fs(path)
    files = sorted(p for p in fs.walk_files(path) if p.endswith(".fpsc"))
    if not probe:
        return files, None
    from pyspark.sql.pandas.types import from_arrow_schema

    from fastparquet_spark.format.container import (
        _type_from_name, read_container_footer,
    )

    if not files:
        raise ValueError(f"no .fpsc files under {path}")
    cms = read_container_footer(files[0], fs=fs)["columns"]
    if columns is not None:
        by_name = {cm["name"]: cm for cm in cms}
        cms = [by_name[c] for c in columns]
    return files, from_arrow_schema(pa.schema(
        [(cm["name"], _type_from_name(cm["arrow_type"])) for cm in cms]))


def read_fpsc(spark, in_dir: str, schema=None, columns=None):
    """Distributed decode of an FPSC dataset back to a DataFrame:
    container paths fan out to tasks; each Python worker inflates its
    file with the vectorized decoders (FSST expansion, delta prefix-sum,
    validity reassembly).  The driver-side schema probe reads ONLY the
    first container's footer (never the data blocks), and listing goes
    through the fs seam so ``in_dir`` may be a URI.

    ``columns``: projection — workers make RANGED reads of only the
    requested columns' byte spans (footer offsets), the same IO
    contract as a parquet column-chunk scan."""
    files, probed = fpsc_files(in_dir, columns, probe=schema is None)
    if schema is None:
        schema = probed

    columns_ = list(columns) if columns is not None else None

    def inflate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as pa_w

        from fastparquet_spark.format.container import read_container

        pa_w.set_cpu_count(1)
        for b in batches:
            for path in b.column("path").to_pylist():
                tbl = read_container(path, columns=columns_)
                yield from tbl.to_batches()

    # task granularity: several container files per task, not one —
    # 100k single-file tasks would be pure scheduler overhead; 4x the
    # core count keeps every executor busy with work-stealing headroom
    # while the inflate loop streams file-by-file (bounded memory)
    return map_tasks(spark, pa.table({"path": pa.array(files, pa.string())}),
                     4 * spark.sparkContext.defaultParallelism, inflate, schema)
