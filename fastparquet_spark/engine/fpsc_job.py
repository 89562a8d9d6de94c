"""Distributed FPSC (own-format, FSST-enabled) encode/decode.

The parquet-compat jobs must stay inside the standard encoding set so
third-party readers accept the files (SURVEY.md §7.4); this job is the
other half of the dual-mode design: the same plan marker, task commit
and resume (engine/commit.py), but the per-task payload is a set of
FPSC containers where string columns may pick FSST (best-of vs
plain+block codec).  Decode is ours
alone — ``read_fpsc`` distributes container paths and inflates them
inside Python workers (vectorized FSST expansion, no per-row Python).
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator

import pyarrow as pa

from fastparquet_spark.engine.commit import _u_join, begin_job
from fastparquet_spark.engine.encode_job import (
    _arrow_manifest_batch,
    _manifest_struct,
    _salted,
)
from fastparquet_spark.engine.tasks import map_tasks


def container_chunks(batches, rows: int) -> Iterator[pa.Table]:
    """Cut a stream of record batches into tables of ``rows`` rows, then
    the remainder — one container each, so a writer's memory is bounded
    by the chunk, not the partition."""
    buf: list[pa.RecordBatch] = []
    n = 0
    for b in batches:
        buf.append(b)
        n += b.num_rows
        if n >= rows:
            tbl = pa.Table.from_batches(buf)
            end = (n // rows) * rows
            for start in range(0, end, rows):
                yield tbl.slice(start, rows)
            buf, n = (tbl.slice(end).to_batches(), n - end) if end < n \
                else ([], 0)
    if n:
        yield pa.Table.from_batches(buf)


def encode_dataset_fpsc(spark, df, out_dir: str, *, compression: str = "ZSTD",
                        partition_cols=("repo", "lang"),
                        num_partitions: int | None = None,
                        salt_rows: int = 250_000, resume: bool = True,
                        rows_per_container: int = 1_000_000,
                        pretrain_rows: int = 2_000,
                        bloom_filters: dict | None = None):
    """Encode ``df`` into FPSC containers + manifests.

    Containers are written per ~``rows_per_container`` buffered rows, so
    task memory is bounded by the chunk, not the partition.

    FSST training is the expensive half of the string codec, and paying
    it once PER TASK dominated small-task encodes (~0.7s of a 0.9s
    task).  With ``pretrain_rows`` > 0 the driver trains one symbol
    table per string column on a small sample and ships the tables to
    every task through the closure — tasks skip training entirely (the
    escape byte keeps unseen bytes correct; only the ratio could drift,
    and the per-column best-of vs plain still gates admission).  Set 0
    to restore per-task training.

    All IO goes through the ``io.get_fs`` seam, so ``out_dir`` may be a
    ``file://``/``s3://``-style URI like every other engine path."""
    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 1)
    # resume keys on partition ids, as in encode_dataset
    begin_job(out_dir, "part", {"num_partitions": num_partitions}, resume)
    work = _salted(df, partition_cols, salt_rows, num_partitions)

    pretrained: dict = {}
    decisions: dict = {}
    if pretrain_rows:
        from fastparquet_spark.format.container import decide_string_codecs

        sample = df.limit(pretrain_rows).toArrow()
        # one driver pass trains FSST tables AND fixes fsst-vs-plain per
        # string column, so tasks skip the losing codec's full trial
        # (file_job.encode_files_fpsc has the identical step)
        decisions = decide_string_codecs(sample, pretrained,
                                         compression=compression)

    out_dir_ = out_dir
    compression_ = compression
    resume_ = resume
    rows_per_ = rows_per_container
    pretrained_ = pretrained
    decisions_ = decisions
    bloom_ = bloom_filters

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as pa_w
        from pyspark import TaskContext

        from fastparquet_spark.engine.commit import TaskCommit
        from fastparquet_spark.format.container import write_container
        from fastparquet_spark.io import get_fs

        pa_w.set_cpu_count(1)
        fs = get_fs(out_dir_)
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        task = TaskCommit(fs, out_dir_, f"part-{pid:05d}", ctx.taskAttemptId())
        prev = task.committed_rows() if resume_ else None
        if prev is not None:
            for row in prev:
                yield _arrow_manifest_batch(row)
            return

        fsst_cache: dict = dict(pretrained_)  # driver-trained tables
        done_rows: list[dict] = []
        task_start = time.perf_counter()

        try:
            # STAGE only — all containers publish together at task
            # commit, so a failed/racing attempt never leaves a partial
            # final-named set that read_fpsc (which lists *.fpsc,
            # manifest-blind) would read
            for tbl in container_chunks(batches, rows_per_):
                fname = f"part-{pid:05d}-{len(done_rows):03d}.fpsc"
                staged = task.stage(_u_join(out_dir_, fname))
                t0 = time.perf_counter()
                with fs.open_write(staged) as sink:
                    blocks = write_container(sink, tbl,
                                             compression=compression_,
                                             fsst_cache=fsst_cache,
                                             bloom_filters=bloom_,
                                             codec_decisions=decisions_)
                kernel = time.perf_counter() - t0
                done_rows.append(
                    {"partition": pid, "file": fname, "rows": tbl.num_rows,
                     "input_bytes": tbl.nbytes,
                     "output_bytes": fs.size(staged),
                     "encode_secs": 0.0, "kernel_secs": kernel,
                     "skipped": False,
                     "columns": json.dumps({b.name: b.codec for b in blocks})})
            if not done_rows:
                return
            total = time.perf_counter() - task_start
            for row in done_rows:
                row["encode_secs"] = total
            task.commit(done_rows)
            for row in done_rows:
                yield _arrow_manifest_batch(row)
        except BaseException:
            task.abort()
            raise

    return work.mapInArrow(run, _manifest_struct())


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
