"""File-split encode job — the throughput path.

``encode_dataset`` (encode_job.py) clusters arbitrary DataFrames by
shuffling rows; that is correct when re-clustering is required, but at
100 TB you move the PLAN, not the data.  This job distributes
(file, row-group) SPLITS: the driver reads only footers, packs row
groups into tasks, and each executor-side Python worker reads its
split directly with pyarrow's C++ parquet reader and runs the codec
kernels — bytes never cross the JVM/Python boundary, so throughput
scales with cores instead of saturating the Arrow IPC channel
(measured: the mapInArrow stream caps at ~0.45 GB/s on 32 local cores,
while pyarrow scans + kernels run per-core).

Skew handling here is plan-time: a mega-file contributes one split per
row group, so no task exceeds the row-group budget regardless of file
size — the moral equivalent of the shuffle path's salting.

The split table's partitions are built on the JVM (engine/tasks.py):
a ``Range`` of split ids, one split per task, with the splits' rows in
the task closure.  No Python RDD carries the table, so each task starts
exactly one Python worker, the one that encodes its split.

Both formats run one task body (``_encode_splits``) with a format
object (``format.dataset.ParquetFormat``, ``format.container.FpscFormat``),
the objects every writer uses.  Each split
is one commit of engine/commit.py's protocol: deterministic split ids,
one staged part file + one JSON manifest per split, manifest rename =
commit, resume skips committed splits.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator

import pyarrow as pa

from fastparquet_spark.engine.commit import TaskCommit, _u_join, begin_job
from fastparquet_spark.engine.tasks import map_tasks
from fastparquet_spark.engine.write import (
    _arrow_manifest_batch, _manifest_struct,
)
from fastparquet_spark.format.container import FpscFormat
from fastparquet_spark.format.dataset import ParquetFormat


def _prepare_split_job(spark, input_dir: str, out_dir: str,
                       rows_per_task: int, resume: bool):
    """Shared driver scaffold for both split encoders: split planning,
    then ``commit.begin_job`` with the split fingerprint as the plan
    identity — split ids shift if the input file set or rows_per_task
    changes between runs.  Returns the splits, empty when there is
    nothing to do."""
    import hashlib

    splits = plan_splits(input_dir, rows_per_task)
    if not splits:
        return splits
    fingerprint = hashlib.sha256(json.dumps(
        [(s["file"], s["row_groups"]) for s in splits],
        sort_keys=True).encode()).hexdigest()
    begin_job(out_dir, "files",
              {"fingerprint": fingerprint, "n_splits": len(splits)}, resume)
    return splits


def plan_splits(input_dir: str, rows_per_task: int = 2_000_000) -> list[dict]:
    """Footer-only planning: pack the row groups of the parquet files
    at ``input_dir`` (a directory, glob, list or single file, opened by
    ``dataset.load_dataset_metas``) into splits of ~rows_per_task rows.
    Only footers are read, concurrently (fastparquet/util.py:146-167):
    a sequential driver loop over 100k object-store files burns minutes
    of idle cluster before the first task launches.  A directory is
    listed, never read through its ``_metadata`` sidecar, so the split
    list (and the resume fingerprint built on it) follows the files on
    disk."""
    from fastparquet_spark.format.dataset import _join, load_dataset_metas

    root, metas = load_dataset_metas(input_dir, use_sidecar=False)
    splits: list[dict] = []
    cur_rgs, cur_rows = [], 0

    def flush(path):
        nonlocal cur_rgs, cur_rows
        if cur_rgs:
            splits.append({"split": len(splits), "file": path,
                           "row_groups": list(cur_rgs), "rows": cur_rows})
            cur_rgs, cur_rows = [], 0

    for m in metas:
        path = _join(root, m["file"])
        for rgi, rg in enumerate(m["fmd"]["row_groups"]):
            n = rg["num_rows"]
            if cur_rows and cur_rows + n > rows_per_task:
                flush(path)
            cur_rgs.append(rgi)
            cur_rows += n
        flush(path)
    return splits


def _encode_splits(spark, splits, input_dir: str, out_dir: str,
                   resume: bool, preserve_layout: bool, fmt):
    """The split-encode task body both formats share, one split per
    task: each split reads its row groups with pyarrow, writes them as
    one ``part-{split}{fmt.suffix}`` file of the format object ``fmt``
    and commits it with its manifest."""
    prefix = input_dir.rstrip("/") + "/"

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as pa_w
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        from fastparquet_spark.io import get_fs

        fs = get_fs(out_dir)
        attempt = TaskContext.get().taskAttemptId()

        # one Arrow thread per worker: N workers x default pool (ncpus)
        # oversubscribes the box N-fold and collapses kernel throughput
        pa_w.set_cpu_count(1)
        pa_w.set_io_thread_count(2)

        for b in batches:
            for sid, fpath, rgs_json in zip(b.column("split").to_pylist(),
                                            b.column("file").to_pylist(),
                                            b.column("rgs").to_pylist()):
                family = f"part-{sid:05d}"
                fname = family + fmt.suffix
                rel = fpath[len(prefix):]
                if preserve_layout and fpath.startswith(prefix) and "/" in rel:
                    rel_dir = rel.rsplit("/", 1)[0]
                    fs.makedirs(_u_join(out_dir, rel_dir))
                    fname = f"{rel_dir}/{fname}"
                task = TaskCommit(fs, out_dir, family, attempt)
                prev = task.committed_rows() if resume else None
                if prev is not None:
                    yield _arrow_manifest_batch(prev[0])
                    continue
                t0 = time.perf_counter()
                tbl = pq.ParquetFile(fpath).read_row_groups(
                    json.loads(rgs_json), use_threads=False)
                k0 = time.perf_counter()
                try:
                    with fs.open_write(task.stage(_u_join(out_dir, fname))) as sink:
                        write, close = fmt.open(sink, tbl.schema)
                        write(tbl)
                        cols, nbytes = close()
                    done = time.perf_counter()
                    row = {"partition": sid, "file": fname, "rows": tbl.num_rows,
                           "input_bytes": tbl.nbytes, "output_bytes": nbytes,
                           "encode_secs": done - t0, "kernel_secs": done - k0,
                           "skipped": False, "columns": json.dumps(cols)}
                    task.commit([row])
                except BaseException:
                    task.abort()
                    raise
                yield _arrow_manifest_batch(row)

    table = pa.table({
        "split": pa.array([s["split"] for s in splits], pa.int32()),
        "file": pa.array([s["file"] for s in splits], pa.string()),
        "rgs": pa.array([json.dumps(s["row_groups"]) for s in splits],
                        pa.string())})
    # one split per task, so the critical path is the largest split; a
    # hash repartition would collide splits into shared partitions and
    # leave others empty
    return map_tasks(spark, table, len(splits), run, _manifest_struct())


def encode_files(spark, input_dir: str, out_dir: str, *,
                 compression: str = "ZSTD", rows_per_task: int = 2_000_000,
                 resume: bool = True, preserve_layout: bool = False):
    """Encode every parquet file under ``input_dir`` into ``out_dir``
    (our writer, auto-selected codecs), distributing (file, row-group)
    splits.  Returns the manifest DataFrame.

    ``preserve_layout=True`` mirrors each input file's directory (e.g.
    hive ``key=value`` partitions) under ``out_dir``, so a partitioned
    input re-encodes into an equally partition-prunable output without
    any shuffle — the plan moves, the clustering stays."""
    splits = _prepare_split_job(spark, input_dir, out_dir, rows_per_task,
                                resume)
    if not splits:
        return spark.createDataFrame([], _manifest_struct())

    return _encode_splits(spark, splits, input_dir, out_dir, resume,
                          preserve_layout, ParquetFormat(compression=compression))


def encode_files_fpsc(spark, input_dir: str, out_dir: str, *,
                      compression: str = "ZSTD",
                      rows_per_task: int = 2_000_000, resume: bool = True,
                      pretrain_rows: int = 2_000):
    """FPSC-container twin of :func:`encode_files` — the container
    format's THROUGHPUT path.  Same split planning (footer-only, plan
    moves not data), same manifest/resume contract, but each worker
    writes an ``.fpsc`` container (FSST-enabled best-of codecs) instead
    of parquet.  FSST symbol tables are trained ONCE on the driver from
    a small pyarrow sample (``FpscFormat.trained``, as in
    fpsc_job.encode_dataset_fpsc) and shipped through the closure, so
    tasks never pay the training cost; ``pretrain_rows=0`` leaves the
    training to each task."""
    splits = _prepare_split_job(spark, input_dir, out_dir, rows_per_task,
                                resume)
    if not splits:
        return spark.createDataFrame([], _manifest_struct())

    sample = None
    if pretrain_rows:
        import pyarrow.parquet as pq_d

        # stream only ~pretrain_rows rows — read_row_group would
        # materialize up to rows_per_task rows on the DRIVER just to
        # slice 2000
        first = pq_d.ParquetFile(splits[0]["file"])
        sample = pa.Table.from_batches([next(first.iter_batches(
            batch_size=pretrain_rows, use_threads=False))])
    return _encode_splits(spark, splits, input_dir, out_dir, resume, False,
                          FpscFormat.trained(sample, compression))
