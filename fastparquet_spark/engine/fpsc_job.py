"""Distributed FPSC (own-format, FSST-enabled) encode/decode.

The parquet-compat jobs must stay inside the standard encoding set so
third-party readers accept the files (SURVEY.md §7.4); this job is the
other half of the dual-mode design: the same plan marker, task body,
commit and resume as ``encode_dataset`` (``encode_job._encode_shuffled``
over engine/commit.py), but the format object is ``FpscFormat``, so
the per-task payload is a set of FPSC containers where string columns
may pick FSST (best-of vs plain+block codec).  Decode is ours
alone — ``read_fpsc`` is the scan planner's FPSC spelling
(engine/scan_job.py, ``FpscFormat``): one plan over every container's
footer, then Python workers inflate their containers (vectorized FSST
expansion, no per-row Python).
"""

from __future__ import annotations

from fastparquet_spark.engine.commit import begin_job
from fastparquet_spark.engine.encode_job import _encode_shuffled, _salted
from fastparquet_spark.engine.scan_job import scan
from fastparquet_spark.format.container import FpscFormat


def encode_dataset_fpsc(spark, df, out_dir: str, *, compression: str = "ZSTD",
                        partition_cols=("repo", "lang"),
                        num_partitions: int | None = None,
                        salt_rows: int = 250_000, resume: bool = True,
                        rows_per_container: int = 1_000_000,
                        pretrain_rows: int = 2_000):
    """Encode ``df`` into FPSC containers + manifests: the shuffle task
    body of ``encode_dataset`` with the ``FpscFormat`` format, so each
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
        compression)
    return _encode_shuffled(work, out_dir, fmt, file_prefix="part",
                            chunk_rows=rows_per_container, resume=resume)


def read_fpsc(spark, in_dir: str, columns=None):
    """Distributed decode of an FPSC dataset back to a DataFrame —
    ``paged_read``'s body with the ``FpscFormat`` format
    (engine/scan_job.py): the driver reads every container's footer
    (tails only, never data blocks; listing goes through the fs seam
    so ``in_dir`` may be a URI), the result schema is the union of the
    containers' columns, and tasks inflate their containers with the
    vectorized decoders, each cast by column name to that schema (a
    column a container lacks reads as typed nulls).  No container
    raises ``ValueError``.

    ``columns``: projection — workers make RANGED reads of only the
    requested columns' byte spans (footer offsets), the same IO
    contract as a parquet column-chunk scan."""
    return scan(spark, in_dir, None, columns, FpscFormat)
