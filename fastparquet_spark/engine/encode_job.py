"""The distributed encode job: DataFrame -> encoded parquet dataset
with per-partition lineage manifests and checkpoint/resume.

Spark translation of the reference's ``write()`` pipeline
(fastparquet/writer.py:810-1049; SURVEY.md §3.1):

- the driver fixes the schema and plans PARTITIONING, not row-group
  slicing: explicit ``repartition`` on the partition columns plus a
  SALT column so one mega-repo (Zipf head) cannot overload a single
  task — salt counts derive from a cheap broadcast-joined groupBy;
- each executor task streams its Arrow batches inside ``mapInArrow``
  (no per-row Python) through engine/write.py's ``write_partition``
  into deterministic ``part-{pid:05d}.parquet`` files, one per task or
  per hive key (fpsc_job runs the same task body with the FPSC
  format object).  The reference writes uuid+time names
  (fastparquet/writer.py:1002) — we must not, or resume breaks;
- each task also writes a JSON lineage manifest (input rows, bytes
  in/out, per-column codec chosen, encode seconds) to
  ``_manifests/part-{pid:05d}.json`` — the Iceberg-snapshot stand-in.
  Staging, publication, the manifest commit and resume follow the one
  protocol in engine/commit.py.

Iceberg mapping (so a real catalog can slot in without changing the
job): one ``append_dataset`` generation == one Iceberg SNAPSHOT (the
``part-g{N}`` prefix is the snapshot id); the ``_manifests/`` directory
== the snapshot's MANIFEST LIST (one manifest per task, data-file path
+ row/byte counts + per-column codec stats — the same fields Iceberg
manifests carry); the re-merged ``_metadata`` sidecar == the table
metadata pointer flip, the single atomic publish step.  Swapping the
JSON writes for Iceberg catalog calls changes only engine/commit.py —
task logic, naming determinism and idempotent resume are already
Iceberg-shaped.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa

# MANIFEST_DIR is re-exported: scripts and tests import it from here
from fastparquet_spark.engine.commit import MANIFEST_DIR, _u_join, begin_job  # noqa: F401
from fastparquet_spark.engine.write import (
    _arrow_manifest_batch, _manifest_struct, write_partition,
)
from fastparquet_spark.format.dataset import ParquetFormat

# payload-ish columns are excluded from the salt hash: hashing the full
# content column would touch every byte of a 100 TB table just to pick a
# bucket; identity columns spread rows just as well
_PAYLOAD_NAMES = {"content", "text", "payload", "body", "blob", "props"}


def _salt_cols(df) -> list:
    """Columns cheap and legal to hash for the salt: identity-ish
    atomics — payload byte columns (hashing them touches every byte of
    a 100 TB table just to pick a bucket) and complex types (arrays/
    maps/structs) are excluded."""
    out = [f.name for f in df.schema.fields
           if f.name != "__key_rows"
           and f.name.lower() not in _PAYLOAD_NAMES
           and f.dataType.typeName() not in ("array", "map", "struct",
                                             "binary")]
    return out or [df.schema.fields[0].name]


def _salted(df, partition_cols, salt_rows: int, num_partitions: int):
    """Repartition by partition_cols + salt; salt width per key comes from a
    broadcast-joined count so skewed keys split across tasks.

    Only SKEWED keys (count > salt_rows) enter the broadcast: at 10^8
    distinct keys a full count table exceeds any sane broadcast limit,
    while the skewed head is small by definition (non-skewed keys default
    to 1 bucket anyway via the left join's null).

    Columns absent from ``df`` are dropped from the key; with NO key
    columns left (keyless tables, e.g. an embeddings table) rows spread
    uniformly by identity-column hash — no key means no skew."""
    from pyspark.sql import functions as F

    cols = [c for c in partition_cols if c in df.columns]
    if not cols:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in _salt_cols(df)]),
                      F.lit(num_partitions))
        return df.repartition(num_partitions, salt)
    counts = (df.groupBy(*cols).agg(F.count("*").alias("__key_rows"))
              .filter(F.col("__key_rows") > salt_rows))
    # eqNullSafe, NOT on=cols: a skewed NULL partition key (common in
    # scraped corpora) never matches its count row under plain equality
    # and would land unsalted on one task
    counts = counts.select(
        *[F.col(c).alias(f"__k_{c}") for c in cols], "__key_rows")
    cond = None
    for c in cols:
        e = F.col(c).eqNullSafe(F.col(f"__k_{c}"))
        cond = e if cond is None else (cond & e)
    df = (df.join(F.broadcast(counts), on=cond, how="left")
          .drop(*[f"__k_{c}" for c in cols]))
    buckets = F.when(
        F.col("__key_rows").isNull(), F.lit(1)
    ).otherwise(F.ceil(F.col("__key_rows") / F.lit(salt_rows)))
    salt_cols = _salt_cols(df)
    df = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]),
                         buckets).cast("int"),
    ).drop("__key_rows")
    return df.repartition(num_partitions, *cols, F.col("__salt")).drop("__salt")


def encode_dataset(spark, df, out_dir: str, *, compression: str = "ZSTD",
                   partition_cols=("repo", "lang"), num_partitions: int | None = None,
                   salt_rows: int = 250_000, sort_within: tuple = ("repo", "path"),
                   row_group_rows: int = 1_000_000, resume: bool = True,
                   layout: str = "flat", file_prefix: str = "part",
                   bloom_filters: dict | None = None,
                   page_rows: int | None = None):
    """Encode ``df`` into ``out_dir`` as parquet files + lineage manifests.

    Returns the manifest DataFrame (one row per written file).  Designed
    for 1000-executor scale: the only shuffles are the skewed-key count
    aggregate (filtered before broadcast) and the one repartition that
    ALSO provides the physical file layout; encode streams row groups,
    so task memory is bounded by ~``row_group_rows`` buffered rows, not
    by partition size.

    ``layout="hive"`` writes ``col=value/`` directories (partition
    columns removed from the file data, like the reference's partitioned
    writer fastparquet/writer.py:969-1047) so Spark/DuckDB/pyarrow can
    partition-prune the output; ``"flat"`` writes ``part-*.parquet``
    directly under ``out_dir``.
    """
    if layout not in ("flat", "hive"):
        raise ValueError("layout must be 'flat' or 'hive'")
    pcols = [c for c in partition_cols if c in df.columns]
    if layout == "hive" and not pcols:
        raise ValueError("hive layout needs at least one partition column")

    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 1)
    # resume identity is the PARTITION ID: a re-run with a different
    # num_partitions (e.g. resuming on a different-sized cluster with
    # the defaultParallelism default) assigns DIFFERENT rows to the
    # pids whose manifests exist — silent data loss
    begin_job(out_dir, file_prefix, {"num_partitions": num_partitions},
              resume)
    work = _salted(df, partition_cols, salt_rows, num_partitions)
    sort_cols = [c for c in (sort_within or ()) if c in df.columns]
    if layout == "hive":
        # cluster keys contiguously inside the task: one open writer at a
        # time instead of one per live key
        sort_cols = pcols + [c for c in sort_cols if c not in pcols]
    if sort_cols:
        work = work.sortWithinPartitions(*sort_cols)

    fmt = ParquetFormat(compression=compression,
                        bloom_filters=bloom_filters, page_rows=page_rows,
                        # stamped as footer SortingColumn metadata
                        sorting_columns=list(sort_cols))
    return _encode_shuffled(work, out_dir, fmt, file_prefix=file_prefix,
                            chunk_rows=row_group_rows, resume=resume,
                            hive_cols=pcols if layout == "hive" else ())


def _encode_shuffled(work, out_dir: str, fmt, *, file_prefix: str,
                     chunk_rows: int, resume: bool, hive_cols=()):
    """The task body both shuffle encoders share: task ``pid`` streams
    its rows through ``write_partition`` as family
    ``{file_prefix}-{pid:05d}`` and commits the files with one manifest
    (engine/commit.py).  A committed task is skipped on resume; an
    empty one commits nothing.  Returns the manifest DataFrame."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as pa_w
        from pyspark import TaskContext

        from fastparquet_spark.engine.commit import TaskCommit
        from fastparquet_spark.io import get_fs

        pa_w.set_cpu_count(1)  # see file_job.run: avoid pool oversubscription
        fs = get_fs(out_dir)  # same seam as the driver: URIs work end to end
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        task = TaskCommit(fs, out_dir, f"{file_prefix}-{pid:05d}",
                          ctx.taskAttemptId())
        prev = task.committed_rows() if resume else None
        if prev is None:
            t0 = time.perf_counter()
            try:
                files = write_partition(batches, fmt, task.stage, fs, out_dir,
                                        task.family, chunk_rows=chunk_rows,
                                        hive_cols=hive_cols)
                secs = time.perf_counter() - t0
                prev = [{"partition": pid, **f, "encode_secs": secs,
                         "skipped": False} for f in files]
                # batch boundaries after a shuffle are not deterministic,
                # so a dead attempt's -rN split may not be reproduced:
                # the commit's sweep removes it
                if prev:
                    task.commit(prev)
            except BaseException:
                task.abort()
                raise
        for row in prev:
            yield _arrow_manifest_batch(row)

    return work.mapInArrow(run, _manifest_struct())


def append_dataset(spark, df, out_dir: str, **kwargs):
    """Append ``df`` to an EXISTING dataset (the reference's
    ``write(..., append=True)``, fastparquet/writer.py:773-807):

    - ``format/dataset.check_append`` judges the schema against the
      existing sidecar or first footer (same leaf names/physical
      types/converted types, in the same order) before any task runs;
    - new files get a fresh generation prefix ``part-g{N}``, so nothing
      collides and resume stays per-generation idempotent;
    - on success the ``_metadata`` sidecar is re-merged (the base
      sidecar plus the new generation's files), so footer-only readers
      see old+new in one fetch.

    EAGER (runs the job) — append is a commit, not a plan.  Returns the
    collected manifest rows."""
    import pyarrow as pa_s
    from pyspark.sql.pandas.types import to_arrow_schema

    from fastparquet_spark.format.dataset import (
        _file_generation, check_append, data_files, write_metadata_sidecar,
    )
    from fastparquet_spark.io import get_fs

    fs = get_fs(out_dir)
    existing = data_files(out_dir, fs)
    if not existing:
        raise ValueError(f"append target {out_dir} has no existing dataset")
    # the schema our writer WOULD produce for df, minus hive partition
    # cols, judged before any task runs.  The current sidecar is held
    # in memory: encode_dataset invalidates it on disk, and the
    # post-append re-merge then only has to fetch the NEW generation's
    # footers (O(new files), not O(dataset))
    arrow_schema = to_arrow_schema(df.schema)
    if kwargs.get("layout", "flat") == "hive":
        pcols = kwargs.get("partition_cols", ("repo", "lang"))
        arrow_schema = pa_s.schema(
            [f for f in arrow_schema if f.name not in pcols])
    old_sidecar = check_append(out_dir, arrow_schema, fs=fs)
    # next generation: one past the highest existing g-prefix — UNLESS
    # the highest generation came from an INTERRUPTED append, in which
    # case re-running must RESUME it (same prefix; committed partitions
    # skip via their manifests) rather than re-encode the whole df under
    # a fresh prefix, duplicating the partial generation's rows.
    # The proof of interruption is a POSITIVE signal: every
    # append writes `_g{N}_INPROGRESS` before any task runs and removes
    # it only after the final sidecar re-merge, so marker present =>
    # that generation never finished.  ("sidecar absent" alone is NOT
    # proof — a LATER append that died between its plan-time sidecar
    # invalidation and its first task commit also leaves no sidecar,
    # and decrementing onto the earlier COMPLETED generation would make
    # every partition skip and silently drop the new rows — r5 ADVICE
    # #1.)
    if old_sidecar is not None:
        # a valid sidecar proves the last append COMPLETED: any marker
        # still on disk is stale (removal raced/failed) and must not
        # trigger a resume-decrement in a later crash chain
        for p in fs.glob(_u_join(out_dir, "_g*_INPROGRESS")):
            try:
                fs.remove(p)
            except OSError:
                pass
    gen = max(_file_generation(p) + 1 for p in existing)
    resume = kwargs.get("resume", True)
    if (resume and gen > 1 and old_sidecar is None
            and fs.exists(_u_join(out_dir, f"_g{gen - 1:03d}_INPROGRESS"))):
        gen -= 1  # resume the provably interrupted generation
    marker = _u_join(out_dir, f"_g{gen:03d}_INPROGRESS")
    with fs.open_write(marker) as fh:
        fh.write(b"")
    rows = encode_dataset(spark, df, out_dir,
                          file_prefix=f"part-g{gen:03d}", **kwargs).collect()
    # ALL manifest files not already in the base sidecar — not just
    # freshly-written ones: a task re-run after its manifest commit
    # reports skipped=True, but its files may still be missing from
    # the sidecar
    have = {rg["columns"][0].get("file_path")
            for rg in old_sidecar["row_groups"]} if old_sidecar else set()
    new_files = sorted({r["file"] for r in rows if r["file"]} - have)
    # with no base sidecar there was no prior exclusion: every part
    # file is merged
    write_metadata_sidecar(out_dir, fs=fs, base=old_sidecar,
                           files=None if old_sidecar is None else new_files)
    try:  # completion: the generation is now published in the sidecar
        fs.remove(marker)
    except OSError:
        pass
    return rows


def verify_roundtrip(spark, src_df, out_dir: str, key_cols=("repo", "path")) -> dict:
    """Per-row sha256(content) equality between source and encoded output —
    the BASELINE.json invariant, computed distributed (anti-join of hashes).
    Returns {'src_rows', 'out_rows', 'mismatches'}."""
    from pyspark.sql import functions as F

    # reading the directory covers flat AND hive layouts (underscore
    # manifest/metadata entries are ignored by Spark's listing)
    out_df = spark.read.parquet(out_dir)
    key = [F.col(c) for c in key_cols]
    a = src_df.select(*key, F.sha2(F.col("content"), 256).alias("h_src"))
    b = out_df.select(*key, F.sha2(F.col("content"), 256).alias("h_out"))
    joined = a.join(b, on=list(key_cols), how="full_outer")
    mism = joined.filter(
        F.col("h_src").isNull() | F.col("h_out").isNull() |
        (F.col("h_src") != F.col("h_out"))).count()
    return {"src_rows": src_df.count(), "out_rows": out_df.count(),
            "mismatches": mism}
