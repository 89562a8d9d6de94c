"""The engine's parquet read path as a Spark Python Data Source
(pyspark.sql.datasource, Spark 4) — Catalyst drives the three-tier
pruning stack instead of hand-built DNF filters:

    spark.dataSource.register(FpsDataSource)
    spark.read.format("fps").load("/data/ds").filter("k = 7")

is the idiomatic spelling of ``engine.scan_job.paged_read``, and with
the ``FpscFormat`` format object (the ``fmt`` of ``FpscDataSource``,
sources/fpsc_source.py) of ``read_fpsc``:

1. ``pushFilters`` receives Catalyst's translated predicates and keeps
   the comparison/null/in terms as one DNF AND-clause;
2. ``partitions()`` (driver, metadata-only) runs paged_read's planner,
   ``scan_job.plan_scan`` — row-group stats + bloom pruning
   (sidecar-aware footer fetch, concurrent bloom probes; hive partition
   values prune whole files as pseudo-stats) — and emits one input
   partition per group of surviving files;
3. ``read()`` (executor) runs paged_read's unit reader,
   ``scan_job.scan_unit`` — ColumnIndex page skipping inside each
   surviving row group (ranged reads of surviving spans only) — and
   yields the page-granular superset as Arrow batches.

Every filter is returned to Spark as unsupported, so Spark keeps
responsibility for exactness and applies the full predicate over the
superset rows — the source's job is pruning IO, not row-level
semantics.  NOTE: because the reader implements ``pushFilters``,
Spark requires ``spark.sql.python.filterPushdown.enabled=true`` (it
raises DATA_SOURCE_PUSHDOWN_DISABLED otherwise); the conf is
runtime-settable via ``spark.conf.set``.

Concurrent queries need one ``load()`` each.  Spark 4.1 keeps ONE
mutable read plan per Python data source relation (PythonDataSourceV2's
``readInfo``), so two queries planned at the same time on one shared
DataFrame can each be handed the partitions pruned for the OTHER's
filters and return wrong (often empty) rows.  Sequential queries on a
shared DataFrame are fine.

The Python Data Source API has no column-pruning hook yet; pass
``.option("columns", "a,b")`` to project at the page-reader level
(predicate columns are decoded as needed and dropped — the same
``plan_scan`` as ``paged_read``).  Hive ``key=value`` datasets work end
to end, partition columns appended last (Spark's convention).

Write side (``df.write.format("fps").save(dir)``): ``StagedWriter``
with a ``ParquetFormat`` (the format contract is in its docstring,
format/dataset.py): one staged part file per task attempt, row groups
of ``row_group_rows`` rows, published by the driver's ``commit`` with
engine/commit.py's ``publish_job`` (publish first, then remove the old
data files on overwrite, then sweep this job's stages), then the
``_metadata`` / ``_common_metadata`` sidecars re-merged so footer-only
readers see the new files in one fetch.  An append is judged by
``format/dataset.check_append`` on the driver, before any task runs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from fastparquet_spark.format.dataset import ParquetFormat

_MAX_TASKS = 4096  # ceiling on scheduler units for 100k-file datasets


def _pushed_clause(filters) -> list[tuple]:
    """Catalyst -> DNF translation of the reader:
    the comparison / null / IN terms of Spark's pushed conjunction
    become ONE AND-clause of ``(col, op, val)`` terms for the pruning
    stack; anything else is left out (the readers return every filter
    to Spark as unsupported, so Spark re-applies the exact predicate).

    Spark orders NaN above every double and equal to itself, while file
    stats may leave a NaN out, so terms a NaN row can satisfy under
    Spark's rules but the stats cannot see are left out too: ``>`` /
    ``>=`` with a float value, and any term whose value or ``in``
    member is NaN."""
    ops = {EqualTo: "==", GreaterThan: ">", GreaterThanOrEqual: ">=",
           LessThan: "<", LessThanOrEqual: "<=", In: "in",
           IsNull: "is_null", IsNotNull: "is_not_null"}

    def nan_blind(op, val) -> bool:
        vals = val if op == "in" else (val,)
        return (op in (">", ">=") and isinstance(val, float)) \
            or any(v != v for v in vals)

    terms = [(f.attribute[0], ops[type(f)], getattr(f, "value", None))
             for f in filters  # In.value is a tuple
             if type(f) in ops and len(f.attribute) == 1]
    return [t for t in terms if not nan_blind(t[1], t[2])]


class FpsDataSource(DataSource):
    fmt = ParquetFormat  # the format object of the scan and the write

    @classmethod
    def name(cls) -> str:
        return "fps"

    def _columns_opt(self):
        cols = self.options.get("columns")
        return [c.strip() for c in cols.split(",") if c.strip()] \
            if cols else None

    def _plan(self):
        """(root, metas), computed once per DataSource instance —
        schema() and reader() both need the footers; without the cache
        every read plans with two full metadata sweeps (2x the
        planning IO on a 100k-file dataset)."""
        if getattr(self, "_plan_cache", None) is None:
            from fastparquet_spark.engine.scan_job import open_scan

            self._plan_cache = open_scan(self.options["path"], fmt=self.fmt)
        return self._plan_cache

    def schema(self):
        from fastparquet_spark.engine.scan_job import plan_scan
        from fastparquet_spark.engine.spark_types import spark_schema

        root, metas = self._plan()
        return spark_schema(plan_scan(
            root, metas, None, self._columns_opt(), fmt=self.fmt)[0])

    def reader(self, schema: StructType):
        return FpsReader(self.options["path"], self._columns_opt(),
                         plan=self._plan(), fmt=self.fmt)

    def writer(self, schema: StructType, overwrite: bool):
        if not overwrite:  # refused before any task runs
            from pyspark.sql.pandas.types import to_arrow_schema

            from fastparquet_spark.format.dataset import check_append

            check_append(self.options["path"], to_arrow_schema(schema))
        return StagedWriter(
            self.options["path"],
            ParquetFormat(compression=self.options.get("compression", "ZSTD")),
            int(self.options.get("row_group_rows", 1_000_000)),
            overwrite)


class FpsReader(DataSourceReader):
    def __init__(self, path: str, columns, plan=None, fmt=ParquetFormat):
        self.path = path
        self.columns = columns
        self._plan = plan  # (root, metas) from the DataSource, if any
        self.fmt = fmt
        self._clauses: list[tuple] = []

    def __getstate__(self):
        # the executor pickle must NOT carry the driver's footer cache
        # (100k files of metadata in every task closure); read() gets
        # everything it needs from the InputPartition payload
        state = dict(self.__dict__)
        state["_plan"] = None
        return state

    def pushFilters(self, filters):
        """Spark hands the conjunction of the query's source-level
        predicates; the translatable terms become ONE AND-clause for
        the pruning stack.  ALL filters are returned (unsupported), so
        Spark re-applies the exact predicate over the page-granular
        superset we yield."""
        self._clauses += _pushed_clause(filters)
        return filters

    def partitions(self):
        """Driver tier: stats + bloom row-group pruning (metadata-only)
        -> grouped (file, row-groups, partition-values) units.

        Each InputPartition is SELF-CONTAINED (units + the projection /
        clauses / result schema header): Spark pickles the reader
        object before this runs, so executor-side ``read`` must not
        depend on driver-side mutations of ``self``."""
        from fastparquet_spark.engine.scan_job import open_scan, plan_scan
        from fastparquet_spark.engine.spark_types import served_schema

        root, metas = self._plan or open_scan(self.path, fmt=self.fmt)
        aschema, file_cols, part_cols, units = plan_scan(
            root, metas, self._clauses, self.columns, fmt=self.fmt)
        header = {"file_cols": file_cols, "part_cols": part_cols,
                  "schema": served_schema(aschema).serialize().to_pybytes(),
                  "clauses": list(self._clauses)}
        per = max(1, -(-len(units) // _MAX_TASKS))  # ceil-div grouping
        return [InputPartition((header, units[i:i + per]))
                for i in range(0, len(units), per)]

    def read(self, partition: InputPartition):
        # all files pruned -> Spark still issues one read(None)
        if partition is None or partition.value is None:
            return
        import pyarrow as pa

        from fastparquet_spark.engine.scan_job import scan_unit
        from fastparquet_spark.format.predicate import dnf

        pa.set_cpu_count(1)
        header, units = partition.value
        aschema = pa.ipc.read_schema(pa.py_buffer(header["schema"]))
        clauses = dnf(header["clauses"])
        for path, ris, pvals, absent in units:
            # streaming: match-all units decode batch-by-batch through
            # pyarrow's C++ reader, overlapping decode with the Arrow
            # IPC write back to the JVM (the r6 full-scan tax); the
            # default 128k rows of a ~100B content column is ~13 MB
            # per batch — peak executor memory is ONE batch, not a file
            yield from scan_unit(
                path, ris, pvals, absent, clauses, header["file_cols"],
                header["part_cols"], aschema, exact=False, fmt=self.fmt)


@dataclass
class _Committed(WriterCommitMessage):
    files: tuple = ()  # (staged_rel, final_rel) pairs


class StagedWriter(DataSourceArrowWriter):
    """The DataSource write of both sources: tasks stream their batches
    through ``write_partition`` into files of the format object ``fmt``
    (each task unpickles its own copy, so FSST tables are per task),
    stage ``part-<job>-<pid>...`` files (engine/commit.py names) and
    report them relative to ``path`` (a failed task removes its
    stages); ``commit`` sees exactly ONE message per task — the
    successful attempt — publishes it with ``publish_job`` and, when
    ``fmt.sidecar``, merges the ``_metadata`` sidecar; ``abort``
    removes this job's stages.  The job token (minted once on the
    driver, shared by all attempts via pickling) keeps distinct jobs —
    e.g. successive appends — from colliding or sweeping each other's
    stages."""

    def __init__(self, path: str, fmt, chunk_rows: int, overwrite: bool):
        import uuid

        self.path = path
        self.fmt = fmt
        self.chunk_rows = chunk_rows
        self.overwrite = overwrite
        self.job = uuid.uuid4().hex[:8]

    def _full(self, rel: str) -> str:
        return self.path.rstrip("/") + "/" + rel

    def write(self, iterator: Iterator) -> _Committed:
        import pyarrow as pa
        from pyspark import TaskContext

        from fastparquet_spark.engine.commit import discard, stage_name
        from fastparquet_spark.engine.write import write_partition
        from fastparquet_spark.io import get_fs

        pa.set_cpu_count(1)
        fs = get_fs(self.path)
        fs.makedirs(self.path)
        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId()
        staged: list[str] = []

        def stage(final: str) -> str:
            staged.append(stage_name(final, attempt))
            return staged[-1]

        try:
            files = write_partition(
                iterator, self.fmt, stage, fs, self.path,
                f"part-{self.job}-{ctx.partitionId():05d}",
                chunk_rows=self.chunk_rows)
        except BaseException:
            discard(fs, staged)
            raise
        return _Committed(tuple((stage_name(f["file"], attempt), f["file"])
                                for f in files))

    def commit(self, messages):
        from fastparquet_spark.engine.commit import publish_job
        from fastparquet_spark.format.dataset import (
            read_sidecar, write_metadata_sidecar,
        )
        from fastparquet_spark.io import get_fs

        fs = get_fs(self.path)
        root = self.path.rstrip("/")
        # an append merges its files on the base sidecar, as every
        # parquet appender does; with no base every part file is merged
        base = read_sidecar(root, fs) \
            if self.fmt.sidecar and not self.overwrite else None
        publish_job(fs, root, [(self._full(s), self._full(f))
                               for m in messages for s, f in m.files],
                    f"part-{self.job}", self.fmt.suffix, self.overwrite)
        if self.fmt.sidecar:
            write_metadata_sidecar(
                root, fs, base=base, files=None if base is None else
                [f for m in messages for _s, f in m.files])

    def abort(self, messages):
        from fastparquet_spark.engine.commit import abort_job
        from fastparquet_spark.io import get_fs

        abort_job(get_fs(self.path), self.path.rstrip("/"),
                  f"part-{self.job}")
