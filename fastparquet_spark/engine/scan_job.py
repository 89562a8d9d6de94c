"""Distributed page/bloom-pruned scan — the read-side twin of the
file-split encode job, and the ONE scan planner of both file formats:
``paged_read`` and the fps data source read parquet through it,
``read_fpsc`` and the fpsc data source read FPSC containers through it.

``format.dataset.read_pages`` is a SINGLE-PROCESS page-skipping reader
(the reference's posture: fastparquet/api.py:440-453 filters row groups
and decodes in one process).  Our engine's premise is "move the plan":
here the DRIVER does metadata-only planning — concurrent footer
fetches, min/max/null stats pruning, concurrent split-block-bloom
probes for ==/in terms — and hands each EXECUTOR only its surviving
(file, row-group) units.  Executors then apply the next pruning tier
locally (ColumnIndex page skipping, ranged reads of surviving spans
only) and the residual row predicate, so bytes moved are footer + index
+ dictionary pages + surviving pages, never whole files.

The format object.  Listing, the union schema and absent-column rule
(``dataset_columns``), partition typing, per-file clauses
(``_file_clauses``), stats pruning, the residual row filter, the
by-name cast of every unit to the result schema and task grouping are
the same for both formats.  What differs — footer, bloom span and unit
read — is the format object's (``format.dataset.ParquetFormat``,
``format.container.FpscFormat``; their docstrings hold the contract),
and the entry point picks it.

At 100 TB this is the scan shape that matters: pruning decisions are
O(metadata) on the driver (thread-pooled, no data reads), decode
parallelism is O(executors), and each task's IO is proportional to its
surviving pages.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc

from fastparquet_spark.engine.tasks import map_tasks
from fastparquet_spark.format.dataset import (
    ParquetFormat, filter_row_groups, leaf_type, load_dataset_metas,
    partition_type, union_leaf_elems,
)
from fastparquet_spark.format.predicate import _file_clauses, dnf


def open_scan(path, fs=None, fmt=ParquetFormat) -> tuple[str, list[dict]]:
    """``dataset.load_dataset_metas`` of a scan's input, which must
    hold a ``fmt`` file: the open of ``scan`` and the fps/fpsc
    sources.  No file raises ``ValueError``."""
    root, metas = load_dataset_metas(path, fs, fmt)
    if not metas:
        raise ValueError(f"no {fmt.name} files match {path!r}"
                         if any(c in str(path) for c in "*?[")
                         else f"no {fmt.name} files under {path!r}")
    return root, metas


def plan_scan(root: str, metas, filters, columns, fs=None,
              fmt=ParquetFormat):
    """The driver plan of a pruned scan — the ONE planner behind
    ``paged_read``, ``read_fpsc`` and the fps/fpsc data sources, over
    the ``metas`` of ``fmt`` files.  Returns
    ``(arrow_schema, file_cols, part_cols, units)``:

    - the result schema is the UNION of the per-file leaf schemas
      (metadata-only; schema-evolution-tolerant — typed-null fill for
      files predating a column), then the ``columns`` projection, then
      the hive partition columns last, typed by ``partition_type``; a
      projected column that no file or partition has raises
      ``ValueError``, and so does a projected nested parquet column
      (LIST/MAP/STRUCT: the page reader decodes flat leaves only, so
      project them away or read with spark.read.parquet; an FPSC LIST
      column is one flat leaf);
    - a DNF ``filters`` prunes row groups on stats + concurrent bloom
      probes after deciding partition terms and terms on absent
      columns per file (``filter_row_groups``), so a partition
      predicate prunes whole files; with no filter every row group
      survives; a term on an unknown column raises ``ValueError``;
    - ``units`` holds one ``(path, row_groups, pvals, absent)`` per
      surviving file, in file order.  ``pvals`` are the metas'
      partition values, resolved to their column's type where the
      metas were built (format/dataset.py ``_metas``), so
      executor-side partition-term decisions and the attached
      constants agree with the result schema.  ``absent`` lists every
      union column the file lacks (the absent rule)."""
    names_all, elems, absent = union_leaf_elems(metas)
    pnames = list(metas[0].get("partitions") or {})
    ptypes = {k: partition_type([(m.get("partitions") or {}).get(k)
                                 for m in metas]) for k in pnames}
    if columns is None:
        file_cols, part_cols = list(names_all), pnames
    else:
        unknown = [c for c in columns
                   if c not in names_all and c not in pnames]
        if unknown:
            raise ValueError(
                f"cannot project nonexistent column(s) {unknown}")
        file_cols = [c for c in columns if c in names_all]
        part_cols = [c for c in columns if c in pnames]
    nested = [c for c in file_cols
              if elems[c].get("num_children") is not None]
    if nested:
        raise ValueError(
            f"nested (LIST/MAP/STRUCT) column(s) {nested} cannot be "
            f"scanned: project them away with columns=, or read the "
            f"dataset with spark.read.parquet")
    arrow_schema = pa.schema(
        [(n, leaf_type(elems[n])) for n in file_cols]
        + [(n, ptypes[n]) for n in part_cols])

    survivors = filter_row_groups(root, filters, fs=fs, metas=metas,
                                  fmt=fmt)
    by_file: dict[str, list[int]] = {}
    for f, ri in survivors:
        by_file.setdefault(f, []).append(ri)
    base = root.rstrip("/")
    pvals = {m["file"]: m.get("partitions") or {} for m in metas}
    units = [(f"{base}/{f}", sorted(ris), pvals[f], absent[f])
             for f, ris in sorted(by_file.items())]
    return arrow_schema, file_cols, part_cols, units


def scan_unit(path, ris, pvals, absent, clauses, file_cols, part_cols,
              arrow_schema, exact, fmt=ParquetFormat):
    """Executor-side scan of ONE (file, row-groups) unit from
    ``plan_scan`` — the generator behind every scan task of both
    formats (paged_read's and read_fpsc's mapInArrow fn, FpsReader.read),
    so the per-file clause/evolution/partition logic cannot drift
    between them.  ``fmt.read`` decodes the unit; every Table it
    yields is cast BY NAME to ``arrow_schema``, whatever the file's
    own column order: the scan's ``spark_types.served_schema``, the
    Arrow form of the Spark schema it declares (nanoseconds truncate
    to Spark's microseconds, every other cast is safe).  Yields
    RecordBatches; nothing when no DNF branch can match this file.  A
    unit that decodes no column (a partition-only projection, or every
    projected column absent) still yields its rows' count."""
    fclauses = _file_clauses(clauses, pvals, absent)
    if not fclauses:
        return
    cols_here = [c for c in file_cols if c not in absent]

    def finish(tbl):
        """Typed-null fill for evolution columns, partition constants,
        schema-order cast — per Table or per batch (wrapped as a
        Table, zero-copy)."""
        for c in file_cols:
            if c in absent:
                tbl = tbl.append_column(
                    c, pa.nulls(tbl.num_rows, arrow_schema.field(c).type))
        for name in part_cols:
            # O(1) repeated scalar, not an O(rows) Python list — this
            # runs once per 131k-row batch per partition column
            tbl = tbl.append_column(name, pa.repeat(pa.scalar(
                pvals.get(name), type=arrow_schema.field(name).type),
                tbl.num_rows))
        # evolution columns were appended out of order; restore order
        tbl = tbl.select(arrow_schema.names)
        return pa.Table.from_arrays(
            [c.cast(options=pc.CastOptions(f.type, allow_time_truncate=True))
             for c, f in zip(tbl.columns, arrow_schema)],
            schema=arrow_schema)

    for tbl in fmt.read(path, ris, fclauses, cols_here, exact):
        yield from finish(tbl).to_batches(max_chunksize=131_072)


def paged_read(spark, in_dir: str, filters, columns=None):
    """Spark DataFrame of the rows surviving ``filters`` (a DNF filter:
    a flat AND-list ``[(col, op, val), ...]`` or OR-of-ANDs
    ``[[...], [...]]`` — the reference's filter contract) under
    ``in_dir``, read through the three-tier pruning stack:

    1. driver: row-group stats + bloom pruning (``plan_scan``,
       concurrent footer/bloom fetches; hive partition values prune as
       pseudo-stats) -> surviving (file, row-group) units;
    2. executor: ColumnIndex page skipping inside each surviving group
       (``read_pages`` — ranged reads of surviving spans only);
    3. executor: residual row filter in Arrow compute, so the result is
       exact, not a page-granular superset.

    Hive ``key=value`` datasets work end to end: partition predicates
    prune whole files on the driver, and partition columns are attached
    to the output as constants per file (last, Spark's convention).

    ``columns``: projection (predicate columns are decoded as needed
    and dropped from the result; may include partition columns).
    """
    return scan(spark, in_dir, filters, columns, ParquetFormat)


def scan(spark, in_dir: str, filters, columns, fmt):
    """The body of ``paged_read`` (``fmt=ParquetFormat``) and
    ``read_fpsc`` (``fmt=FpscFormat``): plan on the driver, then one
    mapInArrow job whose tasks run ``scan_unit`` over their units, each
    filtered exactly.  ``in_dir`` is a directory, glob, list or file
    (:func:`open_scan`); one with no ``fmt`` file raises
    ``ValueError``."""
    from fastparquet_spark.engine.spark_types import (
        served_schema, spark_schema,
    )
    from fastparquet_spark.io import get_fs

    clauses = dnf(filters)
    fs = get_fs(in_dir)
    in_dir, metas = open_scan(in_dir, fs, fmt)
    arrow_schema, file_cols, part_cols, units = plan_scan(
        in_dir, metas, clauses, columns, fs=fs, fmt=fmt)
    out_schema = spark_schema(arrow_schema)
    arrow_schema = served_schema(arrow_schema)
    if not units:
        return spark.createDataFrame([], out_schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as pa_w

        pa_w.set_cpu_count(1)
        for b in batches:
            for path, rgs, pjson, absjson in zip(
                    b.column("path").to_pylist(),
                    b.column("rgs").to_pylist(),
                    b.column("parts").to_pylist(),
                    b.column("absent").to_pylist()):
                ris = [int(x) for x in rgs.split(",")] if rgs else []
                yield from scan_unit(
                    path, ris, json.loads(pjson), json.loads(absjson),
                    clauses, file_cols, part_cols, arrow_schema, True, fmt)

    # several files per task, not one — 100k single-file tasks would
    # be pure scheduler overhead; 4x the core count keeps every
    # executor busy with work-stealing headroom while each task streams
    # file by file (bounded memory)
    rows = [(path, ",".join(map(str, ris)), json.dumps(pvals),
             json.dumps(absent))
            for path, ris, pvals, absent in units]
    return map_tasks(spark, pa.table(
        {k: pa.array(col, pa.string()) for k, col in zip(
            ("path", "rgs", "parts", "absent"), zip(*rows))}),
        4 * spark.sparkContext.defaultParallelism, run, out_schema)
