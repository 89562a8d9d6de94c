"""The engine's task tables: one row per unit of work (a split, a file,
a pruned scan unit), run by ``mapInArrow`` tasks.

The partitions come from the JVM: ``spark.range`` slices the row ids
into contiguous, evenly sized ranges, one per task.  The rows
themselves travel in the task's closure, next to the body that uses
them, and each task looks its ids up in the Arrow table.  The plan is
``Range -> MapInArrow``: one job, one stage, and one Python worker per
task, the one that runs the body.

Two other ways to build the table cost more.  A ``parallelize`` +
``createDataFrame`` table (``Scan ExistingRDD``) starts a second Python
worker per task just to unpickle its rows into the JVM, and every
Python worker pays Spark's fixed start-up cost before any user code
(0.15-0.25 CPU s per invocation, measured on a 4-core x86 box).  A
``Range`` joined to a broadcast ``LocalTableScan`` of the rows needs no
Python worker, but its broadcast runs one more Spark job with one task
per local partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa


def map_tasks(spark, table: pa.Table, max_parts: int, body, schema):
    """``body`` run as ``mapInArrow`` over ``table``'s rows, in table
    order, by ``p = max(1, min(n, max_parts))`` tasks for ``n`` rows.
    Task ``i`` gets rows ``[i*n//p, (i+1)*n//p)`` (Spark's ``Range``
    slicing): one row each when ``n <= max_parts``, otherwise contiguous
    slices whose sizes differ by at most one."""
    n = table.num_rows

    def run(ids: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def rows():
            for b in ids:
                yield from table.take(b.column(0)).to_batches()
        return body(rows())

    return spark.range(0, n, 1, max(1, min(n, max_parts))).mapInArrow(
        run, schema)
