"""FPSC as a Spark Python Data Source (pyspark.sql.datasource, Spark 4).

Makes the engine's own container format (FSST string codec + delta/plain
+ validity hybrid, format/container.py) addressable with the standard
DataFrame reader/writer API instead of engine-specific helpers:

    spark.dataSource.register(FpscDataSource)
    df.write.format("fpsc").mode("append").save("/data/cache")
    spark.read.format("fpsc").load("/data/cache")

Read side: the fps source's reader (``FpsDataSource`` / ``FpsReader``)
with the ``FpscFormat`` format object (format/container.py), i.e. ``read_fpsc``'s planner,
engine/scan_job.py's ``plan_scan`` and ``scan_unit``.  The schema is
the union of every container's footer columns, read by name: a column
a container lacks reads as typed nulls.  Pushed filters prune whole
containers on their footers' min/max/null stats and, for ==/in terms,
their bloom filters; Spark still applies the exact predicate.
Filter pushdown requires ``spark.sql.python.filterPushdown.enabled=true``.
As with the fps source, run concurrent filtered queries on one
``load()`` each: Spark keeps one mutable read plan per Python data
source relation, so queries planned at the same time on a shared
DataFrame can swap their pruned partitions.

Write side: the fps source's ``StagedWriter`` with an ``FpscFormat``:
containers of ``rows_per_container`` rows (bounded memory, FSST table
trained once per column per task) published to deterministic final
names ``part-<job>-<pid>-<k>`` by the driver's ``commit``, which sweeps
leftovers from failed/speculative attempts — so a task retry can never
leave duplicate rows in the dataset.  ``mode("overwrite")`` removes the
pre-existing containers after the new ones are published; no sidecar
is written.  An append is checked on the driver before any task runs
(``container.check_container_append``, the read's union rule): a
column whose type conflicts with the containers' raises, a new column
is accepted.
"""

from __future__ import annotations

from pyspark.sql.types import StructType

from fastparquet_spark.format.container import FpscFormat, check_container_append
from fastparquet_spark.sources.fps_source import FpsDataSource, StagedWriter


class FpscDataSource(FpsDataSource):
    fmt = FpscFormat

    @classmethod
    def name(cls) -> str:
        return "fpsc"

    def writer(self, schema: StructType, overwrite: bool):
        if not overwrite:  # refused before any task runs
            from pyspark.sql.pandas.types import to_arrow_schema

            check_container_append(self.options["path"],
                                   to_arrow_schema(schema))
        bloom = self.options.get("bloom_columns")  # "col1,col2"
        bloom_d = {c.strip(): 0.01 for c in bloom.split(",") if c.strip()} \
            if bloom else None
        return StagedWriter(
            self.options["path"],
            FpscFormat(self.options.get("compression", "ZSTD"),
                       bloom_filters=bloom_d),
            int(self.options.get("rows_per_container", 1_000_000)),
            overwrite)
