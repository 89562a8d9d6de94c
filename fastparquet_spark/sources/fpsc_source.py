"""FPSC as a Spark Python Data Source (pyspark.sql.datasource, Spark 4).

Makes the engine's own container format (FSST string codec + delta/plain
+ validity hybrid, format/container.py) addressable with the standard
DataFrame reader/writer API instead of engine-specific helpers:

    spark.dataSource.register(FpscDataSource)
    df.write.format("fpsc").mode("append").save("/data/cache")
    spark.read.format("fpsc").load("/data/cache")

Read side: the fps source's reader (``FpsDataSource`` / ``FpsReader``)
with the ``FpscScan`` plug-in, i.e. ``read_fpsc``'s planner,
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

Write side: the fps source's ``StagedWriter`` with the ``FpscFormat``
plug-in — each task streams its batches through engine/write.py's
``write_partition`` into containers of ``rows_per_container`` rows
(bounded memory, FSST table trained once per column per task), staged
under engine/commit.py's names; the driver's ``commit`` publishes them
to deterministic final names ``part-<job>-<pid>-<k>.fpsc`` with
``publish_job`` and sweeps
leftovers from failed/speculative attempts — so a task retry can never
leave duplicate rows in the dataset.  ``mode("overwrite")`` removes
the pre-existing containers after the new ones are published;
``abort`` removes this job's staged files.
"""

from __future__ import annotations

from pyspark.sql.types import StructType

from fastparquet_spark.engine.scan_job import FpscScan
from fastparquet_spark.sources.fps_source import FpsDataSource, StagedWriter


class FpscDataSource(FpsDataSource):
    fmt = FpscScan

    @classmethod
    def name(cls) -> str:
        return "fpsc"

    def writer(self, schema: StructType, overwrite: bool):
        bloom = self.options.get("bloom_columns")  # "col1,col2"
        bloom_d = {c.strip(): 0.01 for c in bloom.split(",") if c.strip()} \
            if bloom else None
        return FpscWriter(self.options["path"],
                          self.options.get("compression", "ZSTD"),
                          int(self.options.get("rows_per_container",
                                               1_000_000)),
                          overwrite, bloom_d)


class FpscWriter(StagedWriter):
    """FPSC containers of ``chunk_rows`` rows, FSST tables trained once
    per column per task."""

    suffix = ".fpsc"

    def __init__(self, path: str, compression: str, rows_per_container: int,
                 overwrite: bool, bloom_filters: dict | None = None):
        super().__init__(path, compression, rows_per_container, overwrite)
        self.bloom_filters = bloom_filters

    def _format(self):
        from fastparquet_spark.engine.write import FpscFormat

        return FpscFormat(self.compression, bloom_filters=self.bloom_filters)
