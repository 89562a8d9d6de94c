"""FPSC as a Spark Python Data Source (pyspark.sql.datasource, Spark 4).

Makes the engine's own container format (FSST string codec + delta/plain
+ validity hybrid, format/container.py) addressable with the standard
DataFrame reader/writer API instead of engine-specific helpers:

    spark.dataSource.register(FpscDataSource)
    df.write.format("fpsc").mode("append").save("/data/cache")
    spark.read.format("fpsc").load("/data/cache")

File-level filter pushdown (footer min/max stats) requires
``spark.sql.python.filterPushdown.enabled=true``.  As with the fps
source, run concurrent filtered queries on one ``load()`` each: Spark
keeps one mutable read plan per Python data source relation, so
queries planned at the same time on a shared DataFrame can swap their
pruned partitions.

Read side: one input partition per ``.fpsc`` file, each worker inflates
its container with the vectorized decoders and yields Arrow record
batches (zero row-at-a-time Python).  Listing and schema come from
``fpsc_job.fpsc_files`` (the first container's footer), as in
``read_fpsc``.

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

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from fastparquet_spark.sources.fps_source import StagedWriter, _pushed_clause


class FpscDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "fpsc"

    def schema(self):
        from fastparquet_spark.engine.fpsc_job import fpsc_files

        return fpsc_files(self.options["path"])[1]

    def reader(self, schema: StructType):
        return FpscReader(self.options["path"])

    def writer(self, schema: StructType, overwrite: bool):
        bloom = self.options.get("bloom_columns")  # "col1,col2"
        bloom_d = {c.strip(): 0.01 for c in bloom.split(",") if c.strip()} \
            if bloom else None
        return FpscWriter(self.options["path"],
                          self.options.get("compression", "ZSTD"),
                          int(self.options.get("rows_per_container",
                                               1_000_000)),
                          overwrite, bloom_d)


class FpscReader(DataSourceReader):
    def __init__(self, path: str):
        self.path = path
        self._clauses: list[tuple] = []

    def pushFilters(self, filters):
        """Record comparison filters for FILE-LEVEL pruning against the
        container footers' min/max stats.  Everything is returned as
        unsupported — pruning here is conservative (whole files that
        cannot match), Spark still applies the exact row predicate."""
        self._clauses += _pushed_clause(filters)
        return filters

    def partitions(self):
        from fastparquet_spark.engine.fpsc_job import fpsc_files

        files = fpsc_files(self.path, probe=False)[0]
        if not self._clauses:
            return [InputPartition(p) for p in files]
        from concurrent.futures import ThreadPoolExecutor

        from fastparquet_spark.format.container import (
            container_bloom_rules_out, read_container_footer,
        )
        from fastparquet_spark.format.predicate import _chunk_may_match

        with ThreadPoolExecutor(max_workers=min(16, max(len(files), 1))) as ex:
            metas = list(ex.map(read_container_footer, files))
            stat_kept = []
            for p, meta in zip(files, metas):
                cols = {cm["name"]: (cm.get("min"), cm.get("max"),
                                     cm.get("null_count"), cm.get("n"))
                        for cm in meta["columns"]}
                if _chunk_may_match(cols, self._clauses):
                    stat_kept.append((p, meta))
            # second tier: container bloom probes for ==/in point
            # predicates stats can't discriminate — CONCURRENT ranged
            # reads (a sequential driver loop over 10k object-store
            # files burns minutes of planning before any task launches)
            ruled = list(ex.map(
                lambda pm: container_bloom_rules_out(pm[0], pm[1],
                                                     self._clauses),
                stat_kept))
        kept = [p for (p, _m), out in zip(stat_kept, ruled) if not out]
        return [InputPartition(p) for p in kept]

    def read(self, partition: InputPartition):
        # when pushed filters prune ALL files, partitions() returns [] and
        # Spark's python-data-source planner still issues one read(None):
        # yield nothing instead of crashing on partition.value
        if partition is None or partition.value is None:
            return
        import pyarrow as pa

        from fastparquet_spark.format.container import read_container

        pa.set_cpu_count(1)
        yield from read_container(partition.value).to_batches()


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
