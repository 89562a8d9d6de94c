"""The fps and fpsc data sources return every filter to Spark, so their
pruning must be sound under Spark's semantics, where NaN is the
largest double and equal to itself.  File stats may leave a NaN out
(pyarrow's bounds do), so a pruned file could hold a NaN row Spark's
predicate keeps.

The oracle is Spark's own filter over an in-memory DataFrame of the
same rows: Spark's parquet scan prunes on the same NaN-blind bounds,
so it cannot be the oracle.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

NAN = math.nan
FILES = [[(0, 0.1), (1, 0.5), (2, NAN), (3, 0.3)],
         [(4, 0.9), (5, 0.8), (6, None)]]

PREDICATES = [
    "f > 0.7", "f >= 0.8", "f > 0.2", "f >= 0.5", "f < 0.4", "f <= 0.5",
    "f = 0.5", "f = double('NaN')", "f != 0.5",
    "f in (0.1, double('NaN'))", "f in (0.9, 0.3)",
    "f > double('NaN')", "f >= double('NaN')", "f < double('NaN')",
    "isnan(f)", "f is null", "f is not null",
]


@pytest.fixture()
def sources(spark):
    from fastparquet_spark.sources import FpscDataSource, FpsDataSource

    for src in (FpsDataSource, FpscDataSource):
        try:
            spark.dataSource.register(src)
        except Exception as e:  # already registered in this session
            if "already" not in str(e).lower():
                raise
    return spark


def _table(rows) -> pa.Table:
    ids, fs = zip(*rows)
    return pa.table({"id": pa.array(ids, pa.int64()),
                     "f": pa.array(fs, pa.float64())})


def test_pushed_clause_leaves_out_nan_blind_terms():
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan,
    )

    from fastparquet_spark.sources.fps_source import _pushed_clause

    assert _pushed_clause([
        GreaterThan(("f",), 0.7), GreaterThanOrEqual(("f",), 0.7),
        LessThan(("f",), 0.7), EqualTo(("f",), 0.5),
        EqualTo(("f",), NAN), In(("f",), (0.1, NAN)), In(("f",), (0.1,)),
        GreaterThan(("k",), 3),
    ]) == [("f", "<", 0.7), ("f", "==", 0.5), ("f", "in", (0.1,)),
           ("k", ">", 3)]


@pytest.mark.parametrize("fmt", ["fps", "fpsc"])
def test_source_filters_match_spark_in_memory(sources, tmp_path, fmt):
    from fastparquet_spark.format.container import write_container

    spark = sources
    for i, rows in enumerate(FILES):
        if fmt == "fps":
            pq.write_table(_table(rows), str(tmp_path / f"p{i}.parquet"))
        else:
            write_container(str(tmp_path / f"p{i}.fpsc"), _table(rows))
    if fmt == "fps":
        # the case the rule guards: a NaN the bounds leave out
        st = pq.ParquetFile(str(tmp_path / "p0.parquet")).metadata \
            .row_group(0).column(1).statistics
        assert (st.min, st.max) == (0.1, 0.5)
    mem = spark.createDataFrame([r for rows in FILES for r in rows],
                                "id long, f double")
    for pred in PREDICATES:
        want = sorted(r["id"] for r in mem.filter(pred).collect())
        got = sorted(r["id"] for r in spark.read.format(fmt)
                     .load(str(tmp_path)).filter(pred).collect())
        assert got == want, pred
    # the row lost before: Spark's NaN is above 0.7
    assert sorted(r["id"] for r in spark.read.format(fmt)
                  .load(str(tmp_path)).filter("f > 0.7").collect()) \
        == [2, 4, 5]
