"""The one Arrow -> Spark type rule of every Spark surface that types a
parquet or FPSC column itself: ``relational.load``'s table schemas,
``paged_read``/``read_fpsc`` and the fps/fpsc data sources.

It follows Spark's own parquet schema converter
(``ParquetToSparkSchemaConverter``, default session settings), applied
to the Arrow type our footer reader gives a column
(``reader._arrow_type``):

- a zone-less TIMESTAMP (``isAdjustedToUTC=false``, Arrow
  ``timestamp[ms|us]``) is ``timestamp_ntz``; a UTC-adjusted one (Arrow
  ``timestamp[unit, tz=...]``) is ``timestamp``;
- INT96 (Arrow ``timestamp[ns]``: the only nanosecond timestamp Spark
  reads from parquet) is an instant, ``timestamp``;
- unsigned integers widen to the next signed type that holds every
  value: uint8 -> smallint, uint16 -> int, uint32 -> bigint,
  uint64 -> decimal(20, 0);
- LIST, MAP and STRUCT recurse; every other type is pyspark's
  ``from_arrow_type`` (int8 -> tinyint, fixed-size binary -> binary,
  decimal(p, s) at any physical width -> decimal(p, s), ...).

So ``spark.read.schema(parquet_schema(p)).parquet(p)`` is typed as
``spark.read.parquet(p)`` without its schema-inference job, and a
zone-less timestamp reads back as the same wall-clock value through
every surface.  A scan that hands Spark Arrow batches casts them to
:func:`served_schema`, the Arrow form of the same Spark types, so the
declared schema and the data come from this one rule.
"""

from __future__ import annotations

import pyarrow as pa


def spark_type(t: pa.DataType):
    """The Spark type of a column whose Arrow type is ``t``."""
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import (
        ArrayType, DecimalType, IntegerType, LongType, MapType, ShortType,
        TimestampNTZType, TimestampType,
    )

    if pa.types.is_timestamp(t):
        ntz = t.tz is None and t.unit != "ns"
        return TimestampNTZType() if ntz else TimestampType()
    if pa.types.is_unsigned_integer(t):
        return {8: ShortType, 16: IntegerType, 32: LongType,
                64: lambda: DecimalType(20, 0)}[t.bit_width]()
    if pa.types.is_map(t):
        return MapType(spark_type(t.key_type), spark_type(t.item_type),
                       t.item_field.nullable)
    if (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)):
        return ArrayType(spark_type(t.value_type), t.value_field.nullable)
    if pa.types.is_struct(t):
        return spark_schema(pa.schema(list(t)))
    return from_arrow_type(t)


def spark_schema(schema: pa.Schema):
    """The Spark ``StructType`` of an Arrow schema, field by field."""
    from pyspark.sql.types import StructField, StructType

    return StructType([StructField(f.name, spark_type(f.type), f.nullable)
                       for f in schema])


def served_schema(schema: pa.Schema) -> pa.Schema:
    """The Arrow schema of the batches Spark takes for a scan it knows
    as ``spark_schema(schema)``: each column at the Arrow form of its
    :func:`spark_type` (uint32 as int64, uint64 as decimal128(20, 0),
    fixed-size binary as binary, every timestamp at microseconds, INT96
    as UTC; int64, string, double and the like keep their type)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema(schema))


def parquet_schema(path: str):
    """The Spark schema of the parquet table at ``path``, from one
    footer alone (one tail read on the driver, no Spark job): the
    file's Arrow schema as our reader builds it, nested types included,
    typed by :func:`spark_type`.

    A directory (a table Spark wrote as part files, or a hive layout)
    is typed by one of its files, as Spark's inference does without
    ``mergeSchema``: ``_common_metadata``, else ``_metadata``, else the
    first data file in path order.  Files and directories Spark does not
    list (a name starting with ``.``, or with ``_`` and holding no
    ``=``: ``_SUCCESS``, ``.crc`` files) are skipped.  Spark adds the
    hive partition columns from the paths itself.  A directory with no
    such file raises ``ValueError``."""
    from fastparquet_spark.format.reader import read_row_groups
    from fastparquet_spark.io import get_fs

    fs = get_fs(path)
    if fs.isdir(path):
        path = _schema_file(fs, path)
    return spark_schema(read_row_groups(path, []).schema)


_SUMMARIES = ("_common_metadata", "_metadata")


def _listed(name: str) -> bool:
    """Whether Spark's file index lists a path component named ``name``
    (``InMemoryFileIndex.shouldFilterOutPathName``)."""
    if name.startswith(_SUMMARIES):
        return True
    return not ((name.startswith("_") and "=" not in name)
                or name.startswith(".") or name.endswith("._COPYING_"))


def _schema_file(fs, root: str) -> str:
    """The file of directory ``root`` whose footer types the table."""
    from fastparquet_spark.io import relative_to

    files = [p for p in fs.walk_files(root)
             if all(_listed(n) for n in relative_to(p, root).split("/"))]
    if not files:
        raise ValueError(f"no parquet file under {root}")

    def rank(p):
        name = p.rsplit("/", 1)[-1]
        return _SUMMARIES.index(name) if name in _SUMMARIES else 2

    return min(files, key=rank)  # the first of the best kind
