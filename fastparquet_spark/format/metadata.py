"""Parquet thrift struct specs + enums.

Field ids/types mirror the official parquet.thrift as vendored by the
reference (fastparquet/parquet_thrift/parquet/ttypes.py; enum values at
:27-34 Type, :170-177 Encoding, :216-223 CompressionCodec, :67-127
ConvertedType) — these are the Parquet spec constants, public knowledge.
Only the fields our writer/reader use are declared; the thrift reader
skips anything else.
"""

# Encoding ids live with the codec selection that returns them
from fastparquet_spark.codecs.selection import Encoding  # noqa: F401


# ---- enums -----------------------------------------------------------------
class Type:
    BOOLEAN, INT32, INT64, INT96, FLOAT, DOUBLE, BYTE_ARRAY, FIXED_LEN_BYTE_ARRAY = range(8)


class Codec:
    UNCOMPRESSED, SNAPPY, GZIP, LZO, BROTLI, LZ4, ZSTD, LZ4_RAW = range(8)


class PageType:
    DATA_PAGE, INDEX_PAGE, DICTIONARY_PAGE, DATA_PAGE_V2 = range(4)


class Repetition:
    REQUIRED, OPTIONAL, REPEATED = range(3)


class ConvertedType:
    UTF8 = 0
    MAP = 1
    MAP_KEY_VALUE = 2
    LIST = 3
    DECIMAL = 5
    DATE = 6
    TIME_MILLIS = 7
    TIME_MICROS = 8
    TIMESTAMP_MILLIS = 9
    TIMESTAMP_MICROS = 10
    UINT_8, UINT_16, UINT_32, UINT_64 = 11, 12, 13, 14
    INT_8, INT_16, INT_32, INT_64 = 15, 16, 17, 18
    JSON = 19
    BSON = 20
    INTERVAL = 21


MAGIC = b"PAR1"

# ---- thrift struct specs: (field_id, name, type) ---------------------------
# type is 'i16'|'i32'|'i64'|'bin'|'str'|'bool'|('list', t)|('struct', name)
SPECS = {
    "Statistics": [
        (1, "max", "bin"), (2, "min", "bin"),
        (3, "null_count", "i64"), (4, "distinct_count", "i64"),
        (5, "max_value", "bin"), (6, "min_value", "bin"),
        (7, "is_max_value_exact", "bool"), (8, "is_min_value_exact", "bool"),
    ],
    "SchemaElement": [
        (1, "type", "i32"), (2, "type_length", "i32"),
        (3, "repetition_type", "i32"), (4, "name", "str"),
        (5, "num_children", "i32"), (6, "converted_type", "i32"),
        (7, "scale", "i32"), (8, "precision", "i32"), (9, "field_id", "i32"),
        (10, "logicalType", ("struct", "LogicalType")),
    ],
    # LogicalType is a thrift UNION — in compact protocol that's just a
    # struct with exactly one field set.  Only the members we read/write
    # are declared; unknown members skip like any unknown field.
    "Empty": [],
    "TimeUnit": [
        (1, "MILLIS", ("struct", "Empty")),
        (2, "MICROS", ("struct", "Empty")),
        (3, "NANOS", ("struct", "Empty")),
    ],
    "TimeType": [(1, "isAdjustedToUTC", "bool"),
                 (2, "unit", ("struct", "TimeUnit"))],
    "TimestampType": [(1, "isAdjustedToUTC", "bool"),
                      (2, "unit", ("struct", "TimeUnit"))],
    "LogicalType": [
        (7, "TIME", ("struct", "TimeType")),
        (8, "TIMESTAMP", ("struct", "TimestampType")),
    ],
    "KeyValue": [(1, "key", "str"), (2, "value", "str")],
    "ColumnMetaData": [
        (1, "type", "i32"), (2, "encodings", ("list", "i32")),
        (3, "path_in_schema", ("list", "str")), (4, "codec", "i32"),
        (5, "num_values", "i64"), (6, "total_uncompressed_size", "i64"),
        (7, "total_compressed_size", "i64"), (9, "data_page_offset", "i64"),
        (11, "dictionary_page_offset", "i64"),
        (12, "statistics", ("struct", "Statistics")),
        (14, "bloom_filter_offset", "i64"),
        (15, "bloom_filter_length", "i32"),
    ],
    # bloom filter header (unions, one field set — like LogicalType)
    "BloomFilterAlgorithm": [(1, "BLOCK", ("struct", "Empty"))],
    "BloomFilterHash": [(1, "XXHASH", ("struct", "Empty"))],
    "BloomFilterCompression": [(1, "UNCOMPRESSED", ("struct", "Empty"))],
    "BloomFilterHeader": [
        (1, "numBytes", "i32"),
        (2, "algorithm", ("struct", "BloomFilterAlgorithm")),
        (3, "hash", ("struct", "BloomFilterHash")),
        (4, "compression", ("struct", "BloomFilterCompression")),
    ],
    "ColumnChunk": [
        (1, "file_path", "str"), (2, "file_offset", "i64"),
        (3, "meta_data", ("struct", "ColumnMetaData")),
        (4, "offset_index_offset", "i64"), (5, "offset_index_length", "i32"),
        (6, "column_index_offset", "i64"), (7, "column_index_length", "i32"),
    ],
    # page index structs (parquet spec PageIndex.md)
    "PageLocation": [
        (1, "offset", "i64"), (2, "compressed_page_size", "i32"),
        (3, "first_row_index", "i64"),
    ],
    "OffsetIndex": [
        (1, "page_locations", ("list", ("struct", "PageLocation"))),
    ],
    "ColumnIndex": [
        (1, "null_pages", ("list", "bool")),
        (2, "min_values", ("list", "bin")),
        (3, "max_values", ("list", "bin")),
        (4, "boundary_order", "i32"),
        (5, "null_counts", ("list", "i64")),
    ],
    "RowGroup": [
        (1, "columns", ("list", ("struct", "ColumnChunk"))),
        (2, "total_byte_size", "i64"), (3, "num_rows", "i64"),
        (4, "sorting_columns", ("list", ("struct", "SortingColumn"))),
    ],
    "SortingColumn": [
        (1, "column_idx", "i32"), (2, "descending", "bool"),
        (3, "nulls_first", "bool"),
    ],
    "FileMetaData": [
        (1, "version", "i32"),
        (2, "schema", ("list", ("struct", "SchemaElement"))),
        (3, "num_rows", "i64"),
        (4, "row_groups", ("list", ("struct", "RowGroup"))),
        (5, "key_value_metadata", ("list", ("struct", "KeyValue"))),
        (6, "created_by", "str"),
        # one TYPE_ORDER entry per leaf column: parquet-cpp/-mr only
        # TRUST the modern min_value/max_value stats when the footer
        # declares the column order (r6: unsigned/BYTE_ARRAY stats are
        # modern-only, so without this readers ignore them)
        (7, "column_orders", ("list", ("struct", "ColumnOrder"))),
    ],
    # union, one field set — like LogicalType/BloomFilterAlgorithm
    "ColumnOrder": [(1, "TYPE_ORDER", ("struct", "Empty"))],
    "DataPageHeader": [
        (1, "num_values", "i32"), (2, "encoding", "i32"),
        (3, "definition_level_encoding", "i32"),
        (4, "repetition_level_encoding", "i32"),
        (5, "statistics", ("struct", "Statistics")),
    ],
    "DictionaryPageHeader": [
        (1, "num_values", "i32"), (2, "encoding", "i32"), (3, "is_sorted", "bool"),
    ],
    "DataPageHeaderV2": [
        (1, "num_values", "i32"), (2, "num_nulls", "i32"),
        (3, "num_rows", "i32"), (4, "encoding", "i32"),
        (5, "definition_levels_byte_length", "i32"),
        (6, "repetition_levels_byte_length", "i32"),
        (7, "is_compressed", "bool"),
        (8, "statistics", ("struct", "Statistics")),
    ],
    "PageHeader": [
        (1, "type", "i32"), (2, "uncompressed_page_size", "i32"),
        (3, "compressed_page_size", "i32"), (4, "crc", "i32"),
        (5, "data_page_header", ("struct", "DataPageHeader")),
        (7, "dictionary_page_header", ("struct", "DictionaryPageHeader")),
        (8, "data_page_header_v2", ("struct", "DataPageHeaderV2")),
    ],
}
