"""Regression tests for the round-1 external review findings (ADVICE.md):

1. uint32 must be physical INT32 + UINT_32 (bit-reinterpreted), never
   INT64 + UINT_32 — the spec forbids that pairing and pyarrow/DuckDB
   refuse to open such files at all.
2. Float chunk statistics must not carry NaN min/max (NaN ordering makes
   row-group pruning silently drop matching rows).
3. uint64 values >= 2^63 must round-trip via bit-reinterpretation, not a
   checked (raising) cast.
4. The FPSC container must either read back every type it writes or
   reject the type at write time — never write-ok/read-fail.
5. delta_encode must survive legal int64 inputs whose shifted deltas sit
   within float-rounding distance of 2^64 (width-65 crash).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fastparquet_spark.codecs.delta import delta_decode, delta_encode
from fastparquet_spark.format import read_file, write_file
from fastparquet_spark.format.container import read_container, write_container
from fastparquet_spark.format.dataset import filter_row_groups


def _roundtrip_all_readers(table: pa.Table, path: str) -> None:
    write_file(str(path), table, compression="SNAPPY")
    got_pa = pq.read_table(str(path))
    assert got_pa.cast(table.schema).equals(table)
    got_own = read_file(str(path))
    assert got_own.cast(table.schema).equals(table)
    con = duckdb.connect()
    n = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    assert n == table.num_rows


def test_uint32_readable_by_standard_readers(tmp_path):
    vals = [0, 1, 2**31, 2**32 - 1, None, 7]
    t = pa.table({"u": pa.array(vals, type=pa.uint32())})
    _roundtrip_all_readers(t, tmp_path / "u32.parquet")


def test_uint64_above_int64_max(tmp_path):
    vals = [0, 2**63, 2**64 - 1, None, 42]
    t = pa.table({"u": pa.array(vals, type=pa.uint64())})
    _roundtrip_all_readers(t, tmp_path / "u64.parquet")


def test_unsigned_stats_use_unsigned_order(tmp_path):
    # 2**31 reinterprets to a negative int32; signed min/max would claim
    # max < 5 and let engines prune the chunk for "u > 10"
    t = pa.table({"u": pa.array([5, 2**31 + 7], type=pa.uint32())})
    path = tmp_path / "ustats.parquet"
    write_file(str(path), t)
    md = pq.read_metadata(str(path))
    st = md.row_group(0).column(0).statistics
    assert st.min == 5 and st.max == 2**31 + 7


def test_nan_float_stats_omitted_and_pruning_safe(tmp_path):
    t = pa.table({"f": pa.array([1.0, float("nan"), 3.0], type=pa.float64())})
    path = tmp_path / "nan.parquet"
    write_file(str(path), t)
    st = pq.read_metadata(str(path)).row_group(0).column(0).statistics
    assert not st.has_min_max
    # our own pruner must keep the chunk for a predicate matching 3.0
    kept = filter_row_groups(str(tmp_path), [("f", ">", 2.0)])
    assert kept == [("nan.parquet", 0)]


def test_nan_free_float_stats_still_written(tmp_path):
    t = pa.table({"f": pa.array([1.5, -2.5, 3.5], type=pa.float64())})
    path = tmp_path / "f.parquet"
    write_file(str(path), t)
    st = pq.read_metadata(str(path)).row_group(0).column(0).statistics
    assert st.min == -2.5 and st.max == 3.5


@pytest.mark.parametrize("typ", [
    pa.uint8(), pa.uint16(), pa.uint32(), pa.uint64(),
    pa.timestamp("s"), pa.timestamp("ms"), pa.timestamp("ns"),
])
def test_container_roundtrips_every_writable_type(tmp_path, typ):
    if pa.types.is_timestamp(typ):
        arr = pa.array([1, 2, None, 4], type=pa.int64()).cast(typ)
    else:
        hi = 2 ** (8 * typ.byte_width) - 1
        arr = pa.array([0, 1, None, hi], type=typ)
    t = pa.table({"c": arr})
    path = str(tmp_path / "c.fpsc")
    write_container(path, t)
    got = read_container(path)
    assert got.equals(t), f"{typ}: {got.column(0)} != {t.column(0)}"


def test_container_rejects_unreadable_type_at_write_time(tmp_path):
    t = pa.table({"d": pa.array([1], type=pa.decimal128(10, 2))})
    with pytest.raises(ValueError, match="unsupported container type"):
        write_container(str(tmp_path / "bad.fpsc"), t)
    assert not (tmp_path / "bad.fpsc").exists() or \
        (tmp_path / "bad.fpsc").stat().st_size <= 4  # nothing usable written


def test_delta_encode_near_int64_extremes():
    # alternating extremes: shifted deltas approach 2^64, where float64
    # log2 rounds the width up to 65 (crash before the fix)
    v = np.array([-(2**62) - 2047, 2**62, -(2**62), 2**62 - 1,
                  -9223372036854775808, 9223372036854775807] * 30,
                 dtype=np.int64)
    buf = delta_encode(v, bit_width=64)
    out, _ = delta_decode(buf, count=len(v), bit_width=64)
    np.testing.assert_array_equal(out, v)


def test_delta_encode_near_int32_extremes():
    v = np.array([-(2**31), 2**31 - 1, -(2**31) + 1, 2**31 - 2] * 40,
                 dtype=np.int64)
    buf = delta_encode(v, bit_width=32)
    out, _ = delta_decode(buf, count=len(v), bit_width=32)
    np.testing.assert_array_equal(out, v)


def test_unsigned_stats_pruning_unsigned_order(tmp_path):
    """Dataset pruning must decode UINT_32/UINT_64 stats unsigned: a
    chunk holding [5, 2^31+7] must NOT be pruned for 'u > 10' (signed
    decode would claim max < 0)."""
    t = pa.table({"u": pa.array([5, 2**31 + 7], type=pa.uint32()),
                  "u8": pa.array([1, 2**63 + 9], type=pa.uint64())})
    write_file(str(tmp_path / "u.parquet"), t)
    assert filter_row_groups(str(tmp_path), [("u", ">", 10)]) == \
        [("u.parquet", 0)]
    assert filter_row_groups(str(tmp_path), [("u8", ">", 2**62)]) == \
        [("u.parquet", 0)]
    assert filter_row_groups(str(tmp_path), [("u", ">", 2**31 + 8)]) == []
