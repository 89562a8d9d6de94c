"""Round-7 ADVICE fixes, pinned.

1. medium api.py _restore_masked_dtypes: Int64-with-null columns must
   round-trip integers above 2**53 exactly (no float64 transit).
2. low api.py write(has_nulls=False/'infer'): datetime64/timedelta64
   with NaT writes the iNaT sentinel like the reference, not raise.
3. low format/writer.py: sub-microsecond timedelta64 truncates to us
   like the reference instead of crashing with ArrowInvalid.
4. low api.py _restore_meta_types: DATE columns read back as
   datetime64[ns] (the reference dtype) when the values fit, 'ms'
   only on overflow.
"""

from __future__ import annotations

import datetime
import os

import pandas as pd
import pyarrow as pa

from fastparquet_spark import api


def test_masked_int64_above_2_53_exact(tmp_path):
    big = 4611686018427400249  # not representable in float64
    df = pd.DataFrame({"a": pd.array([big, None, 7], dtype="Int64"),
                       "u": pd.array([2 ** 63 + 11, None, 3], dtype="UInt64")})
    p = os.path.join(tmp_path, "m.parquet")
    api.write(p, df)
    back = api.ParquetFile(p).to_pandas()
    assert str(back["a"].dtype) == "Int64"
    assert back["a"][0] == big
    assert back["a"].isna()[1] and back["a"][2] == 7
    assert str(back["u"].dtype) == "UInt64"
    assert back["u"][0] == 2 ** 63 + 11


def test_nat_sentinel_under_has_nulls_false(tmp_path):
    df = pd.DataFrame({
        "t": pd.to_datetime(["2020-01-02 03:04:05.123456", None]),
        "td": pd.to_timedelta([1234567, None], unit="us"),
    })
    # int96 stores timestamps in ns: the sentinel must not be cast there
    for times in ("int64", "int96"):
        p = os.path.join(tmp_path, f"n-{times}.parquet")
        # reference contract: NaT sentinel
        api.write(p, df, has_nulls=False, times=times)
        back = api.ParquetFile(p).to_pandas()
        assert back["t"][0] == pd.Timestamp("2020-01-02 03:04:05.123456")
        assert pd.isna(back["t"][1])
        assert back["td"][0] == pd.to_timedelta(1234567, unit="us")
        assert pd.isna(back["td"][1])


def test_sub_us_timedelta_truncates_like_reference(tmp_path):
    df = pd.DataFrame({"td": pd.to_timedelta([123456789123456789], unit="ns")})
    p = os.path.join(tmp_path, "t.parquet")
    api.write(p, df)  # previously ArrowInvalid
    back = api.ParquetFile(p).to_pandas()
    assert back["td"][0] == pd.to_timedelta(123456789123456, unit="us")


def test_date_reads_back_ns_with_ms_fallback(tmp_path):
    t = pa.table({"d": pa.array([datetime.date(2020, 5, 17),
                                 datetime.date(1999, 1, 1)])})
    p = os.path.join(tmp_path, "d.parquet")
    api.write(p, t)
    back = api.ParquetFile(p).to_pandas()
    assert str(back["d"].dtype) == "datetime64[ns]"  # reference dtype
    assert back["d"][0] == pd.Timestamp("2020-05-17")
    # out-of-ns-range dates fall back to ms with correct values
    t2 = pa.table({"d": pa.array([datetime.date(9999, 1, 1)])})
    p2 = os.path.join(tmp_path, "d2.parquet")
    api.write(p2, t2)
    back2 = api.ParquetFile(p2).to_pandas()
    assert str(back2["d"].dtype) == "datetime64[ms]"
    assert back2["d"][0] == pd.Timestamp("9999-01-01")
