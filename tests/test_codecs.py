"""Kernel round-trip tests, mirroring the reference's test strategy
(SURVEY.md §5: bit-level units with exact byte expectations, then
randomized round-trips — fastparquet/test/test_encoding.py:62-126,
test_output.py:19-77)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fastparquet_spark.codecs import (
    decode_hybrid,
    decode_plain,
    delta_decode,
    delta_encode,
    dict_build,
    dict_data_page,
    dict_decode_page,
    encode_hybrid,
    encode_plain,
    pack_bits,
    unpack_bits,
    uvarint_decode,
    uvarint_encode,
    width_from_max_int,
    zigzag_decode,
    zigzag_encode,
)
from fastparquet_spark.codecs.plain import BOOLEAN, BYTE_ARRAY, DOUBLE, FLOAT, INT32, INT64


# ---- exact byte expectations (golden vectors, reference test_encoding.py) --
def test_uvarint_golden():
    # same vectors as fastparquet/test/test_encoding.py single/multi-byte
    assert uvarint_encode(0) == b"\x00"
    assert uvarint_encode(1) == b"\x01"
    assert uvarint_encode(127) == b"\x7f"
    assert uvarint_encode(128) == b"\x80\x01"
    assert uvarint_encode(300) == b"\xac\x02"
    assert uvarint_decode(b"\xac\x02") == (300, 2)


def test_zigzag_golden():
    assert zigzag_encode(0) == 0
    assert zigzag_encode(-1) == 1
    assert zigzag_encode(1) == 2
    assert zigzag_encode(-2) == 3
    assert zigzag_decode(4294967294) == 2147483647
    assert zigzag_decode(4294967295) == -2147483648


def test_width_from_max_int():
    # reference fastparquet/test/test_encoding.py width table
    for val, w in [(0, 0), (1, 1), (2, 2), (3, 2), (4, 3), (5, 3), (7, 3),
                   (8, 4), (15, 4), (16, 5), (255, 8), (256, 9)]:
        assert width_from_max_int(val) == w


def test_bitpack_header_semantics():
    # a bit-packed run encodes groups of 8; header=(groups<<1)|1
    vals = np.arange(8, dtype=np.uint64)
    body = encode_hybrid(vals, 3)
    header, pos = uvarint_decode(body, 0)
    assert header & 1 == 1 and header >> 1 == 1
    assert len(body) - pos == 3  # 8 values * 3 bits = 3 bytes


def test_rle_run_semantics():
    vals = np.full(1000, 7, dtype=np.uint64)
    body = encode_hybrid(vals, 5)
    header, pos = uvarint_decode(body, 0)
    assert header & 1 == 0 and header >> 1 == 1000
    assert body[pos] == 7 and len(body) == pos + 1  # one value byte


# ---- randomized round-trips -------------------------------------------------
@pytest.mark.parametrize("width", [1, 2, 3, 5, 7, 8, 12, 16, 20, 24, 32, 48, 64])
def test_bitpack_roundtrip(width, rng):
    hi = (1 << width) - 1 if width < 64 else (1 << 63) - 1
    vals = rng.integers(0, hi + 1, 511).astype(np.uint64)
    got = unpack_bits(pack_bits(vals, width), width, len(vals))
    np.testing.assert_array_equal(got, vals)


@pytest.mark.parametrize("width", [1, 3, 8, 11, 20])
def test_hybrid_roundtrip_mixed_runs(width, rng):
    hi = 1 << width
    vals = np.concatenate([
        np.full(rng.integers(1, 200), rng.integers(0, hi)),
        rng.integers(0, hi, rng.integers(1, 100)),
        np.full(rng.integers(8, 5000), rng.integers(0, hi)),
        rng.integers(0, hi, rng.integers(1, 15)),
    ]).astype(np.uint64)
    for prepend in (False, True):
        body = encode_hybrid(vals, width, prepend_length=prepend)
        got, _ = decode_hybrid(body, width, len(vals),
                               length=None if prepend else len(body))
        np.testing.assert_array_equal(got, vals)


def test_hybrid_beats_single_bitpack_on_runs():
    # the reference encoder emits one bit-packed run (writer.py:356-366);
    # ours must be smaller on run-heavy data
    vals = np.repeat(np.arange(20, dtype=np.uint64), 500)
    width = 5
    ours = len(encode_hybrid(vals, width))
    reference_style = 1 + (len(vals) * width + 7) // 8
    assert ours < reference_style / 10


def test_hybrid_never_beaten_by_single_bitpack():
    # the width-aware break-even (_min_rle_run) exists because naive
    # run detection at width 1 EXPANDED 90%-ones levels past the
    # single-run scheme; pin <= for the shapes that exposed it
    rng2 = np.random.default_rng(99)
    shapes = [
        ((rng2.random(200_000) < 0.9).astype(np.uint64), 1),
        ((rng2.random(200_000) < 0.5).astype(np.uint64), 1),
        (np.minimum(rng2.zipf(1.3, 200_000) - 1, 4000).astype(np.uint64), 12),
        (rng2.integers(0, 8, 200_000).astype(np.uint64), 3),
    ]
    for vals, width in shapes:
        ours = len(encode_hybrid(vals, width))
        single = 5 + -(-len(vals) // 8) * width
        assert ours <= single, (width, ours, single)


@pytest.mark.parametrize("width", [1, 2, 3, 5, 8, 12, 20, 32, 57])
def test_hybrid_native_matches_numpy_bit_identically(width, rng):
    """The C kernel (encode_hybrid_c) and the numpy run-detection path
    must emit IDENTICAL bytes — the C path is an accelerator, not an
    alternative format."""
    import fastparquet_spark.codecs.native as nat

    if nat._load() is None:
        pytest.skip("no C compiler")
    hi = 1 << width
    cases = [
        rng.integers(0, hi, 1).astype(np.uint64),
        rng.integers(0, hi, 7).astype(np.uint64),
        rng.integers(0, hi, 20_000).astype(np.uint64),
        np.full(500, hi - 1, np.uint64),
        (rng.random(20_000) < 0.9).astype(np.uint64) * (hi - 1),
        np.repeat(rng.integers(0, hi, 100).astype(np.uint64),
                  rng.integers(1, 120, 100)),
        np.tile(np.arange(min(hi, 16), dtype=np.uint64), 100),
    ]
    real = nat.encode_hybrid_native
    for vals in cases:
        a = encode_hybrid(vals, width)
        nat.encode_hybrid_native = lambda *args: None
        try:
            b = encode_hybrid(vals, width)
        finally:
            nat.encode_hybrid_native = real
        assert a == b, (width, len(a), len(b))
        got, _ = decode_hybrid(a, width, len(vals), length=len(a))
        np.testing.assert_array_equal(got, vals)


@given(st.lists(st.integers(-2**31, 2**31 - 1), min_size=0, max_size=500))
@settings(max_examples=50, deadline=None)
def test_delta_roundtrip_property(xs):
    arr = np.array(xs, dtype=np.int64)
    got, _ = delta_decode(delta_encode(arr))
    np.testing.assert_array_equal(got, arr)


def test_delta_roundtrip_large_sorted(rng):
    arr = np.sort(rng.integers(0, 10**12, 100_000))
    enc = delta_encode(arr)
    got, _ = delta_decode(enc)
    np.testing.assert_array_equal(got, arr)
    assert len(enc) < arr.nbytes / 2  # FoR must win on sorted data


@pytest.mark.parametrize("ptype,dtype", [
    (INT32, np.int32), (INT64, np.int64), (FLOAT, np.float32),
    (DOUBLE, np.float64), (BOOLEAN, np.bool_),
])
def test_plain_roundtrip(ptype, dtype, rng):
    if ptype == BOOLEAN:
        vals = rng.integers(0, 2, 333).astype(dtype)
    elif np.dtype(dtype).kind == "f":
        vals = rng.normal(size=333).astype(dtype)
    else:
        info = np.iinfo(dtype)
        vals = rng.integers(info.min, info.max, 333).astype(dtype)
    got, _ = decode_plain(encode_plain(vals, ptype), ptype, len(vals))
    np.testing.assert_array_equal(got, vals)


def test_plain_byte_array_roundtrip(rng):
    strs = [bytes(rng.integers(0, 256, rng.integers(0, 40), dtype=np.uint8))
            for _ in range(400)] + [b""] * 5
    lengths = np.array([len(s) for s in strs])
    data = np.frombuffer(b"".join(strs), np.uint8)
    body = encode_plain((lengths, data), BYTE_ARRAY)
    (gl, gd), _ = decode_plain(body, BYTE_ARRAY, len(strs))
    np.testing.assert_array_equal(gl, lengths)
    np.testing.assert_array_equal(gd, data)


def test_dict_roundtrip(rng):
    import pyarrow as pa
    vals = pa.array(rng.choice(["aa", "bb", "cc", "dd"], 2000).tolist())
    codes, labels = dict_build(vals)
    assert len(labels) == 4
    page = dict_data_page(codes, len(labels))
    got = dict_decode_page(page, len(codes))
    np.testing.assert_array_equal(got, codes)
    assert got.dtype == np.int64  # the reader indexes with them as is
    # a one-label page as parquet-java writes it: bit width 0, then a
    # bit-packed run with no data bytes; every code is 0
    np.testing.assert_array_equal(dict_decode_page(b"\x00\x03", 5),
                                  np.zeros(5, np.int64))


def test_compression_all_codecs():
    from fastparquet_spark.codecs import CODECS, compress, decompress
    raw = b"the quick brown fox " * 500
    for name, cid in CODECS.items():
        assert decompress(compress(raw, cid), cid, len(raw)) == raw, name


def test_legacy_lz4_hadoop_roundtrip(tmp_path):
    """Codec id 5 (legacy Hadoop-framed LZ4): 8-byte big-endian headers
    + raw-lz4 blocks.  This is a READ-compat codec for old
    parquet-mr/Impala files — pyarrow and our reader decode it; DuckDB
    does not support it at all, so the engine never selects it by
    default (ZSTD/SNAPPY remain the write defaults)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fastparquet_spark.format import read_file, write_file

    t = pa.table({"a": pa.array(range(5000)),
                  "s": pa.array([f"text {i % 7} body" for i in range(5000)])})
    path = str(tmp_path / "lz4.parquet")
    write_file(path, t, compression="LZ4")
    assert pq.read_table(path).cast(t.schema).equals(t)
    got = read_file(path)
    assert got.cast(t.schema).equals(t)
    # raw-block fallback (writers that skip the hadoop framing)
    from fastparquet_spark.codecs.compression import (
        _lz4_hadoop_decompress,
    )
    block = pa.Codec("lz4_raw").compress(b"x" * 1000).to_pybytes()
    assert _lz4_hadoop_decompress(block, 1000) == b"x" * 1000


def test_delta_decode_native_matches_numpy():
    """The C DELTA decoder and the vectorized numpy decoder must return
    identical values AND stream positions for any encoder output,
    including the >57-bit-width streams the C kernel hands back."""
    import os

    import numpy as np

    import fastparquet_spark.codecs.native as native
    from fastparquet_spark.codecs.delta import delta_decode, delta_encode

    if native._load() is None:
        import pytest

        pytest.skip("no C compiler in this environment")
    rng = np.random.default_rng(21)
    cases = [
        np.cumsum(rng.integers(0, 50, 50_000)).astype(np.int64),
        rng.integers(-(1 << 31), 1 << 31, 20_000).astype(np.int64),
        rng.integers(-(1 << 62), 1 << 62, 5_000).astype(np.int64),
        np.array([-(2**63), 2**63 - 1, 0, -1, 5], np.int64),
        np.array([7], np.int64),
        np.array([], np.int64),
    ]
    for v in cases:
        for bw in (32, 64) if len(v) and v.max() < 2**31 and v.min() >= -(2**31) else (64,):
            enc = delta_encode(v, bit_width=bw)
            got_c, pos_c = delta_decode(enc, count=len(v), bit_width=bw)
            os.environ["FPS_DISABLE_NATIVE"] = "1"
            native._lib, native._lib_tried = None, False
            try:
                got_np, pos_np = delta_decode(enc, count=len(v), bit_width=bw)
            finally:
                del os.environ["FPS_DISABLE_NATIVE"]
                native._lib, native._lib_tried = None, False
            assert pos_c == pos_np
            assert np.array_equal(got_c, got_np)


def test_delta_encode_native_matches_numpy_bit_identical():
    """The C DELTA encoder must emit byte-identical streams to the
    numpy encoder wherever it runs (>57-bit-width inputs already fall
    back to numpy inside delta_encode, so equality holds everywhere)."""
    import os

    import numpy as np

    import fastparquet_spark.codecs.native as native
    from fastparquet_spark.codecs.delta import delta_encode

    if native._load() is None:
        import pytest

        pytest.skip("no C compiler in this environment")
    rng = np.random.default_rng(31)
    cases = [np.cumsum(rng.integers(0, 50, 10_000)).astype(np.int64),
             rng.integers(-(1 << 31), 1 << 31, 5_000).astype(np.int64),
             rng.integers(-(1 << 62), 1 << 62, 3_000).astype(np.int64),
             np.array([-(2**63), 2**63 - 1, 0, -1], np.int64),
             np.zeros(500, np.int64), np.array([], np.int64)]
    for trial in range(150):
        n = int(rng.integers(0, 200))
        mag = int(rng.integers(1, 63))
        cases.append(rng.integers(-(1 << mag), 1 << mag, n).astype(np.int64))
    for v in cases:
        for bw in (32, 64):
            if bw == 32 and len(v) and (v.max() >= 2**31 or v.min() < -(2**31)):
                continue
            a = delta_encode(v, bit_width=bw)
            os.environ["FPS_DISABLE_NATIVE"] = "1"
            native._lib, native._lib_tried = None, False
            try:
                b = delta_encode(v, bit_width=bw)
            finally:
                del os.environ["FPS_DISABLE_NATIVE"]
                native._lib, native._lib_tried = None, False
            assert a == b


def test_bitpack_native_matches_numpy():
    """C bit pack/unpack (widths 1-57) must be byte-identical to the
    numpy paths; widths >57 and byte-multiples stay numpy."""
    import os

    import numpy as np

    import fastparquet_spark.codecs.native as native
    from fastparquet_spark.codecs.bitpack import pack_bits, unpack_bits

    if native._load() is None:
        import pytest

        pytest.skip("no C compiler in this environment")
    rng = np.random.default_rng(41)
    for _ in range(120):
        w = int(rng.integers(1, 65))
        n = int(rng.integers(0, 300))
        v = rng.integers(0, 1 << min(w, 63), n).astype(np.uint64)
        a = pack_bits(v, w)
        os.environ["FPS_DISABLE_NATIVE"] = "1"
        native._lib, native._lib_tried = None, False
        try:
            b = pack_bits(v, w)
            back_np = unpack_bits(a, w, n)
        finally:
            del os.environ["FPS_DISABLE_NATIVE"]
            native._lib, native._lib_tried = None, False
        assert a == b
        assert np.array_equal(unpack_bits(a, w, n), v)
        assert np.array_equal(back_np, v)


# ---- modern encodings (codecs/split.py) -------------------------------------
def test_bss_roundtrip_property():
    import numpy as np

    from fastparquet_spark.codecs.split import bss_decode, bss_encode
    from fastparquet_spark.format.metadata import Type

    rng = np.random.default_rng(3)
    for ptype, arr in [
            (Type.FLOAT, rng.normal(0, 1, 1000).astype(np.float32)),
            (Type.DOUBLE, rng.normal(0, 1, 1000)),
            (Type.INT32, rng.integers(-2**31, 2**31, 1000, dtype=np.int32)),
            (Type.INT64, rng.integers(-2**62, 2**62, 1000, dtype=np.int64))]:
        buf = bss_encode(arr, ptype)
        out, pos = bss_decode(buf, ptype, len(arr))
        assert pos == len(buf)
        np.testing.assert_array_equal(out, arr)
    # FLBA rows
    rows = rng.integers(0, 256, (500, 16)).astype(np.uint8)
    buf = bss_encode(rows, Type.FIXED_LEN_BYTE_ARRAY, type_length=16)
    out, _ = bss_decode(buf, Type.FIXED_LEN_BYTE_ARRAY, 500, type_length=16)
    np.testing.assert_array_equal(out, rows)


def test_dlba_roundtrip():
    import numpy as np

    from fastparquet_spark.codecs.split import dlba_decode, dlba_encode

    strs = [f"value-{i}-{'x' * (i % 37)}".encode() for i in range(2000)]
    lengths = np.array([len(s) for s in strs], np.int64)
    data = np.frombuffer(b"".join(strs), np.uint8)
    buf = dlba_encode(lengths, data)
    (lo, do), pos = dlba_decode(buf, len(strs))
    assert pos == len(buf)
    np.testing.assert_array_equal(lo, lengths)
    np.testing.assert_array_equal(do, data)


def test_dba_roundtrip_shapes():
    import numpy as np

    from fastparquet_spark.codecs.split import dba_decode, dba_encode

    for strs in (
            [b"", b"", b"a", b"a", b"ab", b"abc", b"abd", b"b"],
            sorted(f"repo/{i % 50:02d}/p_{i:06d}.rs".encode()
                   for i in range(3000)),
            [b"x" * 200, b"x" * 200, b"x" * 199 + b"y"],  # beyond 64B cap
            [b""] * 5,
            [bytes([i % 256]) * (i % 9) for i in range(500)]):
        ln = np.array([len(s) for s in strs], np.int64)
        dt = np.frombuffer(b"".join(strs), np.uint8)
        buf = dba_encode(ln, dt)
        (lo, do), pos = dba_decode(buf, len(strs))
        assert pos == len(buf)
        out, p = [], 0
        db = do.tobytes()
        for length in lo:
            out.append(db[p:p + length])
            p += length
        assert out == strs


# ---- hypothesis fuzz: modern encodings + bloom -----------------------------
def test_split_codecs_hypothesis_roundtrip():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fastparquet_spark.codecs.split import (
        bss_decode, bss_encode, dba_decode, dba_encode, dlba_decode,
        dlba_encode,
    )
    from fastparquet_spark.format.metadata import Type

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.binary(min_size=0, max_size=200), min_size=0,
                    max_size=120))
    def check_strings(strs):
        ln = np.array([len(s) for s in strs], np.int64)
        dt = np.frombuffer(b"".join(strs), np.uint8)
        for enc, dec in ((dlba_encode, dlba_decode),
                         (dba_encode, dba_decode)):
            buf = enc(ln, dt)
            (lo, do), pos = dec(buf, len(strs))
            assert pos == len(buf)
            out, p = [], 0
            db = do.tobytes()
            for length in lo:
                out.append(db[p:p + length])
                p += length
            assert out == strs

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.floats(allow_nan=True, allow_infinity=True,
                              width=32),
                    min_size=0, max_size=300))
    def check_floats(vals):
        arr = np.array(vals, dtype=np.float32)
        buf = bss_encode(arr, Type.FLOAT)
        out, pos = bss_decode(buf, Type.FLOAT, len(arr))
        assert pos == len(buf)
        np.testing.assert_array_equal(
            out.view(np.uint32), arr.view(np.uint32))  # bit-exact, NaN-safe

    check_strings()
    check_floats()


def test_bloom_hypothesis_no_false_negatives():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fastparquet_spark.codecs.bloom import SplitBlockBloom, xxh64_many

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.binary(min_size=0, max_size=64), min_size=1,
                    max_size=200),
           st.integers(min_value=32, max_value=4096))
    def check(keys, nbytes):
        ln = np.array([len(k) for k in keys], np.int64)
        dt = np.frombuffer(b"".join(keys), np.uint8)
        h = xxh64_many(ln, dt)
        bf = SplitBlockBloom(nbytes)
        bf.insert(h)
        # the defining guarantee: NEVER a false negative, at any size
        assert bf.might_contain(h).all()
        rt = SplitBlockBloom.frombytes(bf.tobytes())
        assert rt.might_contain(h).all()

    check()
