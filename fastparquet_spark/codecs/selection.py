"""Per-column codec selection: every codec decision of both writers.

The reference's selection is static — PLAIN always, dictionary only when
the user already made the column pandas-categorical
(fastparquet/writer.py:369-372,481-521).  Ours picks per column chunk:

- parquet (``parquet_encoding``), from sampled stats (``choose_encoding``):
  - sampled distinct ratio          -> PLAIN_DICTIONARY
  - sortedness / mean delta width   -> DELTA_BINARY_PACKED (ints,
    ``delta_wins``)
  - otherwise                       -> PLAIN, and under
    ``compat='modern'`` a measured trial (``modern_trial``) may admit
    BYTE_STREAM_SPLIT / DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY;
- FPSC container: ints DELTA where ``delta_wins``, strings FSST vs
  PLAIN by a measured trial (``fsst_trial``).

Both trials keep the challenger only when its compressed size is under
``GAIN`` of the baseline's.  Sampling is DETERMINISTIC (evenly strided)
so re-running a partition reproduces the same choice — required for
resumable jobs (SURVEY.md §7.4 "seeded sampling for codec stats").
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from fastparquet_spark.codecs import compression as comp
from fastparquet_spark.codecs.delta import delta_encode
from fastparquet_spark.codecs.fsst import fsst_encode
from fastparquet_spark.codecs.plain import (
    BOOLEAN, BYTE_ARRAY, DOUBLE, FIXED, FLOAT, INT32, INT64, INT96,
    encode_plain,
)


class Encoding:
    """Parquet Encoding ids (reference parquet_thrift ttypes.py:170-177);
    ``format.metadata`` re-exports this table."""
    PLAIN = 0
    PLAIN_DICTIONARY = 2
    RLE = 3
    BIT_PACKED = 4
    DELTA_BINARY_PACKED = 5
    DELTA_LENGTH_BYTE_ARRAY = 6
    DELTA_BYTE_ARRAY = 7
    RLE_DICTIONARY = 8
    BYTE_STREAM_SPLIT = 9


SAMPLE = 4096

#: a measured challenger wins only under this share of the baseline's
#: size.  It was 0.9 when FSST encode ran at ~20 MB/s (the decode/encode
#: tax needed a real ratio win to pay off); with the C greedy kernel at
#: ~600 MB/s a 2% size win is already worth taking.
GAIN = 0.98


@dataclass
class ColumnStats:
    n: int
    distinct_ratio: float    # sampled distinct / sample size
    sorted_frac: float       # fraction of non-negative deltas (ints)
    delta_bits: float        # mean bit width of |deltas| (ints)
    plain_bits: int          # bits per value under PLAIN
    avg_len: float           # mean byte length (byte arrays)


def _sample_idx(n: int, k: int = SAMPLE) -> np.ndarray:
    if n <= k:
        return np.arange(n)
    return (np.arange(k, dtype=np.int64) * n) // k


def column_stats(values, ptype: int) -> ColumnStats:
    """Selection stats of a numeric numpy column from a deterministic
    sample (byte arrays: :func:`column_stats_arrow`)."""
    v = np.asarray(values)
    n = len(v)
    if n == 0:
        return ColumnStats(0, 1.0, 0.0, 0.0, v.dtype.itemsize * 8, 0.0)
    s = v[_sample_idx(n)]
    distinct = len(np.unique(s)) / len(s)
    sorted_frac = delta_bits = 0.0
    if v.dtype.kind in "iu" and n > 1:
        # deltas must come from CONTIGUOUS slices: a strided sample
        # inflates every delta ~stride-fold (log2(stride) extra bits),
        # biasing selection away from DELTA_BINARY_PACKED exactly on
        # the large columns where it pays.  Four evenly
        # placed blocks keep the probe deterministic and O(SAMPLE).
        k = min(n, SAMPLE)
        nb = 4 if n > SAMPLE else 1
        bs = max(k // nb, 2)
        parts = []
        for b in range(nb):
            start = 0 if nb == 1 else (b * (n - bs)) // (nb - 1)
            blk = v[start:start + bs].astype(np.int64)
            if len(blk) > 1:
                parts.append(np.diff(blk))
        d = np.concatenate(parts)
        sorted_frac = float((d >= 0).mean())
        with np.errstate(divide="ignore"):
            delta_bits = float(np.mean(np.ceil(np.log2(np.abs(d.astype(np.float64)) + 1)) + 1))
    return ColumnStats(n, distinct, sorted_frac, delta_bits,
                       v.dtype.itemsize * 8, 0.0)


def column_stats_arrow(arr) -> ColumnStats:
    """BYTE_ARRAY selection stats straight from an Arrow array: the
    deterministic strided sample's gather, distinct count and mean
    length all run in Arrow C++ (take / count_distinct /
    binary_length)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return ColumnStats(0, 1.0, 0.0, 0.0, 8, 0.0)
    s = arr.take(pa.array(_sample_idx(n)))
    distinct = pc.count_distinct(s).as_py() / len(s)
    avg_len = pc.mean(pc.binary_length(s)).as_py() or 0.0
    return ColumnStats(n, distinct, 0.0, 0.0, 8, float(avg_len))


def delta_wins(stats: ColumnStats) -> bool:
    """DELTA_BINARY_PACKED over PLAIN for an int column: near-sorted,
    or deltas much narrower than the values."""
    return stats.sorted_frac > 0.95 or stats.delta_bits < stats.plain_bits * 0.6


def choose_encoding(stats: ColumnStats, ptype: int) -> int:
    """The parquet stats rule for one column chunk: an Encoding id."""
    if stats.n == 0:
        return Encoding.PLAIN
    # dictionary: sampled distinct ratio low enough that codes+labels beat plain
    dict_bits = max(1, int(np.ceil(np.log2(max(stats.distinct_ratio * stats.n, 2)))))
    if ptype == BYTE_ARRAY:
        if stats.distinct_ratio < 0.5 and stats.avg_len * 8 * (1 - stats.distinct_ratio) > dict_bits:
            return Encoding.PLAIN_DICTIONARY
        return Encoding.PLAIN
    if ptype == BOOLEAN:
        return Encoding.PLAIN
    if stats.distinct_ratio < 0.1 and dict_bits < stats.plain_bits / 2:
        return Encoding.PLAIN_DICTIONARY
    if ptype in (INT32, INT64) and delta_wins(stats):
        return Encoding.DELTA_BINARY_PACKED
    return Encoding.PLAIN


def modern_trial(ptype: int, values, codec: int, level=None) -> int:
    """compat='modern' admission for a PLAIN column: compress a bounded
    sample of ``values`` (the writer's non-null physical values) both
    ways and keep the modern encoding only on a ``GAIN`` compressed-size
    win — so the choice is measured, never assumed."""
    from fastparquet_spark.codecs.split import (
        bss_encode, dba_encode, dlba_encode,
    )

    cap = 65_536
    if ptype in (FLOAT, DOUBLE):
        sample = values[:cap]
        if len(sample) < 64:
            return Encoding.PLAIN
        cands = [(Encoding.BYTE_STREAM_SPLIT, bss_encode(sample, ptype))]
        plain = encode_plain(sample, ptype)
    elif ptype == BYTE_ARRAY:
        lengths, data = values
        if len(lengths) < 64:
            return Encoding.PLAIN
        ln = np.asarray(lengths[:cap])
        dt = np.asarray(data[: int(ln.sum())])
        plain = encode_plain((ln, dt), ptype)
        cands = [(Encoding.DELTA_LENGTH_BYTE_ARRAY, dlba_encode(ln, dt)),
                 (Encoding.DELTA_BYTE_ARRAY, dba_encode(ln, dt))]
    else:
        return Encoding.PLAIN
    base = len(comp.compress(plain, codec, level))
    best, best_sz = Encoding.PLAIN, base
    for enc, alt in cands:
        sz = len(comp.compress(alt, codec, level))
        if sz < GAIN * base and sz < best_sz:
            best, best_sz = enc, sz
    return best


def parquet_encoding(arr, values, ptype: int, modern: bool, codec: int,
                     level=None) -> int:
    """The parquet writer's encoding for a flat column chunk ``arr``
    (``values``: its non-null physical values).  Fixed-width byte rows,
    INT96 and decimals stay PLAIN; otherwise the stats rule decides,
    and under ``modern`` a PLAIN outcome goes to :func:`modern_trial`."""
    if ptype in (FIXED, INT96) or pa.types.is_decimal(arr.type):
        return Encoding.PLAIN
    if ptype == BYTE_ARRAY:
        st = column_stats_arrow(arr.drop_null() if arr.null_count else arr)
    else:
        st = column_stats(values, ptype)
    encoding = choose_encoding(st, ptype)
    if modern and encoding == Encoding.PLAIN:
        encoding = modern_trial(ptype, values, codec, level)
    return encoding


def fsst_trial(lengths, data, codec: int, ftab=None,
               decision: str | None = None) -> tuple[str, list]:
    """FSST vs PLAIN for one string column of an FPSC container.

    Encodes the column both ways — PLAIN under the block ``codec``, and
    FSST under the symbol table ``ftab`` (its code stream
    block-compressed only where that shrinks it) — and keeps FSST only
    when all its sections total under ``GAIN`` of the compressed PLAIN
    body.  A ``decision`` ('fsst' | 'plain', this same trial's outcome
    on a driver-side sample) encodes only the named path.  Returns the
    codec name and the column's container sections, in write order."""
    if decision != "fsst":
        raw = encode_plain((lengths, data), BYTE_ARRAY)
        body = comp.compress(raw, codec)
        plain = [len(raw).to_bytes(8, "little"),
                 len(body).to_bytes(8, "little"), body]
    if decision != "plain":
        blob = fsst_encode(data, ftab)
        blob_z = comp.compress(blob, codec)
        blob_codec, stored = (codec, blob_z) if len(blob_z) < len(blob) \
            else (0, blob)
        tab = ftab.serialize()
        lens = delta_encode(lengths)
        fsst = [len(tab).to_bytes(4, "little"), tab,
                len(lens).to_bytes(4, "little"), lens,
                len(blob).to_bytes(8, "little"),    # code stream length
                len(stored).to_bytes(8, "little"),
                blob_codec.to_bytes(4, "little"), stored]
    if decision == "fsst" or (decision is None and
                              sum(map(len, fsst)) < len(body) * GAIN):
        return "fsst", fsst
    return "plain", plain
