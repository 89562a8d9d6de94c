"""Block compression codecs for page bodies.

The reference routes through cramjam (fastparquet/compression.py:8-94);
cramjam is not available here, so we use pyarrow's bundled codecs, which
produce the exact framing Parquet specifies (raw snappy, gzip member
stream, zstd frame), with a zlib fallback for GZIP.

Pages move as buffers, not ``bytes`` copies: both directions hand back
the ``pa.Buffer`` pyarrow's codec produced, viewed as an unsigned-byte
``memoryview`` (a raw ``memoryview`` of a ``pa.Buffer`` has format
``'b'``, so indexing it would return signed bytes).
"""

from __future__ import annotations

import zlib

import pyarrow as pa

# Parquet CompressionCodec ids (reference parquet_thrift ttypes.py:216-223)
UNCOMPRESSED, SNAPPY, GZIP, LZO, BROTLI, LZ4, ZSTD, LZ4_RAW = range(8)

_PA_NAMES = {SNAPPY: "snappy", GZIP: "gzip", BROTLI: "brotli", ZSTD: "zstd", LZ4_RAW: "lz4_raw"}

CODECS: dict[str, int] = {"UNCOMPRESSED": UNCOMPRESSED, "NONE": UNCOMPRESSED}
for _id, _name in _PA_NAMES.items():
    try:
        pa.Codec(_name)
    except (ValueError, NotImplementedError):
        continue
    CODECS[_name.upper()] = _id
if "GZIP" not in CODECS:
    CODECS["GZIP"] = GZIP  # zlib fallback always available
if "LZ4_RAW" in CODECS:
    # legacy Hadoop-framed LZ4 (codec id 5): raw-lz4 blocks behind
    # 8-byte big-endian headers — see _lz4_hadoop_* below
    CODECS["LZ4"] = LZ4


def codec_id(name: str | int) -> int:
    if isinstance(name, (int, dict)):
        return codec_spec(name)[0]
    key = (name or "UNCOMPRESSED").upper()
    if key not in CODECS:
        raise ValueError(f"codec {name!r} unavailable; have {sorted(CODECS)}")
    return CODECS[key]


def codec_spec(spec) -> tuple[int, int | None]:
    """(codec_id, level) from any accepted compression spec: a name,
    an id, or a dict — ``{"codec": "ZSTD", "level": 10}`` or the
    reference's ``{"type": "zstd", "args": {"level": 10}}`` form
    (fastparquet/compression.py:73 compress_data's dict contract)."""
    if isinstance(spec, dict):
        name = spec.get("codec") or spec.get("type") or "UNCOMPRESSED"
        level = spec.get("level")
        if level is None:
            level = (spec.get("args") or {}).get("level")
        return codec_id(str(name)), level
    if isinstance(spec, int):
        return spec, None
    return codec_id(spec), None


# speed-leaning defaults: zstd-1 ~3x faster than zstd-3 for ~2% ratio loss
# on source text; gzip-6 is the zlib sweet spot
_LEVELS = {ZSTD: 1, GZIP: 6, BROTLI: 4}


def byte_view(buf) -> memoryview:
    """Flat unsigned-byte view of any C-contiguous buffer (``pa.Buffer``,
    ndarray of any dtype or shape, bytes), no copy: its ``len`` is the
    byte count, indexing returns ints 0..255, and ``==`` compares bytes."""
    view = memoryview(buf)
    # memoryview refuses to cast a view with a zero in its shape
    return view.cast("B") if view.nbytes else memoryview(b"")


def _lz4_hadoop_compress(data) -> bytes:
    """Hadoop LZ4 framing (parquet codec id 5): 4-byte big-endian
    uncompressed size, 4-byte big-endian compressed size, one raw-lz4
    block (the layout arrow's Lz4HadoopCodec and parquet-mr emit)."""
    block = pa.Codec("lz4_raw").compress(data)
    return b"".join((len(data).to_bytes(4, "big"),
                     block.size.to_bytes(4, "big"), block))


def _lz4_hadoop_decompress(data, usize: int):
    """Decode Hadoop-framed LZ4, tolerating multiple chunks; falls back
    to whole-buffer raw lz4 for writers that skipped the framing (the
    same permissive strategy arrow's reader uses)."""
    raw = pa.Codec("lz4_raw")
    try:
        out = bytearray()
        pos = 0
        while pos < len(data) and len(out) < usize:
            ulen = int.from_bytes(data[pos:pos + 4], "big")
            clen = int.from_bytes(data[pos + 4:pos + 8], "big")
            pos += 8
            if clen <= 0 or pos + clen > len(data):
                raise ValueError("bad hadoop-lz4 chunk header")
            out += raw.decompress(data[pos:pos + clen], ulen)
            pos += clen
        if len(out) != usize:
            raise ValueError("hadoop-lz4 size mismatch")
        return byte_view(out)
    except (ValueError, NotImplementedError, OSError):
        return byte_view(raw.decompress(data, usize))


def compress(data, codec: int, level: int | None = None):
    """Compress one page body (any C-contiguous bytes-like object).

    Returns a bytes-like buffer, not a ``bytes`` copy: ``data`` itself
    for UNCOMPRESSED, else an unsigned-byte ``memoryview`` of the codec's
    output buffer (``bytes`` for legacy LZ4 and the zlib fallback)."""
    if codec == UNCOMPRESSED:
        return data
    if codec == LZ4:
        return _lz4_hadoop_compress(data)
    lvl = level if level is not None else _LEVELS.get(codec)
    if codec in _PA_NAMES:
        try:
            return byte_view(pa.Codec(_PA_NAMES[codec], compression_level=lvl)
                               .compress(data))
        except (ValueError, NotImplementedError):
            if codec != GZIP:
                raise
    if codec == GZIP:
        co = zlib.compressobj(lvl or 6, zlib.DEFLATED, 16 + 15)  # gzip member framing
        return co.compress(data) + co.flush()
    raise ValueError(f"unsupported codec id {codec}")


def decompress(data, codec: int, uncompressed_size: int):
    """Inflate one page body.

    Returns a bytes-like buffer, not a ``bytes`` copy: ``data`` itself
    for UNCOMPRESSED, else an unsigned-byte ``memoryview`` of the
    decompressed buffer (``bytes`` from the zlib fallback)."""
    if codec == UNCOMPRESSED:
        return data
    if codec == LZ4:
        return _lz4_hadoop_decompress(data, uncompressed_size)
    if codec in _PA_NAMES:
        try:
            return byte_view(pa.Codec(_PA_NAMES[codec])
                               .decompress(data, uncompressed_size))
        except (ValueError, NotImplementedError):
            if codec != GZIP:
                raise
    if codec == GZIP:
        return zlib.decompress(data, 16 + 15)
    raise ValueError(f"unsupported codec id {codec}")
