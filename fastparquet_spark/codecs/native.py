"""Optional C fast path for the FSST encode kernel.

The reference keeps its hot byte loops in compiled Cython
(fastparquet/cencoding.pyx); our equivalent is a ~80-line C kernel
compiled ON FIRST USE with the system compiler into a cached shared
library and called through ctypes.  It implements the identical
greedy longest-match scan as the pure-numpy encoder in fsst.py and
produces BIT-IDENTICAL output (asserted by differential tests), so it
is a drop-in accelerator: if no compiler is present, compilation
fails, or the platform is exotic, callers silently fall back to the
vectorized numpy path.

Concurrency: Spark executor workers share the cache directory; the
compile writes to a unique temp name and publishes via atomic rename,
so racing workers at worst compile twice and agree on the result.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

_C_SRC = r"""
#include <stdint.h>
#include <string.h>

/* Greedy longest-match FSST encode.
 *
 * lut16 : 65536 x int16, head symbol id for a 2-byte prefix, -1 = none
 * nxt   : per symbol, next (shorter) symbol sharing the prefix, -1 = end
 * lens/vals/masks : symbol byte length, little-endian value, low-bytes mask
 * codes : output code byte per symbol
 * resv  : 256 x uint8, 1 for reserved byte values (escape + codes)
 * out   : caller-allocated, capacity >= 2*n
 * returns number of bytes written
 */
long fsst_encode_c(const uint8_t *in, long n, uint8_t *out,
                   const int16_t *lut16, const int64_t *nxt,
                   const int64_t *lens, const uint64_t *vals,
                   const uint64_t *masks, const uint8_t *codes,
                   uint8_t escape, const uint8_t *resv)
{
    long i = 0, o = 0;
    while (i < n) {
        if (i + 1 < n) {
            int16_t s = lut16[((uint16_t)in[i] << 8) | in[i + 1]];
            if (s >= 0) {
                uint64_t win;
                if (i + 8 <= n) {
                    memcpy(&win, in + i, 8);
                } else {
                    win = 0;
                    memcpy(&win, in + i, (size_t)(n - i));
                }
                do {
                    if ((win & masks[s]) == vals[s] && i + lens[s] <= n) {
                        out[o++] = codes[s];
                        i += lens[s];
                        goto next;
                    }
                    s = (int16_t)nxt[s];
                } while (s >= 0);
            }
        }
        if (resv[in[i]]) {
            out[o++] = escape;
            out[o++] = in[i++];
        } else {
            out[o++] = in[i++];
        }
next:   ;
    }
    return o;
}

/* FSST decode: escape pairs -> literal, code bytes -> symbol expansion.
 *
 * code_lut : 256 x int16, symbol id for a code byte, -1 = literal
 * sym_data / sym_off / sym_len : flattened symbol bytes
 * out capacity must be >= 8*n (max symbol length per input byte)
 * returns number of bytes written
 */
long fsst_decode_c(const uint8_t *in, long n, uint8_t *out,
                   const int16_t *code_lut, const uint8_t *sym_data,
                   const int64_t *sym_off, const int64_t *sym_len,
                   uint8_t escape)
{
    long i = 0, o = 0;
    while (i < n) {
        uint8_t b = in[i];
        if (b == escape) {
            if (i + 1 < n)
                out[o++] = in[i + 1];
            i += 2;
        } else {
            int16_t s = code_lut[b];
            if (s >= 0) {
                memcpy(out + o, sym_data + sym_off[s], (size_t)sym_len[s]);
                o += sym_len[s];
            } else {
                out[o++] = b;
            }
            i++;
        }
    }
    return o;
}

/* DELTA_BINARY_PACKED decode: header varints + per-block min_delta /
 * widths / bit-packed miniblocks, values reconstructed by prefix sum.
 * out capacity must be >= total header count.  Returns the position
 * after the consumed payload, or -1 on malformed input. */
static uint64_t dbp_uvarint(const uint8_t *in, long n, long *pos)
{
    uint64_t v = 0;
    int shift = 0;
    while (*pos < n) {
        uint8_t b = in[(*pos)++];
        v |= ((uint64_t)(b & 0x7F)) << shift;
        if (!(b & 0x80))
            return v;
        shift += 7;
        if (shift > 63)
            break;
    }
    return v;
}

long delta_unpack_c(const uint8_t *in, long n, long pos, int64_t *out,
                    long expect_total)
{
    uint64_t block_size = dbp_uvarint(in, n, &pos);
    uint64_t miniblocks = dbp_uvarint(in, n, &pos);
    uint64_t total = dbp_uvarint(in, n, &pos);
    uint64_t zz = dbp_uvarint(in, n, &pos);
    /* unsigned accumulation throughout: int64 overflow is DEFINED
     * modular behaviour in the format (our encoder wraps at the type
     * width) but UB for signed C arithmetic */
    uint64_t value = (zz >> 1) ^ (uint64_t)(-(int64_t)(zz & 1));
    long vpm, written = 0, ndeltas, i;
    if (miniblocks == 0 || block_size % miniblocks || total != (uint64_t)expect_total)
        return -1;
    vpm = (long)(block_size / miniblocks);
    if (total == 0)
        return pos;
    out[written++] = (int64_t)value;
    ndeltas = (long)total - 1;
    while (ndeltas > 0) {
        uint64_t mdzz = dbp_uvarint(in, n, &pos);
        uint64_t min_delta = (mdzz >> 1) ^ (uint64_t)(-(int64_t)(mdzz & 1));
        const uint8_t *widths = in + pos;
        if (pos + (long)miniblocks > n)
            return -1;
        pos += (long)miniblocks;
        for (i = 0; i < (long)miniblocks && ndeltas > 0; i++) {
            int w = widths[i];
            long take = ndeltas < vpm ? ndeltas : vpm;
            if (w == 0) {
                long j;
                for (j = 0; j < take; j++) {
                    value += min_delta;
                    out[written++] = (int64_t)value;
                }
            } else if (w >= 64) {
                long j, bytes = 8 * vpm;
                if (pos + bytes > n)
                    return -1;
                for (j = 0; j < vpm; j++) {
                    uint64_t d;
                    memcpy(&d, in + pos, 8);
                    pos += 8;
                    if (j < take) {
                        value += min_delta + d;
                        out[written++] = (int64_t)value;
                    }
                }
            } else {
                uint64_t acc = 0;
                int nbits = 0;
                long j, bytes = ((long)w * vpm) >> 3;
                uint64_t mask = (1ULL << w) - 1;
                if (w > 57)
                    return -2;  /* accumulator can't span; caller falls back */
                if (pos + bytes > n)
                    return -1;
                for (j = 0; j < vpm; j++) {
                    while (nbits < w) {
                        acc |= ((uint64_t)in[pos++]) << nbits;
                        nbits += 8;
                    }
                    if (j < take) {
                        value += min_delta + (acc & mask);
                        out[written++] = (int64_t)value;
                    }
                    acc >>= w;
                    nbits -= w;
                }
            }
            ndeltas -= take;
        }
    }
    return pos;
}

/* DELTA_BINARY_PACKED encode: mirrors the numpy encoder BIT-EXACTLY
 * (block 128 / 4 miniblocks of 32, zigzag varint header and
 * min_deltas, exact bit widths, LSB-first packing, stored deltas
 * masked to the type width).  Streams with any miniblock width >57
 * return -2 (accumulator limit) and the caller falls back to numpy.
 * out capacity: 40 + nblocks*(14 + 4 + 128*8) is always enough. */
static long dbp_putuv(uint8_t *out, long o, uint64_t v)
{
    while (v > 127) {
        out[o++] = (uint8_t)((v & 0x7F) | 0x80);
        v >>= 7;
    }
    out[o++] = (uint8_t)v;
    return o;
}

long delta_pack_c(const int64_t *v, long n, uint8_t *out, int bit_width)
{
    long o = 0, nd = n - 1, b, i, j;
    uint64_t span_mask = bit_width >= 64 ? ~0ULL
        : ((1ULL << bit_width) - 1);
    uint64_t half = bit_width >= 64 ? 0 : (1ULL << (bit_width - 1));
    o = dbp_putuv(out, o, 128);
    o = dbp_putuv(out, o, 4);
    o = dbp_putuv(out, o, (uint64_t)n);
    {
        uint64_t f = n ? (uint64_t)v[0] : 0;
        o = dbp_putuv(out, o, n ? ((f << 1) ^ (uint64_t)((int64_t)f >> 63)) : 0);
    }
    if (nd <= 0)
        return o;
    for (b = 0; b < nd; b += 128) {
        long nreal = nd - b < 128 ? nd - b : 128;
        int64_t mind = 0;
        int first = 1;
        int64_t deltas[128];
        uint64_t shifted[128];
        for (i = 0; i < nreal; i++) {
            uint64_t d = (uint64_t)v[b + i + 1] - (uint64_t)v[b + i];
            if (bit_width < 64)  /* modular wrap into the signed range */
                d = ((d + half) & span_mask) - half;
            deltas[i] = (int64_t)d;
            if (first || deltas[i] < mind) {
                mind = deltas[i];
                first = 0;
            }
        }
        for (i = 0; i < nreal; i++) {
            uint64_t s = (uint64_t)deltas[i] - (uint64_t)mind;
            shifted[i] = bit_width < 64 ? (s & span_mask) : s;
        }
        for (i = nreal; i < 128; i++)
            shifted[i] = 0;
        {
            uint64_t zzm = ((uint64_t)mind << 1) ^ (uint64_t)(mind >> 63);
            long used = (nreal + 31) / 32;
            int widths[4];
            long wo;
            o = dbp_putuv(out, o, zzm);
            for (i = 0; i < 4; i++) {
                uint64_t mx = 0;
                widths[i] = 0;
                if (i < used) {
                    for (j = 0; j < 32; j++)
                        if (shifted[i * 32 + j] > mx)
                            mx = shifted[i * 32 + j];
                    while (mx) {
                        widths[i]++;
                        mx >>= 1;
                    }
                }
                if (widths[i] > 57)
                    return -2;
            }
            wo = o;
            for (i = 0; i < 4; i++)
                out[o++] = (uint8_t)widths[i];
            (void)wo;
            for (i = 0; i < 4; i++) {
                int w = widths[i];
                uint64_t acc = 0;
                int nbits = 0;
                if (!w)
                    continue;
                for (j = 0; j < 32; j++) {
                    acc |= (shifted[i * 32 + j] & ((1ULL << w) - 1)) << nbits;
                    nbits += w;
                    while (nbits >= 8) {
                        out[o++] = (uint8_t)acc;
                        acc >>= 8;
                        nbits -= 8;
                    }
                }
            }
        }
    }
    return o;
}

/* LSB-first bit pack/unpack at widths 1..57 (past 57 the 64-bit
 * accumulator cannot hold a value plus carry bits; callers fall back
 * to the vectorized numpy paths, as for the delta kernels). */
long pack_bits_c(const uint64_t *v, long n, int w, uint8_t *out)
{
    uint64_t acc = 0;
    int nbits = 0;
    long i, o = 0;
    uint64_t mask = (1ULL << w) - 1;
    for (i = 0; i < n; i++) {
        acc |= (v[i] & mask) << nbits;
        nbits += w;
        while (nbits >= 8) {
            out[o++] = (uint8_t)acc;
            acc >>= 8;
            nbits -= 8;
        }
    }
    if (nbits)
        out[o++] = (uint8_t)acc;
    return o;
}

void unpack_bits_c(const uint8_t *in, long nbytes, int w, uint64_t *out,
                   long count)
{
    uint64_t acc = 0;
    int nbits = 0;
    long i, pos = 0;
    uint64_t mask = (1ULL << w) - 1;
    for (i = 0; i < count; i++) {
        while (nbits < w) {
            acc |= (pos < nbytes ? (uint64_t)in[pos] : 0) << nbits;
            pos++;
            nbits += 8;
        }
        out[i] = acc & mask;
        acc >>= w;
        nbits -= w;
    }
}

/* RLE/bit-packed HYBRID encode with run detection (parquet "RLE").
 * Mirrors rle.py's encode_hybrid exactly (bit-identical output,
 * asserted by differential tests): runs of >= min_run identical
 * values become RLE runs, aligned so every mid-stream bit-packed run
 * holds a multiple of 8 values; the trailing bit-packed run is
 * zero-padded to a full group of 8.  v values must be < 2^w, w 1..57.
 * out capacity: see encode_hybrid_native.  Returns bytes written. */
static long put_uvarint(uint8_t *out, long o, uint64_t x)
{
    while (x >= 0x80) {
        out[o++] = (uint8_t)(x | 0x80);
        x >>= 7;
    }
    out[o++] = (uint8_t)x;
    return o;
}

long encode_hybrid_c(const uint64_t *v, long n, int w, long min_run,
                     uint8_t *out)
{
    long i = 0, pos = 0, o = 0;
    int vbytes = (w + 7) / 8, b;
    while (i < n) {
        long j = i + 1, len, extra, s2, ln2;
        uint64_t val;
        while (j < n && v[j] == v[i])
            j++;
        len = j - i;
        if (len >= min_run) {
            extra = (8 - ((i - pos) & 7)) & 7;
            s2 = i + extra;
            ln2 = len - extra;
            if (ln2 >= min_run) {
                if (s2 > pos) {
                    o = put_uvarint(out, o,
                                    ((uint64_t)((s2 - pos) / 8) << 1) | 1);
                    o += pack_bits_c(v + pos, s2 - pos, w, out + o);
                }
                o = put_uvarint(out, o, (uint64_t)ln2 << 1);
                val = v[s2];
                for (b = 0; b < vbytes; b++) {
                    out[o++] = (uint8_t)(val & 0xff);
                    val >>= 8;
                }
                pos = s2 + ln2;
            }
        }
        i = j;
    }
    if (pos < n) {
        long rem = n - pos, groups = (rem + 7) / 8, rbytes, written;
        o = put_uvarint(out, o, ((uint64_t)groups << 1) | 1);
        written = pack_bits_c(v + pos, rem, w, out + o);
        /* pad to the full group: trailing pad values are zeros, and
         * pack_bits_c already zeroed the final partial byte's high
         * bits, so the remaining pad bytes are plain zeros */
        rbytes = groups * w;
        while (written < rbytes)
            out[o + written++] = 0;
        o += rbytes;
    }
    return o;
}

/* PLAIN BYTE_ARRAY framing: <u4 len><bytes>... (write side).
 * out capacity must be >= 4*n + sum(lens).  Returns bytes written. */
long pack_byte_array_c(const int64_t *lens, long n, const uint8_t *data,
                       uint8_t *out)
{
    long o = 0, d = 0, i;
    for (i = 0; i < n; i++) {
        uint32_t L = (uint32_t)lens[i];
        memcpy(out + o, &L, 4);
        o += 4;
        memcpy(out + o, data + d, (size_t)L);
        o += L;
        d += L;
    }
    return o;
}

/* PLAIN BYTE_ARRAY framing (read side): parses `count` strings from
 * buf[pos..], writing lengths and the concatenated payload.  Returns
 * the position after the last string, or -1 on overrun. */
long unpack_byte_array_c(const uint8_t *buf, long bufn, long pos,
                         long count, int64_t *lens, uint8_t *data_out)
{
    long d = 0, i;
    for (i = 0; i < count; i++) {
        uint32_t L;
        if (pos + 4 > bufn)
            return -1;
        memcpy(&L, buf + pos, 4);
        pos += 4;
        if (pos + (long)L > bufn)
            return -1;
        memcpy(data_out + d, buf + pos, (size_t)L);
        lens[i] = (int64_t)L;
        pos += L;
        d += L;
    }
    return pos;
}

/* XXH64 (public-domain algorithm; constants from the published spec),
 * one hash per variable-length value concatenated in `data`. */
#define XP1 0x9E3779B185EBCA87ULL
#define XP2 0xC2B2AE3D27D4EB4FULL
#define XP3 0x165667B19E3779F9ULL
#define XP4 0x85EBCA77C2B2AE63ULL
#define XP5 0x27D4EB2F165667C5ULL
static uint64_t xrotl(uint64_t x, int r) { return (x << r) | (x >> (64 - r)); }
static uint64_t xround(uint64_t acc, uint64_t lane)
{
    acc += lane * XP2;
    return xrotl(acc, 31) * XP1;
}
static uint64_t xread64(const uint8_t *p) { uint64_t v; memcpy(&v, p, 8); return v; }
static uint64_t xread32(const uint8_t *p) { uint32_t v; memcpy(&v, p, 4); return v; }

static uint64_t xxh64_one(const uint8_t *p, long n, uint64_t seed)
{
    const uint8_t *end = p + n;
    uint64_t h;
    if (n >= 32) {
        uint64_t v1 = seed + XP1 + XP2, v2 = seed + XP2,
                 v3 = seed, v4 = seed - XP1;
        const uint8_t *limit = end - 32;
        do {
            v1 = xround(v1, xread64(p)); p += 8;
            v2 = xround(v2, xread64(p)); p += 8;
            v3 = xround(v3, xread64(p)); p += 8;
            v4 = xround(v4, xread64(p)); p += 8;
        } while (p <= limit);
        h = xrotl(v1, 1) + xrotl(v2, 7) + xrotl(v3, 12) + xrotl(v4, 18);
        h = (h ^ xround(0, v1)) * XP1 + XP4;
        h = (h ^ xround(0, v2)) * XP1 + XP4;
        h = (h ^ xround(0, v3)) * XP1 + XP4;
        h = (h ^ xround(0, v4)) * XP1 + XP4;
    } else {
        h = seed + XP5;
    }
    h += (uint64_t)n;
    while (p + 8 <= end) {
        h = xrotl(h ^ xround(0, xread64(p)), 27) * XP1 + XP4;
        p += 8;
    }
    if (p + 4 <= end) {
        h = xrotl(h ^ (xread32(p) * XP1), 23) * XP2 + XP3;
        p += 4;
    }
    while (p < end) {
        h = xrotl(h ^ (*p * XP5), 11) * XP1;
        p++;
    }
    h ^= h >> 33; h *= XP2; h ^= h >> 29; h *= XP3; h ^= h >> 32;
    return h;
}

void xxh64_many_c(const int64_t *lens, long n, const uint8_t *data,
                  uint64_t seed, uint64_t *out)
{
    long i, pos = 0;
    for (i = 0; i < n; i++) {
        out[i] = xxh64_one(data + pos, lens[i], seed);
        pos += lens[i];
    }
}
"""

_lib = None
_lib_tried = False


def _uid() -> int:
    return os.getuid() if hasattr(os, "getuid") else 0


def _cache_dir() -> str:
    # Per-user, never a shared world-writable location: loading a .so from
    # a predictable path another user can pre-create is arbitrary code
    # execution in every importing process.
    env = os.environ.get("FPS_NATIVE_CACHE")
    if env:
        return env
    home = os.path.expanduser("~")
    if home and home != "~" and os.path.isdir(home):
        return os.path.join(home, ".cache", "fastparquet_spark_native")
    return os.path.join(tempfile.gettempdir(),
                        f"fastparquet_spark_native-uid{_uid()}")


def _owned_and_private(path: str) -> bool:
    """True iff *path* exists, is owned by us, and not group/other-writable."""
    try:
        st = os.stat(path)
    except OSError:
        return False
    return st.st_uid == _uid() and not (st.st_mode & 0o022)


def _load() -> ctypes.CDLL | None:
    global _lib, _lib_tried
    if _lib_tried:
        return _lib
    _lib_tried = True
    if os.environ.get("FPS_DISABLE_NATIVE"):
        return None
    try:
        tag = hashlib.sha256(_C_SRC.encode()).hexdigest()[:16]
        cache = _cache_dir()
        so_path = os.path.join(cache, f"fsst_{tag}.so")
        os.makedirs(cache, mode=0o700, exist_ok=True)
        if not _owned_and_private(cache):
            return None  # someone else owns the dir or it's writable by others
        if not os.path.exists(so_path):
            # unique temp names for BOTH the source and the object so a
            # racer (or attacker) can't swap contents between write and use
            fd, src_path = tempfile.mkstemp(suffix=".c", prefix=f"fsst_{tag}_",
                                            dir=cache)
            with os.fdopen(fd, "w") as f:
                f.write(_C_SRC)
            tmp = os.path.join(cache, f".fsst_{tag}.{os.getpid()}.so.tmp")
            try:
                subprocess.run(
                    ["cc", "-O3", "-shared", "-fPIC", "-o", tmp, src_path],
                    check=True, capture_output=True, timeout=60)
                os.chmod(tmp, 0o700)  # owner-only regardless of umask
                os.replace(tmp, so_path)  # atomic publish; racers agree
            finally:
                for p in (src_path, tmp):
                    try:
                        os.unlink(p)
                    except OSError:
                        pass
        if not _owned_and_private(so_path):
            return None  # refuse to load a library we don't own
        lib = ctypes.CDLL(so_path)
        lib.fsst_encode_c.restype = ctypes.c_long
        lib.fsst_encode_c.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p,
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
            ctypes.c_uint8, ctypes.c_void_p,
        ]
        lib.fsst_decode_c.restype = ctypes.c_long
        lib.fsst_decode_c.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p,
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
            ctypes.c_void_p, ctypes.c_uint8,
        ]
        lib.pack_byte_array_c.restype = ctypes.c_long
        lib.pack_byte_array_c.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p, ctypes.c_void_p]
        lib.delta_unpack_c.restype = ctypes.c_long
        lib.delta_unpack_c.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_long, ctypes.c_void_p,
            ctypes.c_long]
        lib.delta_pack_c.restype = ctypes.c_long
        lib.delta_pack_c.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p, ctypes.c_int]
        lib.encode_hybrid_c.restype = ctypes.c_long
        lib.encode_hybrid_c.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_int, ctypes.c_long,
            ctypes.c_void_p]
        lib.pack_bits_c.restype = ctypes.c_long
        lib.pack_bits_c.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_int, ctypes.c_void_p]
        lib.unpack_bits_c.restype = None
        lib.unpack_bits_c.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_int, ctypes.c_void_p,
            ctypes.c_long]
        lib.unpack_byte_array_c.restype = ctypes.c_long
        lib.unpack_byte_array_c.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_long, ctypes.c_long,
            ctypes.c_void_p, ctypes.c_void_p]
        lib.xxh64_many_c.restype = None
        lib.xxh64_many_c.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p,
            ctypes.c_uint64, ctypes.c_void_p]
        _lib = lib
    except Exception:
        _lib = None  # no compiler / sandboxed exec / unsupported platform
    return _lib


def fsst_encode_native(buf, plan, escape: int):
    """C-kernel encode of a contiguous uint8 array; a uint8 view of the
    output, or None if unavailable.

    ``plan`` is fsst.py's _EncodePlan (lut16s/nxt/lens/vals/masks/
    out_codes/reserved arrays); output is bit-identical to the numpy
    path's."""
    import numpy as np

    lib = _load()
    if lib is None:
        return None
    n = len(buf)
    out = np.empty(2 * n + 8, dtype=np.uint8)
    written = lib.fsst_encode_c(
        buf.ctypes.data, n, out.ctypes.data,
        plan.lut16s.ctypes.data, plan.nxt.ctypes.data,
        plan.lens.ctypes.data, plan.vals.ctypes.data,
        plan.masks.ctypes.data, plan.out_codes.ctypes.data,
        escape, plan.reserved.ctypes.data)
    return out[:written]


def pack_byte_array_native(lengths, data, head=b""):
    """C framing of <u4 len><bytes>... behind ``head`` in ONE uint8
    array (a v1 page's level bytes go in front of its values without a
    second copy of the page); None if unavailable."""
    import numpy as np

    lib = _load()
    if lib is None:
        return None
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    data = np.ascontiguousarray(data, dtype=np.uint8)
    n = len(lengths)
    h = len(head)
    out = np.empty(h + 4 * n + int(lengths.sum()), dtype=np.uint8)
    out[:h] = np.frombuffer(head, np.uint8)
    written = lib.pack_byte_array_c(lengths.ctypes.data, n,
                                    data.ctypes.data, out.ctypes.data + h)
    return out[:h + written]


def unpack_byte_array_native(buf, count: int, offset: int):
    """C parse of <u4 len><bytes>...; (lengths, data, next_pos) or None."""
    import numpy as np

    lib = _load()
    if lib is None:
        return None
    src = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) \
        else np.ascontiguousarray(buf, dtype=np.uint8)
    lens = np.empty(count, dtype=np.int64)
    data = np.empty(max(len(src) - offset, 0), dtype=np.uint8)
    pos = lib.unpack_byte_array_c(src.ctypes.data, len(src), offset, count,
                                  lens.ctypes.data, data.ctypes.data)
    if pos < 0:
        raise ValueError("byte-array framing overruns the page buffer")
    return lens, data[: int(lens.sum())], int(pos)


def encode_hybrid_native(values, width: int, min_run: int):
    """C RLE/bit-packed hybrid encode (widths 1..57); uint8 array or None.

    Bit-identical to rle.py's numpy run-detection path at the same
    ``min_run`` — the levels/dictionary-codes hot loop of every write,
    where the per-emitted-run Python loop costs 10-100x on run-dense
    inputs (measured: 0.03 GB/s numpy vs multi-GB/s here on 90%-ones
    definition levels)."""
    import numpy as np

    lib = _load()
    if lib is None or width > 57 or width < 1:
        return None
    v = np.ascontiguousarray(values, dtype="<u8")
    n = len(v)
    # capacity: all-bitpacked bytes + worst-case run headers + RLE
    # value bytes (one RLE run per min_run values, headers <= 10 each)
    cap = (n // 8 + 2) * width + (n // max(min_run, 1) + 2) * 28 + 32
    out = np.empty(cap, dtype=np.uint8)
    written = lib.encode_hybrid_c(v.ctypes.data, n, width, min_run,
                                  out.ctypes.data)
    return out[:written]


def pack_bits_native(values, width: int):
    """C LSB-first bit pack (widths 1..57); uint8 array or None."""
    import numpy as np

    lib = _load()
    if lib is None or width > 57:
        return None
    v = np.ascontiguousarray(values, dtype="<u8")
    out = np.empty((len(v) * width + 7) // 8, dtype=np.uint8)
    written = lib.pack_bits_c(v.ctypes.data, len(v), width, out.ctypes.data)
    return out[:written]


def unpack_bits_native(buf, width: int, count: int, offset: int):
    """C LSB-first bit unpack (widths 1..57); uint64 array or None."""
    import numpy as np

    lib = _load()
    if lib is None or width > 57:
        return None
    nbytes = (count * width + 7) // 8
    src = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) \
        else np.ascontiguousarray(buf, dtype=np.uint8)
    if offset:
        src = src[offset:]
    src = np.ascontiguousarray(src[:nbytes])
    out = np.empty(count, dtype=np.uint64)
    lib.unpack_bits_c(src.ctypes.data, len(src), width, out.ctypes.data, count)
    return out


def delta_pack_native(values, bit_width: int):
    """C DELTA_BINARY_PACKED encode; uint8 array, or None when unavailable or
    a miniblock needs >57-bit packing (caller falls back to numpy —
    whose output is bit-identical where both run)."""
    import numpy as np

    lib = _load()
    if lib is None:
        return None
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = len(v)
    nblocks = max((n - 1 + 127) // 128, 0) if n else 0
    out = np.empty(48 + nblocks * (20 + 4 + 128 * 8), dtype=np.uint8)
    written = lib.delta_pack_c(v.ctypes.data, n, out.ctypes.data, bit_width)
    if written == -2:
        return None
    return out[:written]


def delta_unpack_native(buf, offset: int, total: int):
    """C DELTA_BINARY_PACKED decode from ``offset``; returns
    (int64 values, next_pos) or None when unavailable / the stream
    uses >57-bit miniblock widths (accumulator limit — caller falls
    back to the vectorized numpy path)."""
    import numpy as np

    lib = _load()
    if lib is None:
        return None
    src = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) \
        else np.ascontiguousarray(buf, dtype=np.uint8)
    out = np.empty(total, dtype=np.int64)
    pos = lib.delta_unpack_c(src.ctypes.data, len(src), offset,
                             out.ctypes.data, total)
    if pos == -2:
        return None
    if pos < 0:
        raise ValueError("malformed DELTA_BINARY_PACKED stream")
    return out, int(pos)


def fsst_decode_native(buf, dplan, escape: int):
    """C-kernel decode of a contiguous uint8 array; None if unavailable.

    ``dplan`` is fsst.py's _DecodePlan (code_lut/sym_data/sym_off/
    sym_len); output is bit-identical to the numpy path's."""
    import numpy as np

    lib = _load()
    if lib is None:
        return None
    n = len(buf)
    out = np.empty(8 * n + 16, dtype=np.uint8)
    written = lib.fsst_decode_c(
        buf.ctypes.data, n, out.ctypes.data,
        dplan.code_lut.ctypes.data, dplan.sym_data.ctypes.data,
        dplan.sym_off.ctypes.data, dplan.sym_len.ctypes.data, escape)
    return out[:written]


def xxh64_many_native(lengths, data, seed: int = 0):
    """C XXH64 per concatenated variable-length value; None if unavailable."""
    import numpy as np

    lib = _load()
    if lib is None:
        return None
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    data = np.ascontiguousarray(data, dtype=np.uint8)
    out = np.empty(len(lengths), dtype=np.uint64)
    lib.xxh64_many_c(lengths.ctypes.data, len(lengths), data.ctypes.data,
                     ctypes.c_uint64(seed), out.ctypes.data)
    return out
